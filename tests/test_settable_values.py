"""A knob goes once nothing needs a second value (ROADMAP aim 2).

Counts the independently settable values of ``reden_spark/``:

* parameters with a default, on top-level functions and on methods of
  top-level classes;
* fields with a default on dataclasses;
* environment-variable reads (``os.environ.get``, ``os.environ[...]``,
  ``os.getenv``);
* optional ``--flags`` in ``add_argument`` calls (``required=True`` ones are
  inputs, not knobs).

The count may not rise above ``CEILING``. A change that adds a knob two
existing callers need with different values raises the ceiling and says why
in CHANGES.md. Parses the sources only; no Spark.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

CEILING = 50


def _functions(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node
        elif isinstance(node, ast.ClassDef):
            yield from (m for m in node.body if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)))


def _is_dataclass(node: ast.ClassDef) -> bool:
    return any("dataclass" in ast.unparse(d) for d in node.decorator_list)


def _optional_flag(call: ast.Call) -> bool:
    if not (isinstance(call.func, ast.Attribute) and call.func.attr == "add_argument" and call.args):
        return False
    first = call.args[0]
    if not (isinstance(first, ast.Constant) and str(first.value).startswith("--")):
        return False
    return not any(
        k.arg == "required" and isinstance(k.value, ast.Constant) and k.value.value is True
        for k in call.keywords
    )


def _settable(tree: ast.Module) -> list[tuple[int, str]]:
    """(line, what) for each settable value of one module."""
    out = []
    for f in _functions(tree):
        args = f.args.posonlyargs + f.args.args
        named = args[len(args) - len(f.args.defaults):]
        named += [a for a, d in zip(f.args.kwonlyargs, f.args.kw_defaults) if d is not None]
        out += [(f.lineno, f"{f.name}({a.arg}=)") for a in named]
    for node in tree.body:
        if isinstance(node, ast.ClassDef) and _is_dataclass(node):
            out += [
                (m.lineno, f"{node.name}.{ast.unparse(m.target)}")
                for m in node.body
                if isinstance(m, ast.AnnAssign) and m.value is not None
            ]
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            if ast.unparse(node.func) in ("os.environ.get", "os.getenv", "getenv"):
                out.append((node.lineno, ast.unparse(node)))
            elif _optional_flag(node):
                out.append((node.lineno, node.args[0].value))
        elif (
            isinstance(node, ast.Subscript)
            and isinstance(node.ctx, ast.Load)
            and ast.unparse(node.value) == "os.environ"
        ):
            out.append((node.lineno, ast.unparse(node)))
    return out


def test_settable_values_stay_under_the_ceiling():
    found = [
        f"{p.relative_to(ROOT)}:{line} {what}"
        for p in sorted((ROOT / "reden_spark").rglob("*.py"))
        for line, what in _settable(ast.parse(p.read_text(), str(p)))
    ]
    assert len(found) <= CEILING, (
        f"{len(found)} settable values in reden_spark/, ceiling {CEILING}. A knob with one "
        "value in use is a constant, and one the code can observe is derived (the Options "
        "rule of the simplicity-review guide). If two existing callers need different "
        "values, raise CEILING and say why in CHANGES.md.\n" + "\n".join(found)
    )
