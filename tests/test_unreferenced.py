"""Code goes when nothing but its tests needs it (ROADMAP aim 2).

Every top-level function, class and constant of ``reden_spark/`` must be
referenced by some non-test source: the package itself, ``perfbench/`` (its
``test_*.py`` files excluded) or ``__spark_entry__.py``. A reference is a
name, an attribute, an imported name or a string literal equal to the name
(``perfbench/spans.py`` wraps functions by their name as a string). Parses
the sources only; no Spark.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _sources() -> list[Path]:
    bench = [p for p in (ROOT / "perfbench").rglob("*.py") if not p.name.startswith("test_")]
    return sorted((ROOT / "reden_spark").rglob("*.py")) + sorted(bench) + [ROOT / "__spark_entry__.py"]


def _definitions(tree: ast.Module) -> dict[str, ast.stmt]:
    """Top-level functions, classes and assigned names of one module."""
    out: dict[str, ast.stmt] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        out[n.id] = node
    return {name: node for name, node in out.items() if not (name.startswith("__") and name.endswith("__"))}


def _references(tree: ast.Module) -> set[str]:
    """Names one module uses; assigning a name is not a use of it."""
    refs: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            refs.add(node.value)
    return refs


def test_every_top_level_name_has_a_non_test_reference():
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _sources()}
    defined = {
        p: _definitions(tree) for p, tree in trees.items() if (ROOT / "reden_spark") in p.parents
    }
    used = set().union(*(_references(tree) for tree in trees.values()))
    unused = sorted(
        f"{p.relative_to(ROOT)}:{node.lineno} {name}"
        for p, names in defined.items()
        for name, node in names.items()
        if name not in used
    )
    assert not unused, "top-level names only tests use:\n" + "\n".join(unused)
