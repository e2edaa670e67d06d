"""Tests of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench -q

Each case starts Spark, so a case takes about a minute.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = ["--seed", "3", "--seconds", "1", "--size", "tiny"]


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_declared_metric_is_printed_with_its_unit(workload, trace, section):
    r = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--trace", str(trace), *TINY],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    res = _last_json(r.stdout)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2, res
    declared = {m["name"]: m["unit"] for m in SPEC[section]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == declared
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())


def test_a_dropped_link_row_is_counted_as_failed(monkeypatch, capsys):
    import run

    read_links = run.read_links
    monkeypatch.setattr(run, "read_links", lambda dfs: read_links(dfs)[1:])
    assert run.main(["--workload", "kg_delta", "--trace", "0", *TINY]) == 0
    res = _last_json(capsys.readouterr().out)
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 2


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_delta", "--trace", "0", *TINY],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout


def test_self_time_subtracts_the_union_of_child_spans():
    from spans import Span, Tracer

    t = Tracer()
    t.spans = [
        Span("job", 0.0, 10.0, job=0),
        Span("links", 1.0, 9.0, job=0),
        Span("links.shared", 2.0, 4.0, stage="links", job=0),
        Span("storage.write", 3.0, 6.0, stage="links", job=0),
        Span("storage.read", 9.0, 9.5, job=0),
    ]
    m = t.job_metrics(0)
    assert m["links.busy_s"] == 8.0
    assert m["links.self_s"] == 4.0  # 8 s minus the 4 s that [2, 6] covers
    assert m["pipeline.self_s"] == 1.5  # 10 s minus links [1, 9] and the read
    assert m["links.shared_calls"] == 1.0
