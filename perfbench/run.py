"""reden-spark benchmark: one command per workload, seeded inputs, checked
outputs, one JSON result line.

    python3 perfbench/run.py --workload kg_delta --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``:
with ``--trace 0`` the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics. The line before it is a ``detail``
object with the effective Spark conf, ``nproc``, every job's wall time and
the 1-minute load average before and after each job.

One run is: generate (or reuse) the seed's inputs in a child process; start a
session and register the inputs while a fresh probe process does the same;
run one cold job; then run warm jobs, at least one, until their summed wall
time reaches ``--seconds``. Every job's outputs are checked after the job, outside its
timed span. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import prepare  # noqa: E402
import spark_setup  # noqa: E402
from spans import STAGE_FIELDS, STAGES, Tracer, event_metrics  # noqa: E402

SETUP_PROBES = 1  # fresh-process set-ups besides the measured process's own
WORKLOADS = ("kg_delta", "curation")


@dataclass
class Job:
    index: int
    wall_s: float = 0.0
    ok: bool = False
    error: str = ""
    load_before: float = 0.0
    load_after: float = 0.0
    start: float = 0.0
    end: float = 0.0


def _digest(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()


def _normalize(row: dict) -> tuple:
    """Engine-neutral form of a result row: columns by name, floats to 6
    places, every value as text (the contract tests' comparison)."""
    return tuple(
        str(round(row[k], 6) if isinstance(row[k], float) else row[k]) for k in sorted(row)
    )


def _program_digest() -> str:
    """Digest of the program's Python sources in this checkout."""
    h = hashlib.sha256()
    for path in sorted((ROOT / "reden_spark").rglob("*.py")):
        h.update(path.relative_to(ROOT).as_posix().encode() + b"\0" + path.read_bytes())
    return h.hexdigest()[:16]


def read_links(dfs) -> list[tuple]:
    cols = ["conv_id", "turn_idx", "occ_idx", "mention", "chosen_uris", "score", "path"]
    return [tuple(r) for r in dfs["links"].select(*cols).collect()]


def read_triples(dfs) -> list[tuple]:
    return [tuple(r) for r in dfs["triples"].select("subj", "pred", "obj").collect()]


def read_packed(dfs) -> list[tuple]:
    return [_normalize(r.asDict()) for r in dfs["packed"].collect()]


class DigestLog:
    """Digests of each (workload, size, seed, part) output, kept in the
    checkout between runs: the same seed must give the same outputs."""

    def __init__(self, key: str):
        self.path = prepare.WORK / "digests" / f"{key}.json"
        self.seen = json.loads(self.path.read_text()) if self.path.exists() else {}

    def check(self, part: str, digest: str) -> bool:
        return self.seen.setdefault(part, digest) == digest

    def save(self) -> None:
        self.path.parent.mkdir(parents=True, exist_ok=True)
        tmp = self.path.with_suffix(".tmp")
        tmp.write_text(json.dumps(self.seen))
        tmp.replace(self.path)


# ---------------------------------------------------------------------------
# workloads: run one job, check its outputs, report workload-specific counters
# ---------------------------------------------------------------------------


class KGDelta:
    """Closed loop, one client: the checkpointed KG pipeline over a rotating
    set of distinct deltas, each into a fresh output directory."""

    def __init__(self, spark, manifest: dict, digests: DigestLog):
        from reden_spark.datagen import BASE_PREFIX
        from reden_spark.operators.disambiguate import NELConfig

        self.spark = spark
        self.parts = manifest["parts"]
        self.digests = digests
        self.cfg = NELConfig(base_prefix=BASE_PREFIX, preferred_uri=BASE_PREFIX)
        self.layer: dict[str, list[float]] = {}

    def part(self, i: int) -> dict:
        return self.parts[i % len(self.parts)]

    def rows(self, i: int) -> int:
        return self.part(i)["rows"]

    def run(self, i: int, out: Path):
        from reden_spark.plans.pipeline import run_pipeline

        return run_pipeline(self.spark, self.part(i)["dir"], out, self.cfg)

    def check(self, i: int, dfs, traced: bool) -> str:
        """Empty string when every output check passes, else the reason."""
        tables = Path(self.part(i)["dir"])
        expected = json.loads((tables.parent / "expected.json").read_text())
        want_links = sorted(tuple(r) for r in expected["links"])
        want_triples = sorted(tuple(r) for r in expected["triples"])
        links, triples = sorted(read_links(dfs)), sorted(read_triples(dfs))
        acc = dfs["metrics"].first()["overall_linking_accuracy"]
        if traced:
            self._layer_counters(dfs, want_links, acc)
        if links != want_links:
            return f"links differ from the reference ({len(links)} vs {len(want_links)} rows)"
        if triples != want_triples:
            return f"triples differ from the reference ({len(triples)} vs {len(want_triples)} rows)"
        if acc is None or acc < 0.95:
            return f"overall linking accuracy {acc} below 0.95"
        if not self.digests.check(f"delta{i % len(self.parts)}", _digest(links + triples)):
            return "output digest differs from an earlier run with this seed"
        return ""

    def _layer_counters(self, dfs, want_links: list[tuple], acc) -> None:
        from pyspark.sql import functions as F

        from reden_spark.operators.candidates import conversation_cases
        from reden_spark.operators.evaluate import link_precision_recall

        pr = link_precision_recall(
            dfs["links"],
            self.spark.createDataFrame(
                [(r[0], r[1], r[2], r[4]) for r in want_links],
                "conv_id string, turn_idx int, occ_idx int, chosen_uris string",
            ),
        ).first()
        m, c = dfs["mentions"], dfs["candidates"]
        hit = m.join(c.select("conv_id", "mention").distinct(), ["conv_id", "mention"], "left_semi")
        cases = conversation_cases(m, c).agg(
            F.count("*").alias("n"), F.sum((F.col("case") == "Ok").cast("int")).alias("ok")
        ).first()
        for key, val in (
            ("evaluate.linking_accuracy", acc or 0.0),
            ("links.oracle_precision", pr["precision"] or 0.0),
            ("links.oracle_recall", pr["recall"] or 0.0),
            ("candidates.hit_ratio", hit.count() / max(m.count(), 1)),
            ("links.graph_frac", (cases["ok"] or 0) / max(cases["n"], 1)),
        ):
            self.layer.setdefault(key, []).append(val)

    def layer_extras(self) -> dict[str, float]:
        # quality gates report their worst job, workload-shape ratios their median
        return {
            k: (min(v) if k.startswith(("evaluate.", "links.oracle")) else statistics.median(v))
            for k, v in self.layer.items()
        }

    def final_check(self, out_root: Path) -> list[Job]:
        return []


class Curation:
    """The five-stage curation pipeline over one corpus, repeated; a small
    slice of the same shape is checked against the DuckDB reference."""

    def __init__(self, spark, manifest: dict, digests: DigestLog):
        self.spark = spark
        self.corpus = manifest["parts"][0]
        self.digests = digests
        self.salt = 1

    def rows(self, i: int) -> int:
        return self.corpus["rows"]

    def _run(self, tables: str, out: Path):
        from reden_spark.plans.curation import run_curation

        return run_curation(self.spark, tables, out, hot_band_cap=self.corpus["hot_band_cap"])

    def run(self, i: int, out: Path):
        return self._run(self.corpus["dir"], out)

    def check(self, i: int, dfs, traced: bool) -> str:
        from reden_spark.operators import dedup

        self.salt = dedup._LAST_AUTO_SALT or 1
        if self.salt < 2:
            return "the boilerplate block did not arm the pairs stage's auto salt"
        if not self.digests.check("corpus", _digest(read_packed(dfs))):
            return "packed output digest differs from another job or run with this seed"
        return ""

    def layer_extras(self) -> dict[str, float]:
        return {"cur.pairs.salt": float(self.salt)}

    def final_check(self, out_root: Path) -> list[Job]:
        """One more job on the slice, compared row for row with DuckDB.

        The slice has a fixed seed, so a pass holds for this version of the
        program: it is recorded under the digest of the program's sources,
        and later runs of the same version skip the job (about 7 s)."""
        sl = self.corpus["slice"]
        passed = Path(sl["dir"]).parent / f"passed-{_program_digest()}"
        if passed.exists():
            return []
        job = Job(index=-1)
        try:
            dfs = self._run(sl["dir"], out_root / "slice")
            expected = json.loads((Path(sl["dir"]).parent / "expected.json").read_text())
            want = sorted(_normalize(r) for r in expected["packed"])
            got = sorted(read_packed(dfs))
            job.ok = got == want
            job.error = "" if job.ok else f"slice differs from DuckDB ({len(got)} vs {len(want)} rows)"
        except Exception as exc:  # a failed check job is counted, not fatal
            job.error = f"{type(exc).__name__}: {exc}"
        if job.ok:
            passed.touch()
        return [job]


# ---------------------------------------------------------------------------


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _prepare(workload: str, seed: int, size: str) -> tuple[dict, float]:
    t0 = time.time()
    r = subprocess.run(
        [sys.executable, str(HERE / "prepare.py"), "--workload", workload, "--seed", str(seed), "--size", size],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=ROOT,
    )
    if r.returncode != 0:
        raise RuntimeError(f"input generation failed:\n{r.stderr[-4000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1]), time.time() - t0


def _start_probes(manifest_path: Path) -> list[subprocess.Popen]:
    return [
        subprocess.Popen(
            [sys.executable, str(HERE / "spark_setup.py"), str(manifest_path)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
            cwd=ROOT,
        )
        for _ in range(SETUP_PROBES)
    ]


def _probe_results(probes: list[subprocess.Popen]) -> list[float]:
    out = []
    for p in probes:
        stdout, stderr = p.communicate(timeout=120)
        if p.returncode != 0:
            raise RuntimeError(f"set-up probe failed:\n{stderr[-4000:]}")
        out.append(json.loads(stdout.strip().splitlines()[-1])["setup_s"])
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, size: str = "full") -> dict:
    spark_setup.pin_environment()
    manifest, prep_s = _prepare(workload, seed, size)
    manifest_path = prepare.input_dir(workload, seed, size) / "manifest.json"
    out_root = prepare.WORK / "out" / str(os.getpid())
    event_dir = prepare.WORK / "eventlog" / str(os.getpid())
    extra = None
    if trace:
        event_dir.mkdir(parents=True, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_dir.as_uri(),
        }
    # The probe sets up at the same time as this process, so both samples
    # share the host the same way and together cost one set-up of wall time.
    probes = _start_probes(manifest_path)
    t0 = time.time()
    try:
        spark = spark_setup.start_session("reden-perfbench", extra_conf=extra)
    except BaseException:
        for p in probes:
            p.kill()
            p.wait()
        raise
    session_start_s = time.time() - t0
    tracer = Tracer() if trace else None
    jobs: list[Job] = []
    try:
        spark_setup.register_inputs(spark, workload, manifest)
        # the measured process's own set-up, less the input generation it waited for
        setups = [spark_setup.process_age() - prep_s] + _probe_results(probes)
        digests = DigestLog(f"{workload}-{size}-s{seed}")
        wl = (KGDelta if workload == "kg_delta" else Curation)(spark, manifest, digests)
        if tracer is not None:
            tracer.install(spark)
        warm_s = 0.0
        i = 0
        while i < 2 or warm_s < seconds:
            job = Job(index=i, load_before=os.getloadavg()[0])
            out = out_root / f"job{i}"
            span = tracer.begin_job(i) if tracer is not None else None
            job.start = time.time()
            try:
                dfs = wl.run(i, out)
            except Exception as exc:  # a failed job is counted, and the loop goes on
                job.error = f"{type(exc).__name__}: {exc}"
                dfs = None
            job.end = time.time()
            if span is not None:
                tracer.end_job(span)
            job.wall_s = job.end - job.start
            job.load_after = os.getloadavg()[0]
            if dfs is not None:
                try:
                    job.error = wl.check(i, dfs, trace)
                except Exception as exc:
                    job.error = f"check raised {type(exc).__name__}: {exc}"
                job.ok = not job.error
            if tracer is not None:
                tracer.measure_writes(i)
            shutil.rmtree(out, ignore_errors=True)
            jobs.append(job)
            if i > 0:
                warm_s += job.wall_s
            i += 1
        checks = wl.final_check(out_root)
        digests.save()
        conf = dict(spark.sparkContext.getConf().getAll())
        rss_mb = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(spark_setup.jvm_pid())
        extras = wl.layer_extras()
    finally:
        if tracer is not None:
            tracer.uninstall()
        spark_setup.stop_session(spark)
        shutil.rmtree(out_root, ignore_errors=True)

    # time the correct warm jobs; if none was, time them all so the result
    # line stays valid JSON (no NaN) while `failed` reports the problem
    warm = [j for j in jobs[1:] if j.ok] or jobs[1:]
    p50 = statistics.median(j.wall_s for j in warm)
    rows = statistics.median(wl.rows(j.index) for j in warm)
    every = jobs + checks
    failed = sum(not j.ok for j in every)
    if trace:
        metrics = _layer_metrics(tracer, event_dir, warm, extras, session_start_s, p50)
        shutil.rmtree(event_dir, ignore_errors=True)
    else:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "first_job_s": (jobs[0].wall_s, "s"),
            "latency_p50_s": (p50, "s"),
            "rows_per_s": (rows / p50, "1/s"),
            "peak_rss_mb": (rss_mb, "MB"),
        }
    detail = {
        "workload": workload,
        "seed": seed,
        "size": size,
        "nproc": spark_setup.nproc(),
        "setup_samples_s": setups,
        "input_prep_s": prep_s,
        "jobs": [
            {k: getattr(j, k) for k in ("index", "wall_s", "ok", "error", "load_before", "load_after")}
            for j in every
        ],
        "spark_conf": conf,
    }
    return {
        "detail": detail,
        "result": {
            "correct": failed == 0,
            "attempted": len(every),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


# per-layer counters that only one workload produces; the other prints 0
LAYER_EXTRAS = {
    "candidates.hit_ratio": "ratio",
    "links.graph_frac": "ratio",
    "evaluate.linking_accuracy": "ratio",
    "links.oracle_precision": "ratio",
    "links.oracle_recall": "ratio",
    "cur.pairs.salt": "count",
}
SPAN_METRICS = {
    "pipeline.self_s": "s",
    "storage.read_s": "s",
    "storage.write_mb": "MB",
    "storage.files": "count",
    "links.shared_s": "s",
    "links.shared_calls": "count",
    "triples.cc_s": "s",
}


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in print order."""
    units = {f"{st}.{f}": unit for st in STAGES for f, unit in STAGE_FIELDS.items()}
    units |= SPAN_METRICS
    units |= {"session.start_s": "s", "trace.latency_p50_s": "s"}
    return units | LAYER_EXTRAS


def _layer_metrics(tracer, event_dir, warm, extras, session_start_s, p50) -> dict:
    """Median over the warm jobs of each per-job span and event-log metric."""
    events = event_metrics(event_dir, {j.index: (j.start, j.end) for j in warm})
    per_job = []
    for j in warm:
        m = tracer.job_metrics(j.index) | events[j.index]
        for st in STAGES:
            busy = m.get(f"{st}.busy_s", 0.0)
            m[f"{st}.parallelism"] = m.get(f"{st}.task_s", 0.0) / busy if busy else 0.0
        per_job.append(m)
    once = {"session.start_s": session_start_s, "trace.latency_p50_s": p50} | extras
    out = {}
    for key, unit in layer_metric_units().items():
        if key in once:
            val = once[key]
        else:
            val = statistics.median(m.get(key, 0.0) for m in per_job) if per_job else 0.0
        out[key] = (val, unit)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="reden-spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="summed warm-job wall time to measure")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full", help="tiny: smoke-test inputs")
    a = ap.parse_args(argv)
    if not (ROOT / "reden_spark" / "__init__.py").is_file():
        print(f"reden_spark not found under {ROOT}: run from the root of a checkout", file=sys.stderr)
        return 2
    out = run(a.workload, a.seed, a.seconds, bool(a.trace), a.size)
    print(json.dumps({"detail": out["detail"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
