"""Outside-in tracing for the traced run (``--trace 1``).

Nothing in ``reden_spark`` is changed. Spans come from wrappers that this
module installs around the program's public entry points, and task metrics
come from the Spark event log:

* a stage span opens when the pipeline sets its ``reden-<stage>`` /
  ``reden-cur-<stage>`` job group and closes when it clears it, so it covers
  the stage's compute call and its ``storage.write_stage`` call;
* child spans wrap ``storage.write_stage``, ``checkpointing.shared`` (as the
  links stage calls it) and ``canonicalize.connected_components``;
* ``storage.read_stage`` spans are job-level (the pipeline reads a checkpoint
  back after it closes the stage's job group);
* the event log's jobs, tasks, CPU, GC, shuffle and spill are attributed to a
  stage by job group and to a benchmark job by submission time.

Spans nest job -> stage -> child call. A span's self time is its duration
minus the union of its children's intervals.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

KG_STAGES = ["mentions", "candidates", "links", "triples", "evaluate"]
CUR_STAGES = ["cur.pairs", "cur.clusters", "cur.holdout", "cur.decontam", "cur.packed"]
STAGES = KG_STAGES + CUR_STAGES
STAGE_FIELDS = {
    "busy_s": "s",
    "self_s": "s",
    "cpu_s": "s",
    "gc_s": "s",
    "jobs": "count",
    "tasks": "count",
    "parallelism": "ratio",
    "task_skew": "ratio",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "rows_out": "count",
}


def stage_name(job_group: str | None) -> str | None:
    """``reden-metrics`` -> ``evaluate``, ``reden-cur-pairs`` -> ``cur.pairs``."""
    if not job_group or not job_group.startswith("reden-"):
        return None
    rest = job_group[len("reden-"):]
    if rest.startswith("cur-"):
        return "cur." + rest[len("cur-"):]
    return "evaluate" if rest == "metrics" else rest


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    stage: str | None = None  # enclosing stage span, None at job level
    job: int = -1

    @property
    def dur(self) -> float:
        return self.end - self.start


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    writes: list[tuple[int, str, Path, int]] = field(default_factory=list)  # job, stage, dir, rows
    written: dict[int, tuple[int, int]] = field(default_factory=dict)  # job -> (files, bytes)
    job: int = -1
    _stage: Span | None = None
    _patches: list[tuple[object, str, object]] = field(default_factory=list)

    # -- span recording ------------------------------------------------------

    def begin_job(self, job: int) -> Span:
        self.job = job
        s = Span("job", time.time(), job=job)
        self.spans.append(s)
        return s

    def end_job(self, span: Span) -> None:
        self._close_stage()
        span.end = time.time()
        self.job = -1  # spans of the checks between jobs are not any job's

    def _close_stage(self) -> None:
        if self._stage is not None:
            self._stage.end = time.time()
            self._stage = None

    def _on_job_group(self, group: str | None) -> None:
        name = stage_name(group)
        if name is not None:
            self._close_stage()
            self._stage = Span(name, time.time(), job=self.job)
            self.spans.append(self._stage)
        elif not group:
            self._close_stage()

    def _wrap(self, owner, attr: str, name: str, per_stage: bool = False, after=None) -> None:
        """Record a span around every call of ``owner.attr``; ``per_stage``
        prefixes the span name with the enclosing stage (``links.shared``)."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            stage = tracer._stage.name if tracer._stage is not None else None
            span = Span(f"{stage}.{name}" if per_stage and stage else name, time.time(), stage=stage, job=tracer.job)
            try:
                result = orig(*args, **kwargs)
            finally:
                span.end = time.time()
                tracer.spans.append(span)
            if after is not None:
                after(stage, args, kwargs, result)
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self, spark) -> None:
        from reden_spark.operators import canonicalize, disambiguate
        from reden_spark.sources import storage

        sc = spark.sparkContext
        orig_group = sc.setJobGroup

        def set_job_group(group_id, description, interruptOnCancel=False):
            self._on_job_group(group_id)
            return orig_group(group_id, description, interruptOnCancel)

        sc.setJobGroup = set_job_group
        self._patches.append((sc, "setJobGroup", None))

        def record_write(stage, args, kwargs, manifest):
            out_dir = args[1] if len(args) > 1 else kwargs["out_dir"]
            name = args[2] if len(args) > 2 else kwargs["name"]
            self.writes.append((self.job, stage, Path(out_dir) / name, int(manifest["rows"])))

        self._wrap(storage, "write_stage", "storage.write", after=record_write)
        self._wrap(storage, "read_stage", "storage.read")
        self._wrap(disambiguate, "shared", "shared", per_stage=True)
        self._wrap(canonicalize, "connected_components", "cc", per_stage=True)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if orig is None:
                delattr(owner, attr)  # instance attribute over the class method
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    # -- per-job summaries ---------------------------------------------------

    def job_metrics(self, job: int) -> dict[str, float]:
        spans = [s for s in self.spans if s.job == job]
        (job_span,) = [s for s in spans if s.name == "job"]
        stages = [s for s in spans if s.name in STAGES]
        m: dict[str, float] = {}
        for st in stages:
            children = [(c.start, c.end) for c in spans if c.stage == st.name]
            m[f"{st.name}.busy_s"] = m.get(f"{st.name}.busy_s", 0.0) + st.dur
            m[f"{st.name}.self_s"] = m.get(f"{st.name}.self_s", 0.0) + st.dur - _union(children)
        top = [(s.start, s.end) for s in spans if s is not job_span and s.stage is None]
        m["pipeline.self_s"] = job_span.dur - _union(top)
        m["storage.read_s"] = sum(s.dur for s in spans if s.name == "storage.read")
        shared = [s for s in spans if s.name == "links.shared"]
        m["links.shared_s"] = sum(s.dur for s in shared)
        m["links.shared_calls"] = float(len(shared))
        m["triples.cc_s"] = sum(s.dur for s in spans if s.name == "triples.cc")
        for j, stage, _path, rows in self.writes:
            if j == job:
                m[f"{stage}.rows_out"] = m.get(f"{stage}.rows_out", 0.0) + rows
        files, nbytes = self.written.get(job, (0, 0))
        m["storage.files"] = float(files)
        m["storage.write_mb"] = nbytes / 2**20
        return m

    def measure_writes(self, job: int) -> None:
        """Data files and bytes a job's stage writes left on disk; call
        before the job's output directory is removed."""
        files, nbytes = 0, 0
        for j, _stage, path, _rows in self.writes:
            if j != job:
                continue
            for f in path.rglob("*"):
                if f.is_file() and not f.name.startswith(("_", ".")):
                    files += 1
                    nbytes += f.stat().st_size
        self.written[job] = (files, nbytes)


def event_metrics(event_dir: Path, windows: dict[int, tuple[float, float]]) -> dict[int, dict[str, float]]:
    """Per benchmark job (keyed like ``windows``: job -> (start, end) wall
    seconds), per pipeline stage: Spark jobs, tasks, CPU, GC, shuffle write,
    disk spill and task-time skew, from the uncompressed event log."""
    stage_of: dict[int, tuple[int, str]] = {}  # spark stage id -> (bench job, stage)
    acc: dict[int, dict[str, float]] = {j: {} for j in windows}
    task_ms: dict[tuple[int, str], list[float]] = {}
    for log in sorted(p for p in event_dir.rglob("*") if p.is_file() and not p.name.startswith(".")):
        with open(log, errors="replace") as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    name = stage_name((ev.get("Properties") or {}).get("spark.jobGroup.id"))
                    at = ev.get("Submission Time", 0) / 1e3
                    job = next((j for j, (s, e) in windows.items() if s <= at <= e), None)
                    if name is None or job is None:
                        continue
                    a = acc[job]
                    a[f"{name}.jobs"] = a.get(f"{name}.jobs", 0.0) + 1
                    for sid in ev.get("Stage IDs", []):
                        stage_of[sid] = (job, name)
                elif kind == "SparkListenerTaskEnd":
                    hit = stage_of.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if hit is None or tm is None:
                        continue
                    job, name = hit
                    a = acc[job]
                    run_ms = tm.get("Executor Run Time", 0)
                    task_ms.setdefault(hit, []).append(run_ms)
                    for key, val in (
                        ("tasks", 1),
                        ("task_s", run_ms / 1e3),
                        ("cpu_s", tm.get("Executor CPU Time", 0) / 1e9),
                        ("gc_s", tm.get("JVM GC Time", 0) / 1e3),
                        ("shuffle_mb", tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20),
                        ("spill_mb", tm.get("Disk Bytes Spilled", 0) / 2**20),
                    ):
                        a[f"{name}.{key}"] = a.get(f"{name}.{key}", 0.0) + val
    for (job, name), ms in task_ms.items():
        acc[job][f"{name}.task_skew"] = max(ms) / max(statistics.median(ms), 1.0)
    return acc
