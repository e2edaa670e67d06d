"""Benchmark harness (driver contract): prints ONE JSON line
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Headline: the full checkpointed KG pipeline (mentions -> candidates -> links ->
triples, parquet checkpoints included) over a bench-scale synthetic transcripts
table (~600k turns, sized like sf0.1 lineitem; generated once and cached under
.bench_cache/). Also times representative per-operator queries from the driver
contract at $SPARK_GRAFT_SF_DIR.

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_SCALE_PAIR (default "8,32").
`--dual --repeats R` runs the scaling experiment: full pipeline + the
mention-detection kernel at both parallelism levels, fresh process per point,
interleaved, medians (the sandbox proxy for the north rule's N->4N-executor
criterion; see BASELINE.md measurement protocol).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

REPO = Path(__file__).resolve().parent
BENCH_CACHE = REPO / ".bench_cache"
BENCH_TURNS_TARGET = 600_000


def ensure_bench_data(n_convs: int = 3000, name: str = "kg_bench") -> Path:
    """Generate (once) the bench-scale transcripts fixture; cached on disk."""
    from reden_spark import datagen

    out = BENCH_CACHE / f"{name}_v5"
    marker = out / "transcripts.parquet"
    if not marker.exists():
        # n_convs x ~200 turns + a 20x skewed conversation; 4 sentences/turn
        # (~300 chars) approximates real agent-transcript turn lengths; 2000
        # extra dictionary entities (~25k aliases) approximate a real
        # BnF/Geonames-scale gazetteer so the mention/candidate stages carry
        # realistic per-turn work
        datagen.generate(
            out,
            n_convs=n_convs,
            mean_turns=200,
            seed=42,
            skew_factor=20,
            with_gold=False,
            sentences_per_turn=4,
            n_extra_entities=2000,
        )
    _ensure_bucketed_transcripts(out)
    return out


def _ensure_bucketed_transcripts(data_dir: Path, n_buckets: int = 32) -> None:
    """One-time, cached rewrite of the corpus transcripts into a conv_id-
    bucketed table (rows identical; layout only). This is the ingest-time
    layout the production system maintains anyway — an Iceberg transcripts
    table with a bucket(conv_id) partition transform — so bench measurements
    run against the table shape the 100 TB deployment would actually read;
    the pipeline then never shuffles turn-grain data before the output join
    (see BENCH.md). Unbucketed corpora remain fully supported (the pipeline
    pays one compact mentions repartition instead)."""
    import shutil as _sh

    from pyspark.sql import SparkSession

    from reden_spark.session import get_spark
    from reden_spark.sources import storage

    if storage.stage_exists(data_dir, "transcripts.parquet"):
        return
    # getOrCreate would silently reuse a live caller session (wrong master) and
    # the finally-stop would then kill it out from under the caller — reuse a
    # pre-existing session without stopping it, own (and stop) only a fresh one
    owned = SparkSession.getActiveSession() is None
    spark = get_spark("reden-bench-ingest", master="local[8]") if owned else SparkSession.getActiveSession()
    try:
        df = spark.read.parquet(str(data_dir / "transcripts.parquet"))
        storage.write_stage(
            df, data_dir, "transcripts.bucketed.tmp", spark_bucket_col="conv_id", n_buckets=n_buckets
        )
    finally:
        if owned:
            spark.stop()
    src = data_dir / "transcripts.parquet"
    _sh.rmtree(src) if src.is_dir() else src.unlink()
    (data_dir / "transcripts.bucketed.tmp").rename(src)


def ensure_curation_bench_data(
    n_docs: int = 2_000_000,
    dup_clusters: int = 20_000,
    cluster_size: int = 10,
    boilerplate_cluster: int = 0,
    name: str = "cur_scale",
) -> Path:
    """Generate (once) a deterministic ≥n_docs `documents` corpus for the
    curation-pipeline scale bench, ENTIRELY with JVM-side expressions
    (spark.range + hash-derived words — no driver-side row building at 2 M
    rows). Layout: the first dup_clusters*cluster_size doc_ids form
    near-duplicate clusters (cluster members share a 50-word template and
    differ in a 2-word tail → high Jaccard, LSH-findable); the rest is unique
    text. ``boilerplate_cluster`` > 0 additionally stamps that many docs with
    ONE shared template (a single hot LSH band — the skewed-corpus variant
    for the salt>1 scale point). Deterministic: xxhash64's fixed seed."""
    from pyspark.sql import functions as F

    from reden_spark.session import get_spark

    out = BENCH_CACHE / f"{name}_v1"
    marker = out / "documents.parquet"
    # _SUCCESS, not the directory: an interrupted write leaves the dir behind
    # and would otherwise pass as a completed corpus forever after
    if (marker / "_SUCCESS").exists():
        return out
    out.mkdir(parents=True, exist_ok=True)
    n_dup = dup_clusters * cluster_size
    vocab = 50_000
    spark = get_spark("reden-curgen", master="local[32]")
    try:
        df = spark.range(n_docs).withColumnRenamed("id", "doc_id")
        # template id: cluster-shared in the dup region, per-doc elsewhere,
        # one global template for the boilerplate block
        tpl = (
            F.when(F.col("doc_id") < boilerplate_cluster, F.lit(-1).cast("long"))
            .when(F.col("doc_id") < n_dup + boilerplate_cluster, (F.col("doc_id") / cluster_size).cast("long"))
            .otherwise(F.col("doc_id") + n_docs)
        )
        body = F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(49)),
                lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(F.col("tpl"), i), F.lit(vocab)).cast("string")),
            ),
            " ",
        )
        tail = F.concat(
            F.lit(" t"),
            F.pmod(F.xxhash64("doc_id"), F.lit(vocab)).cast("string"),
            F.lit(" t"),
            F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(vocab)).cast("string"),
        )
        langs = F.array(*[F.lit(x) for x in ("en", "fr", "de", "es", "it")])
        docs = (
            df.withColumn("tpl", tpl)
            .withColumn("text", F.concat(body, tail))
            .withColumn("lang", F.element_at(langs, (F.pmod(F.xxhash64("doc_id", F.lit(2)), F.lit(5)) + 1).cast("int")))
            .withColumn("source", F.lit("synthetic"))
            .withColumn("n_chars", F.length("text").cast("long"))
            .select("doc_id", "text", "lang", "source", "n_chars")
        )
        docs.repartition(32).write.mode("overwrite").parquet(str(marker))
    finally:
        spark.stop()
    return out


def run_headline(master_cpus: str, data_dir: Path, repeats: int = 1) -> dict:
    """Full checkpointed pipeline wall clock. With repeats > 1, reports the
    MEDIAN of in-process runs (fresh checkpoint dir each) — the shared host
    drifts ±30 %+ run-to-run (see BENCH.md), so a single sample measures the
    co-tenant, not the engine. All samples are recorded alongside."""
    import statistics

    from reden_spark.datagen import BASE_PREFIX
    from reden_spark.operators.disambiguate import NELConfig
    from reden_spark.plans.pipeline import run_pipeline
    from reden_spark.session import get_spark

    spark = get_spark("reden-bench", master=f"local[{master_cpus}]")
    try:
        n_turns = spark.read.parquet(str(data_dir / "transcripts.parquet")).count()
        # stage checkpoints on memory-backed storage: the single-node stand-in
        # for a cluster's distributed FS, whose write bandwidth scales with
        # nodes (one shared local disk would serialize every stage write)
        ckpt_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
        cfg = NELConfig(base_prefix=BASE_PREFIX, preferred_uri=BASE_PREFIX)
        samples = []
        loads = []  # 1-min loadavg bracketing each sample: the artifact
        # carries its own co-tenant-noise context (a 28 s wall at load 9 and
        # a 23 s wall at load 0.5 are the same engine — see BENCH.md r4 §3)
        n_links = n_triples = 0
        for _ in range(max(1, repeats)):
            out_dir = tempfile.mkdtemp(prefix="reden_bench_out_", dir=ckpt_base)
            load_before = os.getloadavg()[0]
            t0 = time.time()
            dfs = run_pipeline(spark, data_dir, out_dir, cfg)
            n_links = dfs["links"].count()
            n_triples = dfs["triples"].count()
            samples.append(time.time() - t0)
            loads.append([round(load_before, 2), round(os.getloadavg()[0], 2)])
            shutil.rmtree(out_dir, ignore_errors=True)
        elapsed = statistics.median(samples)
        return {
            "elapsed_sec": elapsed,
            "samples_sec": [round(s, 3) for s in samples],
            "loadavg_1m_per_sample": loads,
            "n_turns": n_turns,
            "n_links": n_links,
            "n_triples": n_triples,
            "turns_per_sec": n_turns / elapsed,
        }
    finally:
        spark.stop()


PER_QUERY = [
    "kg_links",
    "kg_triples",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_quality",
    "rel_pushdown_agg",
    "rel_sessionize",
    # round-3 curation additions (keys additive — r1/r2 keys unchanged for
    # round-over-round comparability)
    "dedup_clusters",
    "text_tfidf_topk",
    # round-4: the chained end-to-end curation recipe (pairs are shared with
    # dedup_minhash_lsh/dedup_clusters via driver_contract._minhash_pairs, as
    # a real run would share its materialized pair table)
    "curation_pipeline",
    # round-5: the two corpus-grain additions (LM scoring and the ExactSubstr
    # duplicated-span probe; keys additive as above)
    "text_perplexity",
    "dedup_spans",
    "text_ngram_topk",
]


def run_per_query(
    master_cpus: str, sf_dir: str
) -> tuple[dict[str, float], dict[str, list[float]], dict[str, float]]:
    """Times each headline query; also brackets each with the 1-min loadavg so
    a slow reading in the round artifact carries its own noise context.

    Two timings per query: `timings` keeps the historical count() protocol
    (round-over-round comparable back to r1), and `timings_forced` evaluates
    every output VALUE (xxhash64 over all columns, summed) — count() lets
    Catalyst prune computed columns, so a map-only projection times as an
    empty scan under the old protocol (the perplexity lesson, BENCH.md r5 §4).
    """
    from pyspark.sql import functions as F

    from reden_spark.driver_contract import ALL_QUERIES
    from reden_spark.session import get_spark

    spark = get_spark("reden-bench-q", master=f"local[{master_cpus}]")
    timings: dict[str, float] = {}
    loads: dict[str, list[float]] = {}
    forced: dict[str, float] = {}
    try:
        for name in PER_QUERY:
            load_before = os.getloadavg()[0]
            t0 = time.time()
            ALL_QUERIES[name](spark, sf_dir).count()
            timings[name] = round(time.time() - t0, 3)
            loads[name] = [round(load_before, 2), round(os.getloadavg()[0], 2)]
        for name in PER_QUERY:
            # t0 before construction: shared() materializes eagerly while the
            # query is built, so that work belongs inside the timed span
            t0 = time.time()
            df = ALL_QUERIES[name](spark, sf_dir)
            try:
                df.agg(
                    F.sum(F.xxhash64(*[F.col(c) for c in df.columns]))
                ).collect()
            except Exception:
                df.count()  # a column type hash doesn't support; count instead
            forced[name] = round(time.time() - t0, 3)
    finally:
        spark.stop()
    return timings, loads, forced


def run_kernel(master_cpus: str, data_dir: Path) -> dict:
    """Mention-detection kernel scaling point: warm in-memory run of the
    map-only mapInPandas stage (the component that dominates cluster CPU at
    10^12-turn scale — conversation-grain graph tables are orders of magnitude
    smaller than the turn table). Measures pure compute scaling with shuffle,
    checkpoint I/O and job cold-start excluded."""
    import pyarrow.dataset as pads

    from reden_spark.operators.mentions import detect_mentions
    from reden_spark.session import get_spark

    # transcripts.parquet is a single file for plain fixtures and a directory
    # for bucket(conv_id)-converted ones; pyarrow dataset handles both.
    n_turns = pads.dataset(str(data_dir / "transcripts.parquet"), format="parquet").count_rows()
    spark = get_spark("reden-kernel", master=f"local[{master_cpus}]")
    try:
        from pyspark.sql import functions as F

        tr = spark.read.parquet(str(data_dir / "transcripts.parquet")).repartition(256).localCheckpoint(eager=True)
        m = detect_mentions(tr, spark.read.parquet(str(data_dir / "mention_terms.parquet")))
        m.agg(F.count("*")).collect()  # cold: JIT + python-worker spawn
        t0 = time.time()
        m.agg(F.count("*")).collect()
        el = time.time() - t0
        return {"elapsed_sec": el, "n_turns": n_turns, "turns_per_sec": n_turns / el}
    finally:
        spark.stop()


def run_stage_profile(master_cpus: str, data_dir: Path) -> dict:
    """Per-pipeline-stage resource profile parsed from the Spark event log.

    Tasks are attributed to pipeline stages via the ``reden-<stage>`` job
    groups set in plans/pipeline.py. Reports, per stage: wall seconds, summed
    task time, executor CPU seconds, GC seconds, shuffle read/write bytes and
    input/output bytes — the evidence base for BENCH.md's scaling analysis
    (which stages are compute-bound vs data-movement-bound on one socket)."""
    from reden_spark.datagen import BASE_PREFIX
    from reden_spark.operators.disambiguate import NELConfig
    from reden_spark.plans.pipeline import run_pipeline
    from reden_spark.session import get_spark

    evt_dir = Path(tempfile.mkdtemp(prefix="reden_evt_"))
    spark = get_spark(
        "reden-profile",
        master=f"local[{master_cpus}]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": evt_dir.as_uri(),
        },
    )
    ckpt_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    out_dir = tempfile.mkdtemp(prefix="reden_profile_out_", dir=ckpt_base)
    try:
        n_turns = spark.read.parquet(str(data_dir / "transcripts.parquet")).count()
        t0 = time.time()
        dfs = run_pipeline(
            spark, data_dir, out_dir, NELConfig(base_prefix=BASE_PREFIX, preferred_uri=BASE_PREFIX)
        )
        dfs["triples"].count()
        elapsed = time.time() - t0
        walls = json.loads((Path(out_dir) / "_timings.json").read_text())
    finally:
        spark.stop()
        shutil.rmtree(out_dir, ignore_errors=True)

    agg = _parse_stage_metrics(evt_dir, "reden-")
    shutil.rmtree(evt_dir, ignore_errors=True)
    stages = {
        name: {"wall_sec": round(walls.get(name, 0.0), 2), **{k: round(v, 2) for k, v in m.items()}}
        for name, m in sorted(agg.items())
    }
    return {"cpus": int(master_cpus), "n_turns": n_turns, "elapsed_sec": round(elapsed, 2), "stages": stages}


def _parse_stage_metrics(evt_dir: Path, prefix: str) -> dict[str, dict[str, float]]:
    """Aggregate per-task metrics from a Spark event log, attributed to
    pipeline stages via `<prefix><stage>` job groups."""
    stage_group: dict[int, str] = {}
    agg: dict[str, dict[str, float]] = {}
    for log in sorted(p for p in evt_dir.rglob("*") if p.is_file()):
        for line in log.read_text(errors="replace").splitlines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if not isinstance(ev, dict):
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                if group.startswith(prefix):
                    for si in ev.get("Stage Infos", []):
                        stage_group[si["Stage ID"]] = group[len(prefix):]
            elif kind == "SparkListenerTaskEnd":
                name = stage_group.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if name is None or tm is None:
                    continue
                a = agg.setdefault(
                    name,
                    {k: 0.0 for k in (
                        "task_sec", "cpu_sec", "gc_sec", "shuffle_read_mb",
                        "shuffle_write_mb", "input_mb", "output_mb", "tasks",
                    )},
                )
                a["tasks"] += 1
                a["task_sec"] += tm.get("Executor Run Time", 0) / 1e3
                a["cpu_sec"] += tm.get("Executor CPU Time", 0) / 1e9
                a["gc_sec"] += tm.get("JVM GC Time", 0) / 1e3
                srm = tm.get("Shuffle Read Metrics", {})
                a["shuffle_read_mb"] += (
                    srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
                ) / 2**20
                a["shuffle_write_mb"] += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                ) / 2**20
                a["input_mb"] += tm.get("Input Metrics", {}).get("Bytes Read", 0) / 2**20
                a["output_mb"] += tm.get("Output Metrics", {}).get("Bytes Written", 0) / 2**20
    return agg


def run_curation_profile(
    master_cpus: str, data_dir: Path, hot_band_cap: int = 10_000
) -> dict:
    """Per-stage resource profile of the CURATION pipeline (VERDICT r4 task
    #4): runs plans/curation.run_curation over `data_dir`'s documents table
    with the event log on, then attributes task metrics to the five stages
    via their `reden-cur-<stage>` job groups. `hot_band_cap` passes through
    to the pairs stage's auto-salt probe (lower it on the skewed corpus to
    record a salt>1 point)."""
    from reden_spark.operators import dedup
    from reden_spark.plans.curation import run_curation
    from reden_spark.session import get_spark

    evt_dir = Path(tempfile.mkdtemp(prefix="reden_evt_"))
    spark = get_spark(
        "reden-cur-profile",
        master=f"local[{master_cpus}]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": evt_dir.as_uri(),
        },
    )
    ckpt_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    out_dir = tempfile.mkdtemp(prefix="reden_cur_out_", dir=ckpt_base)
    load_before = os.getloadavg()[0]
    try:
        n_docs = spark.read.parquet(str(data_dir / "documents.parquet")).count()
        t0 = time.time()
        dfs = run_curation(spark, data_dir, out_dir, hot_band_cap=hot_band_cap)
        counts = {s: dfs[s].count() for s in ("pairs", "clusters", "decontam", "packed")}
        elapsed = time.time() - t0
        walls = json.loads((Path(out_dir) / "_timings.json").read_text())
    finally:
        spark.stop()
        shutil.rmtree(out_dir, ignore_errors=True)
    agg = _parse_stage_metrics(evt_dir, "reden-cur-")
    shutil.rmtree(evt_dir, ignore_errors=True)
    stages = {
        name: {"wall_sec": round(walls.get(name, 0.0), 2), **{k: round(v, 2) for k, v in m.items()}}
        for name, m in sorted(agg.items())
    }
    return {
        "cpus": int(master_cpus),
        "n_docs": n_docs,
        "elapsed_sec": round(elapsed, 2),
        "docs_per_sec": round(n_docs / elapsed, 1),
        "auto_salt": dedup._LAST_AUTO_SALT,
        "hot_band_cap": hot_band_cap,
        "loadavg_1m": [round(load_before, 2), round(os.getloadavg()[0], 2)],
        "counts": counts,
        "stages": stages,
    }


def _kernel_subprocess(cpus: str, data_dir: Path) -> dict:
    import subprocess

    out = subprocess.run(
        [sys.executable, __file__, "--kernel-only", "--cpus", cpus, "--data", str(data_dir)],
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _headline_subprocess(cpus: str, data_dir: Path) -> dict:
    """Fresh-process measurement (fresh JVM — no warm-JIT bias between the two
    parallelism levels of the scaling experiment)."""
    import subprocess

    out = subprocess.run(
        [sys.executable, __file__, "--headline-only", "--cpus", cpus, "--data", str(data_dir)],
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dual", action="store_true", help="also run the N vs 4N scaling experiment")
    ap.add_argument("--repeats", type=int, default=1, help="runs per scaling point (median)")
    ap.add_argument("--skip-queries", action="store_true")
    ap.add_argument(
        "--stage-profile",
        action="store_true",
        help="per-pipeline-stage CPU/shuffle/IO profile from the event log (pair with --cpus)",
    )
    ap.add_argument("--scale-corpus", action="store_true", help="profile on the larger scaling corpus")
    ap.add_argument(
        "--curation-profile",
        action="store_true",
        help="per-stage profile of the curation pipeline on a 2M-doc corpus (pair with --cpus)",
    )
    ap.add_argument(
        "--curation-skewed",
        action="store_true",
        help="with --curation-profile: add a one-hot-band boilerplate block and a low band cap so the auto salt engages (salt>1 scale point)",
    )
    ap.add_argument("--headline-only", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--kernel-only", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--cpus", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--data", default=None, help=argparse.SUPPRESS)
    a = ap.parse_args()

    if a.curation_profile:
        if a.curation_skewed:
            # 512 docs stamped with ONE template = one hot LSH band; cap 100
            # puts it far over the per-task comparison budget, so the probe
            # must arm salt = ceil(512/100) = 6 without any caller flag
            data = ensure_curation_bench_data(boilerplate_cluster=512, name="cur_scale_skew")
            cap = 100
        else:
            data = ensure_curation_bench_data()
            cap = 10_000
        print(json.dumps(run_curation_profile(a.cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"), data, cap)))
        return
    if a.stage_profile:
        if a.scale_corpus:
            data = ensure_bench_data(n_convs=12000, name="kg_scale")
        else:
            data = Path(a.data) if a.data else ensure_bench_data()
        print(json.dumps(run_stage_profile(a.cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"), data)))
        return
    if a.headline_only:
        print(json.dumps(run_headline(a.cpus, Path(a.data))))
        return
    if a.kernel_only:
        print(json.dumps(run_kernel(a.cpus, Path(a.data))))
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = 0.1 if "0.1" in sf_dir else (0.01 if "0.01" in sf_dir else 0.001)

    data_dir = ensure_bench_data()
    head = run_headline(cpus, data_dir, repeats=3)
    queries, query_loads, queries_forced = (
        ({}, {}, {}) if a.skip_queries else run_per_query(cpus, sf_dir)
    )

    result = {
        "metric": "kg_pipeline_wall_clock",
        "value": round(head["elapsed_sec"], 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "n_turns": head["n_turns"],
        "turns_per_sec": round(head["turns_per_sec"], 1),
        "n_links": head["n_links"],
        "n_triples": head["n_triples"],
        "headline_samples_sec": head.get("samples_sec"),
        # [before, after] 1-min loadavg around each headline sample / query:
        # the artifact adjudicates its own noise (VERDICT r4 task #2)
        "headline_loadavg_1m": head.get("loadavg_1m_per_sample"),
        "query_loadavg_1m": query_loads,
        # additive (r5): value-forced twins of `queries` — xxhash64 over every
        # output column, so Catalyst cannot prune the computed work the way a
        # bare count() can on map-only projections
        "queries_forced": queries_forced,
        "cpus": int(cpus),
    }

    if a.dual:
        # scaling experiment: larger input (fixed overhead amortizes), fresh JVM
        # per measurement. This is the sandbox proxy for N->4N executors; the
        # pair is configurable (SPARK_GRAFT_SCALE_PAIR="8,32") because a shared
        # single host saturates memory bandwidth near its full core count —
        # a regime a real 4N-executor cluster (per-node memory buses) never
        # enters. Fresh process per point; median of --repeats runs.
        lo_n, hi_n = (os.environ.get("SPARK_GRAFT_SCALE_PAIR") or f"8,{cpus}").split(",")
        scale_dir = ensure_bench_data(n_convs=12000, name="kg_scale")
        import statistics

        hi_runs: list[dict] = []
        lo_runs: list[dict] = []
        for _ in range(a.repeats):  # interleaved: host drift hits both points alike
            hi_runs.append(_headline_subprocess(hi_n, scale_dir))
            lo_runs.append(_headline_subprocess(lo_n, scale_dir))
        hi_tps = statistics.median(r["turns_per_sec"] for r in hi_runs)
        lo_tps = statistics.median(r["turns_per_sec"] for r in lo_runs)
        ratio = (hi_tps / lo_tps) / (int(hi_n) / int(lo_n))
        k_hi = statistics.median(
            _kernel_subprocess(hi_n, scale_dir)["turns_per_sec"] for _ in range(a.repeats)
        )
        k_lo = statistics.median(
            _kernel_subprocess(lo_n, scale_dir)["turns_per_sec"] for _ in range(a.repeats)
        )
        result["scaling"] = {
            "n_turns": hi_runs[0]["n_turns"],
            f"turns_per_sec_{lo_n}": round(lo_tps, 1),
            f"turns_per_sec_{hi_n}": round(hi_tps, 1),
            f"efficiency_{lo_n}_to_{hi_n}": round(ratio, 3),
            f"kernel_turns_per_sec_{lo_n}": round(k_lo, 1),
            f"kernel_turns_per_sec_{hi_n}": round(k_hi, 1),
            f"kernel_efficiency_{lo_n}_to_{hi_n}": round((k_hi / k_lo) / (int(hi_n) / int(lo_n)), 3),
            "repeats": a.repeats,
        }

    print(json.dumps(result))


if __name__ == "__main__":
    main()
