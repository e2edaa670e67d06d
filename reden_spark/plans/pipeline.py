"""The five-stage checkpointed KG-construction pipeline (SURVEY.md §7).

    mention_terms, dico, kb_edges, rel_weights -> KB artifacts (once per KB)
    transcripts -> mentions -> candidates -> links -> triples -> metrics

Stages 1-4 read the KB artifacts (operators/kb.py) in place of the KB tables:
the term broadcast, the dictionary groups, the KB edges and relation weights,
the sameAs canonical map and the rewritten KB. A session keeps the artifacts
of its last `KB_REGISTRY_SIZE` knowledge bases keyed by the tables' bytes
(`kb_digest`; eviction as in `checkpointing.recent`), so a later delta over
the same KB reads none of them. The lookup runs under the runner's job
group `reden-kb`; `_timings.json` records its seconds as `kb` (the content
digest alone on a hit). Inputs are
read with their parquet footer's schema (`storage.read_input`) and
checkpoints with their manifest's, so no read runs a schema-inference job.

Each stage reads the previous stage's checkpoint and writes its own (parquet/
Iceberg) with per-partition lineage counters, through the stage runner
`storage.Stages` that the curation pipeline shares (job group
`reden-<stage>`); `--from-stage` (or a missing/invalidated manifest)
recomputes from that point — the north rule's resumability contract.
Launchable via spark-submit --py-files as

    spark-submit --py-files dist/reden_spark.zip reden_spark/plans/pipeline.py \
        --data-dir /root/testdata/... --out-dir /tmp/kg_out

(or `python -m reden_spark.plans.pipeline ...` locally — the module runs both
as a package member and as a bare script path). On a multi-executor cluster,
add `--conf spark.checkpoint.dir=<DFS path>`: intra-stage checkpoints then
survive a lost executor (checkpointing.py).
"""

from __future__ import annotations

import argparse
import json
import hashlib
import math
import sys
import time
from collections import OrderedDict
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

# absolute imports + bootstrap so the module works BOTH as a package member
# and as a bare script path handed to spark-submit (which runs the file as
# __main__ with no parent package — relative imports would raise ImportError
# before main() ever ran)
if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from reden_spark import checkpointing  # noqa: E402
from reden_spark.operators.candidates import conversation_cases, generate_candidates  # noqa: E402
from reden_spark.operators.canonicalize import materialize_triples  # noqa: E402
from reden_spark.operators.disambiguate import NELConfig  # noqa: E402
from reden_spark.operators.evaluate import eval_records, hachey_metrics  # noqa: E402
from reden_spark.operators.grouped import disambiguate_grouped  # noqa: E402
from reden_spark.operators.kb import KB_TABLES, KBArtifacts, build_kb  # noqa: E402
from reden_spark.operators.mentions import detect_mentions  # noqa: E402
from reden_spark.sources import storage  # noqa: E402

STAGES = ["mentions", "candidates", "links", "triples", "metrics"]

# KB artifacts (operators/kb.py) of the most recently used knowledge bases,
# keyed by (applicationId, kb_digest, checkpoint directory)
# and bounded by checkpointing.recent.
_KB_REGISTRY: OrderedDict[tuple, KBArtifacts] = OrderedDict()
KB_REGISTRY_SIZE = 2

# Input transcript bytes per turn-grain bucket. A bucketed scan runs one task
# per bucket and AQE cannot coalesce it, so the count is sized from the input
# when the stage is written: n = min(MAX_BUCKETS, ceil(bytes / BUCKET_BYTES)).
BUCKET_BYTES = 4 << 20
MAX_BUCKETS = 32


def bucket_count(input_bytes: int) -> int:
    """Turn-grain bucket count for an unbucketed input of this many bytes."""
    return min(MAX_BUCKETS, max(1, math.ceil(input_bytes / BUCKET_BYTES)))


def kb_digest(data_dir: Path) -> str:
    """sha1 over the KB tables' data files: each file's path relative to
    ``data_dir`` and size, then its bytes. Every delta has its own data
    directory, so a key built from paths or mtimes would never repeat across
    deltas; byte-identical KB tables do."""
    h = hashlib.sha1()
    for name in KB_TABLES:
        for f in storage.data_files(data_dir / f"{name}.parquet"):
            h.update(f"{f.relative_to(data_dir).as_posix()}\0{f.stat().st_size}\0".encode())
            with open(f, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def run_pipeline(
    spark: SparkSession,
    data_dir: str | Path,
    out_dir: str | Path,
    cfg: NELConfig,
    from_stage: str | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the pipeline; returns the stage DataFrames.

    Turn-grain stages checkpoint as conv_id-bucketed Spark tables so stage
    boundaries reuse partitioning (see the stage comments below). The bucket
    count is derived, never passed: a conv_id-bucketed input dictates it, a
    resumed run reuses the count its mentions checkpoint recorded, and
    otherwise :func:`bucket_count` sizes it from the transcripts' bytes.

    Intra-stage materializations (the KB artifacts and the distributed
    connected-components rounds of their build) go through
    `checkpointing.checkpoint`: fault-tolerant `df.checkpoint` when the
    SparkContext has a checkpoint directory (``spark.checkpoint.dir``, on
    DFS storage for a multi-executor cluster), else `localCheckpoint`. The
    directory is part of the KB-artifact key, so a reliable run never reuses
    executor-local blocks."""
    data = Path(data_dir)
    out = Path(out_dir)
    stages = storage.Stages(spark, out, STAGES, "reden-", from_stage)

    # Detection is per-turn, so input splits (parquet row groups) spread a
    # mega-conversation's turns across every task with NO up-front shuffle —
    # this is the salt step of SURVEY.md §4's salt/un-salt dance for free:
    # conversation grouping only happens later via shuffle keys (with AQE skew
    # handling), so no single task ever holds a whole conversation. Guard the
    # degenerate case: a producer that wrote one giant row group would run the
    # dominant map stage on a single task, so repartition ONLY when the scan
    # yields fewer splits than the session's parallelism.
    # Parallelism guard without a shuffle: aim maxPartitionBytes at
    # size/parallelism so the scan itself yields >= defaultParallelism splits
    # (Spark's bytes-per-core heuristic stops helping once openCostInBytes
    # floors the split size — observed: a 40 MB input at local[32] planned 10
    # splits, and the old repartition() fallback then shuffled the whole input,
    # 60 MB of traffic before the first map stage). Splits are only real up to
    # row-group granularity, so the shuffle fallback remains for the degenerate
    # producer that wrote one giant row group.
    min_parallelism = spark.sparkContext.defaultParallelism
    tfiles = storage.data_files(data / "transcripts.parquet")
    total_bytes = sum(f.stat().st_size for f in tfiles)
    # an unreadable footer fails here, as Spark's scan of the same file would
    n_row_groups = sum(pq.ParquetFile(str(f)).metadata.num_row_groups for f in tfiles)
    # 3 waves, not 1: detection cost varies per turn (text length), so a
    # one-wave layout rides its slowest task — 3x finer splits cut the
    # XL-corpus mentions wall 32.8 -> 22.3 s at local[8] (straggler tail
    # absorbed; per-task overhead is amortized by reused python workers)
    split = max(1 << 20, min(128 << 20, total_bytes // (min_parallelism * 3) or 1))
    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    # The override stays in force for the whole pipeline run — the stage
    # checkpoints it sizes are written at the same data scale as transcripts —
    # and is restored on exit so reads on the shared session afterward
    # (arbitrarily larger or smaller tables) plan splits from their own default.
    try:
        transcripts = storage.read_input(spark, data, "transcripts")
        in_bucketing = (
            storage.read_manifest(data, "transcripts.parquet").get("spark_bucketed")
            if storage.stage_exists(data, "transcripts.parquet")
            else None
        )
        if in_bucketing is None and (
            n_row_groups < min_parallelism
            and transcripts.rdd.getNumPartitions() < min_parallelism
        ):
            transcripts = transcripts.repartition(min_parallelism)
        # KB artifacts from the registry (no KB table is read) or built here;
        # only a run that computes a KB-consuming stage needs them.
        if not all(storage.stage_exists(out, st) for st in STAGES[:4]):

            def build() -> KBArtifacts:
                tables = [storage.read_input(spark, data, name) for name in KB_TABLES]
                return build_kb(*tables)

            with stages.group("kb"):
                key = (
                    spark.sparkContext.applicationId,
                    kb_digest(data),
                    spark.sparkContext.getCheckpointDir(),
                )
                kb = checkpointing.recent(_KB_REGISTRY, key, build, KB_REGISTRY_SIZE)

        # Turn-grain checkpoints (mentions, candidates, links) are Spark-native
        # BUCKETED TABLES on conv_id (storage.write_stage spark_bucketed):
        # their scans report HashPartitioning(conv_id, n_buckets), so every
        # downstream distinct/groupBy/join whose keys contain conv_id reuses
        # the stage boundary's partitioning instead of re-shuffling — the
        # round-2 profile's 237 MB links-stage and 310 MB triples-stage
        # turn-grain shuffles collapse to the small (conversation-grain) join
        # sides. Cost: ONE compact shuffle at the mentions write (the rows the
        # links stage used to shuffle twice); candidates and links inherit the
        # partitioning through narrow ops, so their bucketed writes are
        # shuffle-free (pre_shuffle=False). This is the parquet+session-catalog
        # restatement of what an Iceberg bucket(conv_id) partition transform
        # provides natively. Trade-offs at 100 TB: scan parallelism of a
        # bucketed read is one task per bucket and AQE cannot coalesce a
        # scan, so n_buckets is sized from the input's bytes when the stage is
        # written (bucket_count: a 2,000-turn delta gets one bucket, not 32
        # mostly empty ones), and a skewed conversation stays in one bucket
        # task (AQE skew-split does not apply to the unshuffled side).
        # When the INPUT transcripts table is itself bucketed on conv_id (the
        # production Iceberg layout: bucket(conv_id) applied at ingest, paid
        # once per corpus rather than once per run), detection — a pure map —
        # inherits the partitioning and the mentions checkpoint write is
        # completely shuffle-free; the bucket count follows the input's.
        # Unbucketed inputs (the driver's raw testdata) pay one compact
        # repartition here instead — still strictly less movement than the
        # round-2 layout, which re-shuffled the same rows in the links stage.
        # A resumed run keeps the count its mentions checkpoint recorded, so
        # every turn-grain stage and the triples buckets agree.
        input_bucketed = in_bucketing is not None and in_bucketing.get("col") == "conv_id"
        if storage.stage_exists(out, "mentions"):
            n_buckets = int(storage.read_manifest(out, "mentions")["spark_bucketed"]["n"])
        elif input_bucketed:
            n_buckets = int(in_bucketing["n"])
        else:
            n_buckets = bucket_count(total_bytes)
        bucketed = {"spark_bucketed": ("conv_id", n_buckets)}
        mentions = stages.run(
            "mentions",
            lambda: detect_mentions(transcripts, kb.terms),
            pre_shuffle=not input_bucketed,
            **bucketed,
        )
        candidates = stages.run(
            "candidates", lambda: generate_candidates(mentions, kb.groups), pre_shuffle=False, **bucketed
        )

        def compute_links() -> DataFrame:
            cases = conversation_cases(mentions, candidates)
            return disambiguate_grouped(mentions, candidates, kb.edges, kb.rels, cases, cfg)

        links = stages.run("links", compute_links, pre_shuffle=False, **bucketed)
        # The product table keeps the hive bucket=N layout (north rule:
        # partitioned output readers can prune), but the bucket ids come from
        # materialize_triples(bucket_into=...): mention triples land in their
        # conversation's links-checkpoint bucket (zero shuffle), entity
        # passthrough triples hash on subj (small repartition).
        triples = stages.run(
            "triples",
            lambda: materialize_triples(links, kb.canon, kb.triples, bucket_into=n_buckets),
            prebucketed=True,
        )

        result = {
            "mentions": mentions,
            "candidates": candidates,
            "links": links,
            "triples": triples,
        }

        gold_path = data / "gold_links.parquet"
        if gold_path.exists():
            def compute_metrics() -> DataFrame:
                records = eval_records(storage.read_input(spark, data, "gold_links"), links, candidates)
                return hachey_metrics(records)

            result["metrics"] = stages.run("metrics", compute_metrics)
    finally:
        # restore even when the session had no explicit prior value (conf.get
        # with a fallback bypasses the registered SQL default) — unset then
        if prev_split is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
        else:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")

    stages.close()
    return result


def main() -> None:
    from reden_spark.datagen import BASE_PREFIX
    from reden_spark.session import get_spark

    ap = argparse.ArgumentParser(description="REDEN-on-Spark KG construction pipeline")
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--from-stage", choices=STAGES)
    ap.add_argument(
        "--master", default=None, help="Spark master (default: spark-submit's --master, else local[*])"
    )
    ap.add_argument("--base-prefix", default=BASE_PREFIX)
    ap.add_argument("--preferred-uri", default=BASE_PREFIX, help="preferedURIOrder prefix or 'ALL'")
    ap.add_argument(
        "--centrality",
        default="DegreeCentrality",
        choices=[
            "DegreeCentrality",
            "EigenvectorCentrality",
            "BrandesBetweennessCentrality",
            "FreemanClosenessCentrality",
        ],
        help="centralityMeasure (CentralityHandler.java:137-152)",
    )
    ap.add_argument(
        "--crawl-sameas",
        default="ALL",
        help="restrict sameAs expansion to objects with this prefix (GraphHandlerNEL.java:143-167)",
    )
    ap.add_argument(
        "--properties",
        default=None,
        help="reference-shaped config.properties file (MainNELApp.java:105-123); "
        "maps the 16 keys onto NELConfig, logs dropped knobs; explicit CLI flags win",
    )
    a = ap.parse_args()

    spark = get_spark("reden-pipeline", master=a.master)
    if a.properties:
        from dataclasses import replace

        from reden_spark.plans.properties import nel_config_from_properties

        cfg, dropped = nel_config_from_properties(a.properties)
        for key, reason in sorted(dropped.items()):
            print(f"properties: dropping '{key}' — {reason}")
        # explicit (non-default) CLI flags win over file values
        cli = {
            "base_prefix": (a.base_prefix, BASE_PREFIX),
            "preferred_uri": (a.preferred_uri, BASE_PREFIX),
            "centrality": (a.centrality, "DegreeCentrality"),
            "crawl_sameas": (a.crawl_sameas, "ALL"),
        }
        for field, (arg_val, default) in cli.items():
            if arg_val != default:
                cfg = replace(cfg, **{field: arg_val})
    else:
        cfg = NELConfig(
            base_prefix=a.base_prefix,
            preferred_uri=a.preferred_uri,
            centrality=a.centrality,
            crawl_sameas=a.crawl_sameas,
        )
    t0 = time.time()
    dfs = run_pipeline(spark, a.data_dir, a.out_dir, cfg, a.from_stage)
    n_links = dfs["links"].count()
    n_triples = dfs["triples"].count()
    print(json.dumps({"elapsed_sec": time.time() - t0, "links": n_links, "triples": n_triples}))


if __name__ == "__main__":
    main()
