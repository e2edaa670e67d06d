"""The five-stage checkpointed CURATION pipeline — the end-to-end recipe a
100 TB training-data run executes over a `documents` corpus:

    documents -> pairs -> clusters -> holdout -> decontam -> packed

Each stage reads the previous stage's checkpoint and writes its own
(manifest + per-partition lineage counters) through `storage.Stages`, the
stage runner the KG pipeline in plans/pipeline.py uses too: job group
`reden-cur-<stage>`, `_timings.json`, and `--from-stage` (or a
missing/invalidated manifest) recomputes from that point. Launchable via

    spark-submit --py-files dist/reden_spark.zip reden_spark/plans/curation.py \
        --data-dir /root/testdata/sf0.01 --out-dir /tmp/curation_out

Stage semantics (exact twins of the contract row `curation_pipeline` and its
DuckDB oracle, driver_contract.O_CURATION_PIPELINE):

* pairs    — MinHash-LSH near-dup candidate pairs, exact-Jaccard verified
             (operators/dedup.minhash_lsh_pairs). The only corpus-quadratic
             hazard of the whole recipe, banded, with an auto hot-band salt.
* clusters — transitive closure of the pair graph + keep-best-doc policy
             (operators/curation.dedup_clusters; reuses the KG
             connected-components operator).
* holdout  — deterministic stratified eval carve-out over the FULL corpus
             (eval membership is decided before dedup policy, so a duplicate
             of an eval doc can never leak into training via its kept twin).
* decontam — flag kept training docs sharing any word 8-gram with the holdout
             (operators/curation.decontaminate).
* packed   — concat-and-chunk sequence packing of the clean survivors into
             sharded ~budget-token training sequences
             (operators/curation.pack_sequences), joined with cluster
             provenance — one row per packed doc, the table a trainer reads.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# absolute imports + bootstrap so the module works BOTH as a package member
# and as a bare script path handed to spark-submit (which runs the file as
# __main__ with no parent package — relative imports would raise ImportError
# before main() ever ran)
if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from reden_spark.operators.curation import (  # noqa: E402
    decontaminate,
    dedup_clusters,
    pack_sequences,
    stratified_sample,
)
from reden_spark.operators.dedup import minhash_lsh_pairs  # noqa: E402
from reden_spark.sources import storage  # noqa: E402

STAGES = ["pairs", "clusters", "holdout", "decontam", "packed"]


def run_curation(
    spark: SparkSession,
    data_dir: str | Path,
    out_dir: str | Path,
    from_stage: str | None = None,
    hot_band_cap: int = 10_000,
) -> dict[str, DataFrame]:
    """Run (or resume) the curation pipeline; returns the stage DataFrames.

    Scale shape: `pairs`/`clusters` are dup-sized (orders smaller than the
    corpus); `holdout` is fraction-sized; only `decontam` and `packed` are
    corpus-sized, and both are one-shuffle operators. Checkpointing the pair
    table is what a real run does too — every downstream policy change
    (keep-policy, threshold sweeps) re-reads it instead of re-running the
    corpus-dominant shingle/signature pass.

    The recipe is the operators' module constants, stated once there:
    12 MinHash permutations over word 3-gram shingles in 4 bands, Jaccard
    >= 0.5 (``operators/dedup.py``); a 20% holdout stratified on `lang`,
    decontamination on word 8-grams and packing into 512-token sequences
    over 8 shards (``operators/curation.py``). ``hot_band_cap`` is the pairs
    stage's per-band budget before its auto salt engages.
    """
    stages = storage.Stages(spark, out_dir, STAGES, "reden-cur-", from_stage)
    docs = storage.read_input(spark, data_dir, "documents")

    pairs = stages.run("pairs", lambda: minhash_lsh_pairs(docs, hot_band_cap=hot_band_cap))
    clusters = stages.run("clusters", lambda: dedup_clusters(docs, pairs))
    holdout_ids = stages.run("holdout", lambda: stratified_sample(docs).select("doc_id", "stratum"))

    def compute_decontam() -> DataFrame:
        kept = clusters.filter("keep").select("doc_id")
        train = docs.join(kept, "doc_id", "left_semi").join(holdout_ids, "doc_id", "left_anti")
        holdout = docs.join(holdout_ids, "doc_id", "left_semi")
        return decontaminate(train, holdout)

    decontam = stages.run("decontam", compute_decontam)

    def compute_packed() -> DataFrame:
        clean_ids = decontam.filter(~F.col("contaminated")).select("doc_id")
        kept = clusters.filter("keep").select("doc_id")
        clean = (
            docs.join(kept, "doc_id", "left_semi")
            .join(holdout_ids, "doc_id", "left_anti")
            .join(clean_ids, "doc_id", "left_semi")
        )
        return pack_sequences(clean).join(
            clusters.select("doc_id", "cluster_id", "cluster_size"), "doc_id"
        ).select(
            "doc_id", "cluster_id", "cluster_size", "shard", "n_tokens", "start_offset", "seq_idx"
        )

    packed = stages.run("packed", compute_packed)

    stages.close()
    return {
        "pairs": pairs,
        "clusters": clusters,
        "holdout": holdout_ids,
        "decontam": decontam,
        "packed": packed,
    }


def main() -> None:
    from reden_spark.session import get_spark

    ap = argparse.ArgumentParser(description="training-data curation pipeline")
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--from-stage", choices=STAGES)
    ap.add_argument(
        "--master", default=None, help="Spark master (default: spark-submit's --master, else local[*])"
    )
    ap.add_argument(
        "--hot-band-cap",
        type=int,
        default=10_000,
        help="per-band comparison budget (cap^2 pairs per task) before the auto salt engages",
    )
    a = ap.parse_args()

    spark = get_spark("reden-curation", master=a.master)
    t0 = time.time()
    dfs = run_curation(spark, a.data_dir, a.out_dir, a.from_stage, a.hot_band_cap)
    print(
        json.dumps(
            {
                "elapsed_sec": time.time() - t0,
                "pairs": dfs["pairs"].count(),
                "packed": dfs["packed"].count(),
            }
        )
    )


if __name__ == "__main__":
    main()
