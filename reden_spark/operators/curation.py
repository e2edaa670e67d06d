"""Corpus-curation operators over `documents`, the four that `run_curation`
runs: transitive dedup clustering with a keep-best-doc policy, deterministic
stratified sampling, benchmark decontamination and sequence packing.

All are pure DataFrame compositions with exact DuckDB oracles. The dedup
clusterer deliberately reuses the KG pipeline's connected-components operator
(canonicalize.connected_components): near-dup pairs are an equivalence
relation exactly like owl:sameAs edges, so the same union-find fast path /
pointer-jumping machinery applies (the reference's sameAs closure,
GraphHandlerNEL.java:114-197, is the semantic ancestor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# The curation recipe's holdout, decontamination and packing settings: a
# SAMPLE_FRACTION holdout stratified on the STRATUM_COL column, training docs
# flagged on word DECONTAM_SHINGLE_N-grams shared with it, and the survivors
# packed into PACK_BUDGET-token sequences over PACK_SHARDS shards.
SAMPLE_FRACTION = 0.2
STRATUM_COL = "lang"
DECONTAM_SHINGLE_N = 8
PACK_BUDGET = 512
PACK_SHARDS = 8


def dedup_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, keep) for EVERY document.

    `pairs` is any near-dup pair frame (doc_a, doc_b[, ...]), e.g.
    :func:`dedup.minhash_lsh_pairs`. Clusters are the
    connected components of the pair graph; cluster_id = min doc_id of the
    component (singletons are their own cluster). Per cluster exactly one doc
    is kept: argmax n_chars, ties to min doc_id — the standard keep-longest
    near-dup policy.

    Scale shape: the pair graph is dup-sized, orders of magnitude smaller than
    the corpus, so connected_components takes its driver union-find fast path
    (or the O(log d) distributed loop past the probe bound) and the label
    frame broadcasts back onto the corpus. The keep-argmax window shuffles
    ONLY docs that appear in some pair — the untouched majority short-circuits
    to keep=true via an anti-join, never entering the window.
    """
    from .canonicalize import connected_components

    # zero-pad ids so lexicographic CC labels == numeric min (CC is string-typed)
    pad = lambda c: F.format_string("%020d", F.col(c).cast("long"))  # noqa: E731
    edges = pairs.select(pad("doc_a").alias("a"), pad("doc_b").alias("b"))
    labels = connected_components(edges).select(
        F.col("uri").cast("long").alias("doc_id"),
        F.col("canonical").cast("long").alias("cluster_id"),
    )

    dup_docs = docs.join(labels, "doc_id", "inner")
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    dup_out = (
        dup_docs.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(sizes), "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size", (F.col("rn") == 1).alias("keep"))
    )
    singleton_out = docs.join(labels, "doc_id", "left_anti").select(
        "doc_id",
        F.col("doc_id").alias("cluster_id"),
        F.lit(1).cast("long").alias("cluster_size"),
        F.lit(True).alias("keep"),
    )
    return dup_out.unionByName(singleton_out)


def stratified_sample(docs: DataFrame) -> DataFrame:
    """Deterministic EXACT stratified sample: per STRATUM_COL value, take the
    ceil(n * SAMPLE_FRACTION) docs with the smallest md5-derived hash
    (doc_id tie-break). Returns (doc_id, stratum, sample_rank, n_stratum,
    n_take) — exactly n_take rows per stratum, reproducible across engines
    and runs (no RNG: the hash IS the sampling order).

    Scale shape: one window shuffle keyed on the stratum, so a dominant
    stratum makes one partition hot. There is no shuffle-free variant: a
    map-only hash threshold could not hold the exact per-stratum quota the
    holdout needs.
    """
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
    hashed = docs.select("doc_id", F.col(STRATUM_COL).alias("stratum")).withColumn("h", h)
    counts = hashed.groupBy("stratum").agg(
        F.count("*").alias("n_stratum"),
        F.ceil(F.count("*") * F.lit(SAMPLE_FRACTION)).cast("long").alias("n_take"),
    )
    w = Window.partitionBy("stratum").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    return (
        hashed.withColumn("sample_rank", F.row_number().over(w))
        .join(F.broadcast(counts), "stratum")
        .filter(F.col("sample_rank") <= F.col("n_take"))
        .select("doc_id", "stratum", "sample_rank", "n_stratum", "n_take")
    )


def pack_sequences(docs: DataFrame) -> DataFrame:
    """Concat-and-chunk sequence packing for pretraining: assign every doc to
    a (shard, seq_idx) training sequence of ~PACK_BUDGET tokens. Docs are
    concatenated in doc_id order within a shard and split at token-budget
    boundaries (seq_idx = floor(start_offset / PACK_BUDGET) — the standard
    "concatenate then chunk" packing; a doc may straddle a boundary, exactly
    as pretraining token streams do). Returns (doc_id, shard, n_tokens,
    start_offset, seq_idx).

    Scale shape: a GLOBAL packing order would serialize the corpus through
    one cumulative-sum partition; instead docs are hashed into PACK_SHARDS
    independent streams (PACK_SHARDS ~ writer parallelism at 100 TB) and
    each shard packs via one ordered-window running sum. The md5-derived
    shard hash makes the assignment engine-portable and RNG-free.
    """
    from .dedup import tokens

    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
    toks = docs.select(
        "doc_id",
        F.pmod(h, F.lit(PACK_SHARDS)).alias("shard"),
        F.size(F.filter(tokens(F.col("text")), lambda t: t != "")).alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    return toks.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long").alias("start_offset"),
    ).withColumn("seq_idx", (F.col("start_offset") / PACK_BUDGET).cast("long"))


def decontaminate(docs: DataFrame, holdout: DataFrame) -> DataFrame:
    """Benchmark decontamination: flag every training doc that shares at least
    one word DECONTAM_SHINGLE_N-gram with any holdout/eval doc. Returns
    (doc_id, n_hit_shingles, contaminated) for EVERY training doc.

    The standard pre-training hygiene pass (eval-set n-gram collision, à la
    the 13-gram filters in public LLM data recipes — 8 here because the
    fixture's docs are short). Holdout shingles are deduped first; the join is
    shingle-equality (one shuffle keyed on the n-gram, or a broadcast when the
    holdout is benchmark-sized — the common case, left to AQE), counted
    per doc, then left-joined back so clean docs report 0/false.
    """
    from .dedup import word_shingles

    def sh(df):
        return df.select(
            "doc_id", F.explode(word_shingles(F.col("text"), DECONTAM_SHINGLE_N)).alias("shingle")
        )

    hold = sh(holdout).select("shingle").distinct()
    hits = (
        sh(docs)
        .join(hold, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_shingles"))
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hit_shingles", F.lit(0)).cast("long").alias("n_hit_shingles"),
        (F.coalesce("n_hit_shingles", F.lit(0)) > 0).alias("contaminated"),
    )
