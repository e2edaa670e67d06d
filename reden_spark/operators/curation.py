"""Corpus-curation operators over `documents`: transitive dedup clustering
with a keep-best-doc policy, and deterministic stratified sampling — the two
decisions a training-data pipeline makes for EVERY document at 100 TB.

Both are pure DataFrame compositions with exact DuckDB oracles. The dedup
clusterer deliberately reuses the KG pipeline's connected-components operator
(canonicalize.connected_components): near-dup pairs are an equivalence
relation exactly like owl:sameAs edges, so the same union-find fast path /
pointer-jumping machinery applies (the reference's sameAs closure,
GraphHandlerNEL.java:114-197, is the semantic ancestor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..checkpointing import shared


def dedup_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, keep) for EVERY document.

    `pairs` is any near-dup pair frame (doc_a, doc_b[, ...]) — exact, MinHash,
    n-gram-Jaccard, SimHash or embedding pairs all fit. Clusters are the
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


def stratified_sample(docs: DataFrame, fraction: float = 0.2, stratum_col: str = "lang") -> DataFrame:
    """Deterministic EXACT stratified sample: per stratum, take the
    ceil(n * fraction) docs with the smallest md5-derived hash
    (doc_id tie-break). Returns (doc_id, stratum, sample_rank, n_stratum,
    n_take) — exactly n_take rows per stratum, reproducible across engines
    and runs (no RNG: the hash IS the sampling order).

    Scale shape: one window shuffle keyed on the stratum. A dominant stratum
    makes one partition hot; when exact per-stratum counts are not required,
    the map-only Bernoulli variant — keep iff hash % M < fraction*M, zero
    shuffle — is the 100 TB default and this exact variant is the auditable
    small-stratum path (rare-language quotas, eval holdouts).
    """
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
    hashed = docs.select("doc_id", F.col(stratum_col).alias("stratum")).withColumn("h", h)
    counts = hashed.groupBy("stratum").agg(
        F.count("*").alias("n_stratum"),
        F.ceil(F.count("*") * F.lit(fraction)).cast("long").alias("n_take"),
    )
    w = Window.partitionBy("stratum").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    return (
        hashed.withColumn("sample_rank", F.row_number().over(w))
        .join(F.broadcast(counts), "stratum")
        .filter(F.col("sample_rank") <= F.col("n_take"))
        .select("doc_id", "stratum", "sample_rank", "n_stratum", "n_take")
    )


def pack_sequences(docs: DataFrame, budget: int = 512, n_shards: int = 8) -> DataFrame:
    """Concat-and-chunk sequence packing for pretraining: assign every doc to
    a (shard, seq_idx) training sequence of ~`budget` tokens. Docs are
    concatenated in doc_id order within a shard and split at token-budget
    boundaries (seq_idx = floor(start_offset / budget) — the standard
    "concatenate then chunk" packing; a doc may straddle a boundary, exactly
    as pretraining token streams do). Returns (doc_id, shard, n_tokens,
    start_offset, seq_idx).

    Scale shape: a GLOBAL packing order would serialize the corpus through
    one cumulative-sum partition; instead docs are hashed into `n_shards`
    independent streams (set n_shards ~ writer parallelism at 100 TB) and
    each shard packs via one ordered-window running sum. The md5-derived
    shard hash makes the assignment engine-portable and RNG-free.
    """
    from .dedup import tokens

    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
    toks = docs.select(
        "doc_id",
        F.pmod(h, F.lit(n_shards)).alias("shard"),
        F.size(F.filter(tokens(F.col("text")), lambda t: t != "")).alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    return toks.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long").alias("start_offset"),
    ).withColumn("seq_idx", (F.col("start_offset") / budget).cast("long"))


def pack_sequences_greedy(docs: DataFrame, budget: int = 512, n_shards: int = 8) -> DataFrame:
    """Boundary-respecting sequence packing: greedy first-fit in doc_id order
    within each shard — a document NEVER straddles a sequence boundary (the
    alternative packing discipline to :func:`pack_sequences`' concat-and-
    chunk; used when examples must stay whole, e.g. SFT corpora). A doc that
    does not fit the current sequence's remaining budget opens the next
    sequence; an over-budget doc gets a sequence of its own. Returns
    (doc_id, shard, n_tokens, seq_idx, offset_in_seq).

    The per-shard fill state is a prefix-dependent recursion (each doc's
    placement depends on every earlier placement), which no window frame
    expresses — this is exactly the applyInPandas escape hatch (SURVEY.md
    §2.7): one grouped kernel per shard, arriving sorted in one Arrow batch
    stream. The DuckDB oracle states the same recursion as a recursive CTE.
    Scale shape: n_shards independent groups (set ~ writer parallelism);
    state per group is three integers.
    """
    import pandas as pd

    from .dedup import tokens

    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
    toks = docs.select(
        "doc_id",
        F.pmod(h, F.lit(n_shards)).alias("shard"),
        F.size(F.filter(tokens(F.col("text")), lambda t: t != "")).alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seq, fill = -1, budget + 1  # force a new sequence for the first doc
        seqs, offs = [], []
        for n in pdf["n_tokens"]:
            if fill + n <= budget:
                offs.append(fill)
                fill += n
            else:
                seq += 1
                offs.append(0)
                fill = n
            seqs.append(seq)
        pdf["seq_idx"] = pd.Series(seqs, dtype="int64")
        pdf["offset_in_seq"] = pd.Series(offs, dtype="int64")
        return pdf

    schema = "doc_id long, shard long, n_tokens int, seq_idx long, offset_in_seq long"
    return toks.groupBy("shard").applyInPandas(pack, schema)


def decontaminate(docs: DataFrame, holdout: DataFrame, shingle_n: int = 8) -> DataFrame:
    """Benchmark decontamination: flag every training doc that shares at least
    one word `shingle_n`-gram with any holdout/eval doc. Returns
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
            "doc_id", F.explode(word_shingles(F.col("text"), shingle_n)).alias("shingle")
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


def domain_filter(docs: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Domain blocklist decision — the second half of C4/RefinedWeb-style URL
    curation (textstats.url_extract is the inventory half): explode each doc's
    extracted hosts and flag the ones on the blocklist. Returns one row per
    (doc, domain) occurrence set: (doc_id, domain, blocked); docs without URLs
    emit no rows (they have no decision to make).

    `blocklist` is a (domain) frame — normalized with the SAME rule as the
    document side (lowercase, leading-www. strip; real-world blocklists mix
    spellings) and deduped so a repeated entry cannot duplicate output rows.
    Scale shape: blocklists are
    KB-to-MB even for millions of domains, so the join is broadcast-hinted;
    the explode is map-only. Spark honours an explicit broadcast hint
    whatever the build side's size, and AQE does not override it: a blocklist
    too large to collect to the driver and ship to every executor needs the
    hint removed.
    """
    from .textstats import _domains, _text

    doms = docs.select(
        "doc_id", F.explode(F.array_distinct(_domains(_text()))).alias("domain")
    )
    bl = blocklist.select(
        F.regexp_replace(F.lower(F.col("domain")), r"^www\.", "").alias("_bl_domain")
    ).distinct()
    return doms.join(
        F.broadcast(bl), doms["domain"] == bl["_bl_domain"], "left"
    ).select("doc_id", "domain", F.col("_bl_domain").isNotNull().alias("blocked"))


def shuffle_deterministic(docs: DataFrame, seed: int = 0) -> DataFrame:
    """Seeded deterministic global shuffle — the last step of a training-data
    recipe (fix the example order so a run is reproducible): (doc_id, position)
    with position = the doc's 1-based rank under ORDER BY md5(seed:doc_id).
    No RNG: the keyed hash IS the permutation, so any engine reproduces it.

    Scale shape: a naive global row_number() serializes the corpus through ONE
    window partition — the classic total-order bottleneck. Instead this uses
    the distributed-rank pattern: the first two hex chars of the hash split
    the corpus into 256 uniform buckets (a prefix of the sort key, so bucket
    order IS global order); per-bucket counts (exactly <=256 rows, the one
    bounded collect) prefix-sum into offsets on the driver; each bucket then
    ranks independently in parallel and adds its offset. The hashed projection
    is materialized once (checkpointing.shared) so the counts probe and the
    final ranking share ONE corpus scan + md5 pass; one shuffle, 256-way
    parallel sort, no single-task stage at any corpus size.
    """
    k = F.md5(F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string")))
    hashed = shared(docs.select("doc_id", k.alias("_k"), F.substring(k, 1, 2).alias("_b")))
    counts = {
        r["_b"]: r["cnt"]
        for r in hashed.groupBy("_b").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    off_map = F.create_map(
        *[lit for b in sorted(offsets) for lit in (F.lit(b), F.lit(offsets[b]))]
    )
    w = Window.partitionBy("_b").orderBy(F.col("_k").asc(), F.col("doc_id").asc())
    return hashed.select(
        "doc_id",
        (F.row_number().over(w) + off_map[F.col("_b")]).cast("long").alias("position"),
    )


def domain_cap(docs: DataFrame, cap: int = 3, n_salt: int = 8) -> DataFrame:
    """Per-domain quota cap — the third leg of C4/RefinedWeb-style URL
    curation (url_extract inventories, domain_filter blocklists, this one
    bounds over-represented hosts): keep at most `cap` documents per extracted
    domain, deterministically the first `cap` by doc_id ascending. Returns the
    capped corpus as (doc_id, domain, domain_rank) with domain_rank <= cap;
    docs without URLs emit no rows (they are never domain-capped).

    Scale shape: a naive row_number() over (domain) lands a hot domain's
    entire row set on ONE task — at crawl scale a single host can be a
    billion rows. Two-phase rank instead: stage 1 ranks within (domain, salt)
    where salt = crc32(doc_id) % n_salt and keeps rank <= cap. Any doc in the
    domain's global first `cap` has < cap docs before it globally, hence
    < cap before it in its own salt shard — so stage 1's survivors are a
    provable superset of the answer, and at most cap * n_salt rows per domain
    reach stage 2's exact re-rank. Both stages are keyed window functions
    (no total sort); the explode is map-only.
    """
    from .textstats import _domains, _text
    from pyspark.sql.window import Window

    pairs = docs.select(
        "doc_id", F.explode(F.array_distinct(_domains(_text()))).alias("domain")
    )
    salted = pairs.withColumn(
        "_salt", F.crc32(F.col("doc_id").cast("string")) % n_salt
    )
    w1 = Window.partitionBy("domain", "_salt").orderBy(F.col("doc_id").asc())
    survivors = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= cap)
        .drop("_salt", "_r1")
    )
    w2 = Window.partitionBy("domain").orderBy(F.col("doc_id").asc())
    return (
        survivors.withColumn("domain_rank", F.row_number().over(w2))
        .filter(F.col("domain_rank") <= cap)
        .select("doc_id", "domain", F.col("domain_rank").cast("int").alias("domain_rank"))
    )
