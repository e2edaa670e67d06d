"""Near-duplicate detection over the `documents` table: banded MinHash-LSH
with exact Jaccard verification (the pair source of `run_curation`), plus the
text normalization, word tokenizer and word shingles every documents operator
shares.

Engine-portability note: hash primitives are md5 hex strings (identical in Spark
and DuckDB), so every operator has an exact DuckDB oracle. All operators are
pure DataFrame expressions, with no Python in the hot path. The per-shingle
digest and the MinHash permutations run in whole-stage generated code (an
explode and one hash aggregate); the shingle builder :func:`word_shingles`
stays a SQL lambda chain, which Spark interprets (``transform`` has no
generated code).

Scale notes: MinHash signatures are a per-document aggregate; the band-bucket
join is a self-join on band_key, quadratic ONLY within a bucket (that is the
point of banding). The auto salt spreads a hot band over several tasks, and
the exact-Jaccard check runs on as many tasks as the candidate-pair bound
asks for (see :func:`minhash_lsh_pairs`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpointing import checkpoint, shared


def norm_text(col):
    """lowercase, collapse non-word runs to single spaces, trim; NULL as empty
    (the DuckDB oracles COALESCE the same way)."""
    return F.trim(F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))), r"\W+", " "))


def tokens(col):
    """Words of :func:`norm_text`. NULL text tokenizes as empty text: size()
    would otherwise return NULL on the Spark side against DuckDB's NULL-row
    semantics (a latent parity split)."""
    return F.split(norm_text(col), " ")


def word_shingles(col, n: int):
    """Word n-gram shingles of the `text` column as array<string> (distinct,
    sorted). Expressed as a SQL lambda chain so the DuckDB oracle can mirror the
    exact same formula."""
    del col  # shingles always read the `text` column (SQL-parity formula below)
    words = "split(trim(regexp_replace(lower(coalesce(text, '')), '\\\\W+', ' ')), ' ')"
    # NB: Spark's sequence(1, 0) is DESCENDING (not empty) — guard short texts.
    # The split is bound to a lambda variable `w` via a 1-element-array
    # transform so it evaluates ONCE per row: textually inlining it in the
    # gram lambda re-runs the regexp+split per shingle ELEMENT (~n_words
    # evaluations per doc — the digest-pass hazard minhash_signatures already
    # documents, measured ~30x on the 2 M-doc corpus for the same shape).
    grams = F.expr(
        f"flatten(transform(array({words}), w -> "
        f"case when size(w) >= {n} then "
        f"transform(sequence(1, size(w) - {n - 1}), "
        f"i -> array_join(slice(w, i, {n}), ' ')) "
        f"else array() end))"
    )
    return F.array_sort(F.array_distinct(grams))


def _fan_out(docs: DataFrame) -> DataFrame:
    """Spread a narrow scan across the cluster before the shingle/digest pass.

    Parquet splits stop at row-group granularity: a producer that wrote one
    giant row group (the driver's testdata does) pins the whole
    CPU-dominant hashing pass to a single task regardless of
    maxPartitionBytes — measured 51 s -> 6.6 s for the signature pass on the
    sf0.1 documents table at local[32]. The repartition is a no-op cost at
    scale (real corpora arrive in thousands of splits and skip this branch).
    """
    n = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < n:
        return docs.repartition(n)
    return docs


MINHASH_P = 2_147_483_647  # 2^31 - 1

# The curation recipe's near-duplicate test: N_HASHES MinHash permutations over
# word SHINGLE_N-gram shingles, banded into BANDS bands of N_HASHES / BANDS
# rows, and a candidate pair kept at exact Jaccard >= THRESHOLD.
N_HASHES = 12
SHINGLE_N = 3
BANDS = 4
THRESHOLD = 0.5


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles, sig array<bigint>): one base hash per word
    SHINGLE_N-gram shingle, N_HASHES arithmetic permutations of it.

        b(s)   = bigint(md5(s)[0:15 hex]) mod P          (P = 2^31-1)
        sig[h] = min over shingles of ((1 + h*1000003)*b(s) + 12345 + h*7919) mod P

    The permutation family replaces the earlier md5-per-(hash, shingle)
    formula: the digest pass over the corpus — the dominant cost of dedup at
    scale — runs once instead of N_HASHES times (measured ~3x on the sf0.1
    contract corpus). Multiplier (<2^24) x base (<2^31) stays well inside
    bigint. The DuckDB oracles state the identical formula
    (('0x' || substr(md5(s),1,15))::BIGINT on that side — verified equal to
    Spark's conv(substring(md5(s),1,15),16,10)).

    The shingles are exploded to one row per (doc, shingle), and the N_HASHES
    minima are one hash aggregate by doc_id, joined back onto the shingle
    frame. Explode, digest and aggregate all run in whole-stage generated
    code; as nested ``transform`` lambdas over the shingle array they were
    interpreted, N_HASHES x n_shingles lambda calls per document. The shingle
    frame feeds both sides of that join, so it is checkpointed once. doc_id
    is the documents' key.

    Empty-shingle docs get no row and are excluded.
    """
    sh = checkpoint(
        _fan_out(docs)
        .select("doc_id", word_shingles(F.col("text"), SHINGLE_N).alias("shingles"))
        .filter(F.size("shingles") > 0)
    )
    base = sh.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id", F.expr(f"cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint) % {MINHASH_P}L").alias("b")
    )
    mins = [
        F.expr(f"min(({1 + h * 1000003} * b + {12345 + h * 7919}) % {MINHASH_P}L)").alias(f"m{h}")
        for h in range(N_HASHES)
    ]
    sig = base.groupBy("doc_id").agg(*mins)
    sig = sig.select("doc_id", F.array(*(f"m{h}" for h in range(N_HASHES))).alias("sig"))
    return sh.join(sig, "doc_id").select("doc_id", "shingles", "sig")


# last auto-salt decision (observability hook for tests and operators: a
# 100 TB run discovers band skew at runtime, so the probe's verdict should be
# inspectable after the fact)
_LAST_AUTO_SALT: int | None = None


# Upper bound of the auto salt: the right side of the pair join is replicated
# once per salt value, so its cost grows linearly with the salt.
MAX_SALT = 64


def auto_salt_for(max_band: int, cap: int) -> int:
    """Salt factor for the observed hottest band: 1 while every band fits the
    per-task comparison budget (cap^2 pairs), else enough salt to shrink the
    hottest band's task back under it, bounded by MAX_SALT."""
    if cap <= 0:
        raise ValueError(f"hot_band_cap must be positive, got {cap}")
    if max_band <= cap:
        return 1
    return min(MAX_SALT, -(-max_band // cap))


# Candidate pairs per task of the exact-Jaccard check, and the most tasks it
# gets. The pair shuffle is a few MB at most, so AQE would coalesce it into one
# partition; the check is CPU-bound (one array_intersect per pair), so its
# width comes from the pair bound the band probe reads, not from the host.
PAIRS_PER_TASK = 10_000
MAX_CHECK_TASKS = 64


def minhash_lsh_pairs(docs: DataFrame, hot_band_cap: int = 10_000) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH, verified with exact Jaccard.

    rows-per-band r = N_HASHES/BANDS; candidates = docs sharing any band key;
    output (doc_a, doc_b, jaccard) with doc_a < doc_b and jaccard >= THRESHOLD.

    A hot-band guard for skewed corpora (e.g. one boilerplate band shared by
    millions of docs) arms from data, not caller foresight: one cheap probe
    over the banded ids (a map-side-combined groupBy().count() max on the
    already-checkpointed signature frame) reads the hottest band size, and
    auto_salt_for(max_band, hot_band_cap) picks the salt, recorded in
    ``_LAST_AUTO_SALT``. With salt > 1 the left side of the pair join gets a
    deterministic salt ``xxhash64(doc_id) % salt`` and the right side is
    replicated to every salt value, so the candidate PAIR SET is unchanged
    (each pair meets exactly once, at the left doc's salt) but a band of size
    B fans out over `salt` tasks of ~B/salt x B instead of one B x B task.
    Pure skew mitigation — identical results (pytest-pinned), `salt`x
    replication cost on the right side.

    The same probe sums C(B, 2) over the bands, an upper bound on the
    candidate pairs, and the distinct pairs are repartitioned into
    ceil(bound / PAIRS_PER_TASK) tasks, at most MAX_CHECK_TASKS, before the
    exact-Jaccard check. Shingle arrays are distinct, so
    |a ∪ b| = |a| + |b| - |a ∩ b| and one array_intersect per pair gives both.
    """
    r = N_HASHES // BANDS
    # signatures are consumed 3x (banding + both sides of the verification
    # join); shared() materializes the digest pass once
    sigs = shared(minhash_signatures(docs))
    banded = sigs.select(
        "doc_id",
        "shingles",
        F.explode(
            F.expr(
                f"transform(sequence(0, {BANDS - 1}), b -> md5(concat(cast(b as string), '#', "
                f"array_join(transform(slice(sig, b*{r}+1, {r}), x -> cast(x as string)), ','))))"
            )
        ).alias("band_key"),
    )
    # dedupe candidate PAIRS on ids only, then re-attach shingle arrays once per
    # side — shuffling/distinct-ing the full arrays through the band join is the
    # expensive anti-pattern this avoids
    left = banded.select(F.col("doc_id").alias("doc_a"), "band_key")
    right = banded.select(F.col("doc_id").alias("doc_b"), "band_key")
    global _LAST_AUTO_SALT
    probe = (
        banded.groupBy("band_key")
        .count()
        .agg(F.max("count").alias("m"), F.expr("sum(count * (count - 1) div 2)").alias("bound"))
        .first()
    )
    salt = _LAST_AUTO_SALT = auto_salt_for(int(probe["m"] or 0), hot_band_cap)
    check_tasks = max(1, min(MAX_CHECK_TASKS, -(-int(probe["bound"] or 0) // PAIRS_PER_TASK)))
    if salt > 1:
        left = left.withColumn("s", F.pmod(F.xxhash64("doc_a"), F.lit(salt)))
        right = right.withColumn("s", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<bigint>")))
        join_keys = ["band_key", "s"]
    else:
        join_keys = ["band_key"]
    pairs = (
        left.join(right, join_keys)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .repartition(check_tasks)
    )
    sh = sigs.select("doc_id", "shingles")
    pairs = (
        pairs.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")), "doc_b")
    )
    # one array_intersect per pair: as the output of a Generate, the
    # intersection size is a column the Jaccard filter cannot be pushed
    # below. Inlined into the join condition it ran twice per pair, because
    # generated join conditions share no subexpressions.
    inter = F.explode(F.array(F.size(F.array_intersect("sh_a", "sh_b")))).alias("inter")
    union = F.size("sh_a") + F.size("sh_b") - F.col("inter")
    return (
        pairs.select("doc_a", "doc_b", "sh_a", "sh_b", inter)
        .withColumn("jaccard", F.round(F.col("inter").cast("double") / union, 6))
        .filter(F.col("jaccard") >= THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )
