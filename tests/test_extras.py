"""Curation operators (near-dup pairs, clustering, sampling, packing,
decontamination) vs local DuckDB oracles and Python recomputations on the
driver testdata."""

import duckdb
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def duck(duck_config):
    con = duckdb.connect(config=duck_config)
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')")
    return con


def _duck_shingle_cte(n):
    return f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\W+', ' ', 'g')), ' ') AS words
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_sort(list_distinct(
               [array_to_string(list_slice(words, i, i + {n - 1}), ' ')
                for i in generate_series(1, greatest(len(words) - {n - 1}, 0))])) AS shingles
      FROM toks
    )
    """


def test_minhash_lsh_pairs_vs_duckdb(docs, duck):
    from reden_spark.operators.dedup import minhash_lsh_pairs

    got = {(r.doc_a, r.doc_b, r.jaccard) for r in minhash_lsh_pairs(docs).collect()}
    want = {
        tuple(r)
        for r in duck.sql(
            _duck_shingle_cte(3)
            + """
            , sigbase AS (
              SELECT doc_id, shingles,
                     [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 FOR s IN shingles] AS hv
              FROM sh WHERE len(shingles) > 0
            ), sig AS (
              SELECT doc_id, shingles,
                     [list_min([((1 + h*1000003) * b + 12345 + h*7919) % 2147483647 FOR b IN hv]) FOR h IN range(0, 12)] AS sig
              FROM sigbase
            ), banded AS (
              SELECT doc_id, shingles, unnest(
                [md5(b::VARCHAR || '#' || array_to_string(list_slice(sig, b*3+1, b*3+3), ',')) FOR b IN range(0, 4)]
              ) AS band_key FROM sig
            ), pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.shingles AS sh_a, b.shingles AS sh_b
              FROM banded a JOIN banded b USING (band_key) WHERE a.doc_id < b.doc_id
            )
            SELECT * FROM (
              SELECT doc_a, doc_b,
                     round(len(list_intersect(sh_a, sh_b))::DOUBLE /
                           (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))), 6) AS jaccard
              FROM pairs
            ) WHERE jaccard >= 0.5
            """
        ).fetchall()
    }
    assert got == want


def test_minhash_signatures_match_python(docs):
    """Every signature equals the formula recomputed in plain Python: the
    first 15 hex digits of each shingle's md5 mod P, then the 12 permutation
    minima. The pair-set oracles would miss a wrong signature that still
    yields the fixture's pairs."""
    import hashlib

    from reden_spark.operators.dedup import MINHASH_P, minhash_signatures

    rows = minhash_signatures(docs).collect()
    assert len(rows) > 100
    for r in rows:
        bs = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MINHASH_P for s in r["shingles"]]
        want = [min(((1 + h * 1000003) * b + 12345 + h * 7919) % MINHASH_P for b in bs) for h in range(12)]
        assert r["sig"] == want, r["doc_id"]


def test_minhash_salt_preserves_pairs(docs):
    """salt>1 redistributes hot bands across tasks but must not change the
    candidate pair set. A one-doc band budget forces the salt."""
    from reden_spark.operators import dedup
    from reden_spark.operators.dedup import minhash_lsh_pairs

    base = {(r.doc_a, r.doc_b, r.jaccard) for r in minhash_lsh_pairs(docs).collect()}
    assert dedup._LAST_AUTO_SALT == 1
    salted = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, hot_band_cap=1).collect()
    }
    assert dedup._LAST_AUTO_SALT > 1
    assert base == salted and len(base) > 0


def test_dedup_clusters_transitive_and_keep_policy(docs, spark):
    """dedup_clusters: every doc labeled exactly once; clusters are closed
    under the pair relation (both ends of every pair share a cluster);
    exactly one keep per cluster = argmax (n_chars, -doc_id); singletons
    keep=true. Non-vacuous: the fixture must produce at least one multi-doc
    cluster (it seeds near-duplicate templates)."""
    from reden_spark.operators.curation import dedup_clusters
    from reden_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs)
    out = dedup_clusters(docs, pairs)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == docs.count()  # total assignment, each doc once

    plist = pairs.select("doc_a", "doc_b").collect()
    assert plist, "fixture produced no near-dup pairs — test is vacuous"
    for p in plist:
        assert rows[p["doc_a"]]["cluster_id"] == rows[p["doc_b"]]["cluster_id"]

    by_cluster: dict[int, list] = {}
    for r in rows.values():
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert any(len(m) > 1 for m in by_cluster.values())
    chars = {r["doc_id"]: r["n_chars"] for r in docs.select("doc_id", "n_chars").collect()}
    for cid, members in by_cluster.items():
        assert cid == min(m["doc_id"] for m in members)  # min-id label
        assert all(m["cluster_size"] == len(members) for m in members)
        kept = [m for m in members if m["keep"]]
        assert len(kept) == 1
        best = max(members, key=lambda m: (chars[m["doc_id"]], -m["doc_id"]))
        assert kept[0]["doc_id"] == best["doc_id"]


def test_stratified_sample_exact_counts(docs):
    """Exact per-stratum quota, deterministic across calls, sample is a
    hash-prefix (rank k implies ranks 1..k-1 present)."""
    from reden_spark.operators.curation import stratified_sample

    out = stratified_sample(docs).collect()
    strata = {}
    for r in out:
        strata.setdefault(r["stratum"], []).append(r)
    totals = {r["lang"]: r["cnt"] for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    import math

    assert set(strata) == set(totals)  # every stratum sampled
    for s, members in strata.items():
        want = math.ceil(totals[s] * 0.2)
        assert len(members) == want
        assert sorted(m["sample_rank"] for m in members) == list(range(1, want + 1))
        assert all(m["n_take"] == want and m["n_stratum"] == totals[s] for m in members)
    again = stratified_sample(docs).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(r["doc_id"] for r in out)


def test_pack_sequences_contiguous_offsets(docs):
    """Per shard: offsets are the running sum of token counts in doc_id order
    (contiguous stream, no gaps/overlaps) and seq_idx = start_offset // budget."""
    from reden_spark.operators.curation import pack_sequences

    out = pack_sequences(docs).collect()
    assert len(out) == docs.count()
    shards = {}
    for r in out:
        shards.setdefault(r["shard"], []).append(r)
    assert len(shards) > 1  # hashing actually spreads docs
    for members in shards.values():
        members.sort(key=lambda r: r["doc_id"])
        expect = 0
        for r in members:
            assert r["start_offset"] == expect
            assert r["seq_idx"] == r["start_offset"] // 512
            expect += r["n_tokens"]


def test_decontaminate_flags_exact_overlaps(docs):
    """contaminated <=> the doc shares >= 1 word 8-gram with the holdout,
    recomputed independently in Python; non-vacuous both ways (the fixture's
    near-dup templates split across the hash-sampled holdout)."""
    from reden_spark.operators.curation import decontaminate, stratified_sample

    import re

    samp_ids = {r["doc_id"] for r in stratified_sample(docs).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}

    def grams(t):
        words = [w for w in re.sub(r"\W+", " ", t.lower()).strip().split(" ") if w]
        return {" ".join(words[i : i + 8]) for i in range(len(words) - 7)}

    hold = set().union(*(grams(texts[i]) for i in samp_ids)) if samp_ids else set()
    train = docs.join(docs.sparkSession.createDataFrame([(i,) for i in samp_ids], "doc_id long"), "doc_id", "left_anti")
    out = {r["doc_id"]: r for r in decontaminate(train, docs.filter(F.col("doc_id").isin(samp_ids))).collect()}
    assert set(out) == set(texts) - samp_ids  # full training assignment
    flagged = {i for i, r in out.items() if r["contaminated"]}
    expect = {i for i in out if grams(texts[i]) & hold}
    assert flagged == expect
    assert flagged and (set(out) - flagged)  # both classes present
    for i, r in out.items():
        assert r["n_hit_shingles"] == len(grams(texts[i]) & hold)


def test_curation_edge_cases(docs, spark, monkeypatch):
    """Empty pair set -> every doc a kept singleton; SAMPLE_FRACTION=1.0 -> the
    sample IS the corpus (exact quotas hold at the boundary)."""
    from reden_spark.operators import curation
    from reden_spark.operators.curation import dedup_clusters, stratified_sample

    empty_pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    out = dedup_clusters(docs, empty_pairs).collect()
    n = docs.count()
    assert len(out) == n
    assert all(r["keep"] and r["cluster_size"] == 1 and r["cluster_id"] == r["doc_id"] for r in out)

    monkeypatch.setattr(curation, "SAMPLE_FRACTION", 1.0)
    full = stratified_sample(docs).collect()
    assert len(full) == n
    assert all(r["n_take"] == r["n_stratum"] for r in full)


def test_null_text_behaves_as_empty(spark, monkeypatch):
    """NULL text must flow through every text reader as '' on BOTH engines
    (round-4 ADVICE: un-coalesced size() yields NULL on the Spark side vs a
    NULL row in DuckDB — the fixtures have no NULL text, so this pins the
    hazard with an explicit one)."""
    from reden_spark.operators import curation
    from reden_spark.operators.curation import decontaminate, pack_sequences
    from reden_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )

    def by_id(df):
        return {r["doc_id"]: tuple(r)[1:] for r in df.collect()}

    # one shard, so doc 2's start_offset follows doc 1's token count
    monkeypatch.setattr(curation, "PACK_SHARDS", 1)
    packed = by_id(pack_sequences(docs))
    decon = by_id(decontaminate(docs, docs))
    for got in (packed, decon):
        assert all(v is not None for row in got.values() for v in row), got
        assert got[1] == got[2], (got[1], got[2])
    assert packed[1] == (0, 0, 0, 0) and packed[3] == (0, 9, 0, 0)
    assert decon[1] == (0, False) and decon[3] == (2, True)
    # docs without a shingle get no signature row, NULL and '' alike
    assert set(by_id(minhash_signatures(docs))) == {3}


def _boilerplate_docs(spark):
    """120 boilerplate clones (one giant band) + 60 distinct docs (ids >= 1000)."""
    rows = [(i, "shared boilerplate header repeated across the corpus body") for i in range(120)]
    rows += [
        (1000 + i, f"unique document number {i} with its own words alpha{i} beta{i} gamma{i}")
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_auto_salt_engages_on_boilerplate(spark):
    """A boilerplate-heavy corpus must arm the hot-band salt from its band
    sizes alone, and the pair set must equal the unsalted plan's exactly
    (VERDICT r4 task #5)."""
    from reden_spark.operators import dedup
    from reden_spark.operators.dedup import auto_salt_for, minhash_lsh_pairs

    # pure-function decision rule
    assert auto_salt_for(100, cap=10_000) == 1
    assert auto_salt_for(10_001, cap=10_000) == 2
    assert auto_salt_for(1_000_000, cap=10_000) == dedup.MAX_SALT == 64  # bounded
    with pytest.raises(ValueError, match="hot_band_cap"):
        auto_salt_for(5, cap=0)  # CLI-reachable misconfiguration

    docs = _boilerplate_docs(spark)

    # the default budget holds the 120-doc band: unsalted plan
    base = sorted(map(tuple, minhash_lsh_pairs(docs).collect()))
    assert dedup._LAST_AUTO_SALT == 1
    auto = sorted(
        map(tuple, minhash_lsh_pairs(docs, hot_band_cap=50).collect())
    )
    assert dedup._LAST_AUTO_SALT is not None and dedup._LAST_AUTO_SALT > 1
    assert auto == base and len(base) >= 120 * 119 // 2  # every clone pair found

    # quiet corpus: the probe must leave the plan unsalted
    minhash_lsh_pairs(docs.filter("doc_id >= 1000"), hot_band_cap=50).collect()
    assert dedup._LAST_AUTO_SALT == 1


def test_jaccard_check_width_follows_pair_bound(spark):
    """The exact-Jaccard check runs on as many tasks as the band probe's
    candidate-pair bound asks for: several for the 120-clone band, exactly
    one for the quiet slice, and neither changes a pair."""
    import re

    from reden_spark.operators.dedup import minhash_lsh_pairs

    def width(df):
        return re.findall(r"Repartition (\d+), true", df._jdf.queryExecution().analyzed().toString())

    docs = _boilerplate_docs(spark)
    pairs = minhash_lsh_pairs(docs)
    got = sorted(map(tuple, pairs.collect()))
    assert pairs.rdd.getNumPartitions() > 1 and width(pairs) == [str(pairs.rdd.getNumPartitions())]
    assert [p[:2] for p in got if p[0] < 120] == [(a, b) for a in range(120) for b in range(a + 1, 120)]

    quiet = minhash_lsh_pairs(docs.filter("doc_id >= 1000"))
    # its candidate set is empty, so AQE drops the check's one task at run time
    assert width(quiet) == ["1"] and quiet.rdd.getNumPartitions() <= 1
    assert sorted(map(tuple, quiet.collect())) == [p for p in got if p[0] >= 1000]
