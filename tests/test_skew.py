"""Adversarial conversation skew: one 500x mega-conversation.

SURVEY.md §7 hazard 6 / the north rule's explicit skew requirement. The links
stage runs one grouped-map task per conversation, and that task's work is
conversation x distinct-mention grain: graph fusion/pruning/centrality are
bounded by the conversation's ENTITY set, not its turn count. Detection
spreads a mega-conversation's turns across input splits with no up-front
shuffle (the "salt for free" of SURVEY §4). These tests pin both properties on
a corpus whose conversation 0 is 500x the median, plus grouped == oracle
output parity under that skew."""

import pytest

from pyspark.sql import functions as F

from reden_spark import datagen, oracle
from reden_spark.operators.candidates import conversation_cases, generate_candidates
from reden_spark.operators.disambiguate import NELConfig, fuse_edges
from reden_spark.operators.grouped import disambiguate_grouped
from reden_spark.operators.kb import build_kb
from reden_spark.operators.mentions import detect_mentions

CFG = NELConfig(base_prefix=datagen.BASE_PREFIX, preferred_uri=datagen.BASE_PREFIX)


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("skew") / "sf500x"
    # conversation 0 gets 500 x ~50 turns (~25k); 11 normal conversations
    datagen.generate(out, n_convs=12, mean_turns=50, skew_factor=500, with_gold=False)
    return out


@pytest.fixture(scope="module")
def skew_tables(spark, skew_dir):
    return {
        name: spark.read.parquet(str(skew_dir / f"{name}.parquet"))
        for name in ["transcripts", "dico", "mention_terms", "kb_edges", "rel_weights"]
    }


@pytest.fixture(scope="module")
def skew_kb(skew_tables):
    return build_kb(*(skew_tables[n] for n in ["mention_terms", "dico", "kb_edges", "rel_weights"]))


def test_mega_conversation_turns_spread_across_tasks(spark, skew_dir, skew_kb):
    """Detection is map-over-splits: the 500x conversation's turns must land in
    MULTIPLE scan partitions (no single task holds the whole conversation in
    the detection stage) — the shuffle-free salt of SURVEY §4."""
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    # fixture files are small and compressed; force byte-splits well under one
    # row group so the scan exposes the 2+ row groups the 25k-turn
    # conversation spans (splits are real only at row-group granularity)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 << 10))
    try:
        t = spark.read.parquet(str(skew_dir / "transcripts.parquet"))
        m = detect_mentions(t, skew_kb.terms)
        parts = (
            m.filter(F.col("conv_id") == "conv000000")
            .select(F.spark_partition_id().alias("p"))
            .distinct()
            .count()
        )
        assert parts > 1, "mega-conversation pinned to a single detection task"
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
        else:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_conv_grain_work_is_bounded_by_entities_not_turns(spark, skew_tables, skew_kb):
    """The expensive per-conversation work (fused graph edges) must NOT scale
    with turn count: the 500x conversation's edge set is the same order as a
    normal conversation's (bounded by its entity set). A grouped-map design
    that materialized per-turn state would blow this bound."""
    mentions = detect_mentions(skew_tables["transcripts"], skew_kb.terms)
    candidates = generate_candidates(mentions, skew_kb.groups)
    edges = fuse_edges(candidates, skew_tables["kb_edges"], skew_tables["rel_weights"], CFG)
    per_conv = edges.groupBy("conv_id").count().collect()
    counts = {r.conv_id: r["count"] for r in per_conv}
    mega = counts.get("conv000000", 0)
    others = [v for k, v in counts.items() if k != "conv000000"]
    assert mega > 0 and others
    # turn ratio is 500x; the edge-grain ratio must stay within one order
    assert mega <= 10 * max(others), (mega, max(others))


def test_grouped_equals_oracle_under_skew(spark, skew_dir, skew_tables, skew_kb):
    """Output parity between the grouped-map links path and the single-node
    oracle on the 500x corpus — skew must change nothing about the emitted
    links."""
    import pyarrow.parquet as pq

    def rows(name):
        return pq.read_table(str(skew_dir / f"{name}.parquet")).to_pylist()

    mentions = detect_mentions(skew_tables["transcripts"], skew_kb.terms)
    candidates = generate_candidates(mentions, skew_kb.groups)
    cases = conversation_cases(mentions, candidates)
    grp = disambiguate_grouped(mentions, candidates, skew_kb.edges, skew_kb.rels, cases, CFG)
    want = oracle.run_oracle(
        rows("transcripts"),
        rows("dico"),
        [r["term"] for r in rows("mention_terms")],
        [(r["subj"], r["pred"], r["obj"]) for r in rows("kb_edges")],
        [(r["pred"], r["weight"]) for r in rows("rel_weights")],
        datagen.BASE_PREFIX,
        datagen.BASE_PREFIX,
    )
    cols = ("conv_id", "turn_idx", "occ_idx", "mention", "chosen_uris", "score", "path")
    got = sorted(tuple(r[c] for c in cols) for r in grp.collect())
    assert got == sorted(tuple(r[c] for c in cols) for r in want)
    assert any(k[0] == "conv000000" for k in got)
