"""Pre-validate the driver contract: every queries() entry must match its
oracle_sql() DuckDB twin (row-count + column names + order-insensitive values),
the same comparison the driver's CORRECTNESS gate performs (at sf0.01 there;
sf0.001 here for speed, with one smoke run at sf0.01 for the KG family)."""

import duckdb
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "events",
    "documents",
]


@pytest.fixture(scope="module")
def duck(duck_config):
    con = duckdb.connect(config=duck_config)
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return con


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_driver_contract_within_oracle_budget():
    # the driver oracles at most 50 rows per round; a larger contract silently
    # leaves dict-tail rows unevidenced (round-3 lesson)
    assert len(entrymod.queries()) <= 50
    assert set(entrymod.oracle_sql()) == set(entrymod.queries())


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    q = QUERIES[name]
    df = q(spark, SF)
    cols = df.columns
    got = normalize([tuple(r) for r in df.collect()], cols)
    res = duck.sql(ORACLES[name])
    want = normalize(res.fetchall(), res.columns)
    assert [c.lower() for c in sorted(cols)] == sorted(c.lower() for c in res.columns), (
        f"{name}: column mismatch {sorted(cols)} vs {sorted(res.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    assert got == want, (
        f"{name}: first diffs got-only={[r for r in got if r not in set(want)][:3]} "
        f"want-only={[r for r in want if r not in set(got)][:3]}"
    )


def test_graph_rows_run_the_links_kernel(spark):
    """The graph rows check the links kernel's own graph steps, not a
    relational restatement of them: each row's plan holds the grouped-map
    kernel. Reads the analyzed plans only; the contract stack they build on is
    memoized by the oracle params above."""
    for name in ("kg_fused_edges", "kg_pruned_degrees", "kg_relation_frequency"):
        plan = QUERIES[name](spark, SF)._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
        assert "FlatMapGroupsInPandas" in plan, f"{name}: no grouped kernel in its plan"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["conv_id", "turn_idx", "occ_idx", "mention", "chosen_uris", "score", "path"]


def test_pipeline_links_match_duckdb_twin(spark, duck, tmp_path):
    """Independent referee for the links stage: `run_pipeline` over the
    contract's KG input tables must emit DuckDB's O_KG_LINKS rows exactly.
    The SQL twin restates the algorithm relationally, so it shares no code
    with the grouped kernel or with oracle.py."""
    from reden_spark import driver_contract as dc
    from reden_spark.plans.pipeline import run_pipeline

    data = tmp_path / "kg_in"
    inputs = {
        "transcripts": dc.derive_transcripts(spark, SF),
        "mention_terms": dc.derive_mention_terms(spark, SF),
        "dico": dc.derive_dico(spark, SF),
        "kb_edges": dc.derive_kb_edges(spark, SF),
        "rel_weights": dc.empty_rel_weights(spark),
    }
    for name, df in inputs.items():
        df.write.parquet(str(data / f"{name}.parquet"))
    links = run_pipeline(spark, data, tmp_path / "kg_out", dc.CFG)["links"]
    cols = ["conv_id", "turn_idx", "occ_idx", "mention", "chosen_uris", "score", "path"]
    got = normalize([tuple(r) for r in links.select(*cols).collect()], cols)
    res = duck.sql(dc.O_KG_LINKS)
    want = normalize(res.fetchall(), res.columns)
    assert sorted(res.columns) == sorted(cols)
    assert len(got) > 50
    assert got == want


def test_sfdir_lru_refreshes_on_cache_hits():
    """A dir served purely from cache hits must stay most-recently-used: one
    query on a new dir would otherwise sweep the HOT dir's checkpointed frames
    out from under callers still holding them (runs last in this module — it
    drains the contract caches, so earlier params keep their warm stack)."""
    from reden_spark import driver_contract as dc

    for c in dc._ALL_CACHES:
        for k in list(c):
            dc._unpersist_frames(c.pop(k))
    dc._SFDIR_LRU.clear()

    class FakeDF:  # no unpersist(); _unpersist_frames swallows the error
        pass

    app = "app-lru-test"
    dc._READ_CACHE[(app, "A", "docs", ("fp",))] = FakeDF()
    dc._touch_sfdir("A")
    dc._READ_CACHE[(app, "B", "docs", ("fp",))] = FakeDF()
    dc._touch_sfdir("B")
    dc._touch_sfdir("A")  # HIT on A — must refresh A's LRU slot
    dc._READ_CACHE[(app, "C", "docs", ("fp",))] = FakeDF()
    dc._touch_sfdir("C")  # bound=2 sweep: must drop B (LRU), never hot A
    try:
        assert any(k[1] == "A" for k in dc._READ_CACHE)
        assert not any(k[1] == "B" for k in dc._READ_CACHE)
        assert dc._SFDIR_LRU == ["C", "A"]
    finally:
        for c in dc._ALL_CACHES:
            c.clear()
        dc._SFDIR_LRU.clear()
