"""End-to-end parity: Spark stages 1-4 vs the single-node REDEN-semantics oracle."""

from reden_spark import datagen, oracle
from reden_spark.operators.candidates import conversation_cases, generate_candidates
from reden_spark.operators.canonicalize import materialize_triples
from reden_spark.operators.disambiguate import NELConfig
from reden_spark.operators.grouped import disambiguate_grouped
from reden_spark.operators.kb import build_kb
from reden_spark.operators.mentions import detect_mentions

CFG = NELConfig(base_prefix=datagen.BASE_PREFIX, preferred_uri=datagen.BASE_PREFIX)


def run_stages(spark, tables, kb):
    mentions = detect_mentions(tables["transcripts"], kb.terms)
    candidates = generate_candidates(mentions, kb.groups)
    cases = conversation_cases(mentions, candidates)
    links = disambiguate_grouped(mentions, candidates, kb.edges, kb.rels, cases, CFG)
    return mentions, candidates, cases, links


def test_mentions_match_oracle(spark, tables, kb, py_tables):
    from reden_spark.functions.gazetteer import GazetteerMatcher

    matcher = GazetteerMatcher([r["term"] for r in py_tables["mention_terms"]])
    expected = set()
    for row in py_tables["transcripts"]:
        for occ, (term, start) in enumerate(matcher.find(row["text"] or "")):
            expected.add((row["conv_id"], row["turn_idx"], occ, term, start))
    got = {
        (r.conv_id, r.turn_idx, r.occ_idx, r.mention, r.start_pos)
        for r in detect_mentions(tables["transcripts"], kb.terms).collect()
    }
    assert got == expected
    assert len(got) > 50


def test_links_match_oracle_exactly(spark, tables, kb, oracle_links):
    _, _, _, links = run_stages(spark, tables, kb)
    got = {
        (r.conv_id, r.turn_idx, r.occ_idx, r.mention): (r.chosen_uris, r.score, r.path)
        for r in links.collect()
    }
    want = {
        (l["conv_id"], l["turn_idx"], l["occ_idx"], l["mention"]): (
            l["chosen_uris"],
            l["score"],
            l["path"],
        )
        for l in oracle_links
    }
    assert set(got) == set(want), (
        f"only-spark={list(set(got) - set(want))[:5]} only-oracle={list(set(want) - set(got))[:5]}"
    )
    mismatches = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not mismatches, f"{len(mismatches)} mismatches, e.g. {list(mismatches.items())[:5]}"


def test_parity_gate_pr(spark, tables, kb, oracle_links):
    """BASELINE.md metric 1: P/R >= 0.95 vs the reference-semantics links."""
    from reden_spark.operators.evaluate import link_precision_recall

    _, _, _, links = run_stages(spark, tables, kb)
    expected = spark.createDataFrame(
        [
            (l["conv_id"], l["turn_idx"], l["occ_idx"], l["chosen_uris"])
            for l in oracle_links
        ],
        "conv_id string, turn_idx int, occ_idx int, chosen_uris string",
    )
    row = link_precision_recall(links, expected).collect()[0]
    assert row.precision >= 0.95 and row.recall >= 0.95, row


def test_triples_match_oracle(spark, tables, kb, py_tables, oracle_links):
    _, _, _, links = run_stages(spark, tables, kb)
    triples = materialize_triples(links, kb.canon, kb.triples)
    got = {(r.subj, r.pred, r.obj) for r in triples.collect()}
    want = set(
        oracle.links_to_triples(
            oracle_links,
            [(r["subj"], r["pred"], r["obj"]) for r in py_tables["kb_edges"]],
            py_tables["dico"],
        )
    )
    assert got == want, (
        f"only-spark={list(got - want)[:5]} only-oracle={list(want - got)[:5]}"
    )


def test_gazetteer_scales_to_100k_terms(spark, tables, kb):
    """Gazetteer scale path: the term list ships as an Arrow IPC broadcast (no
    driver-side row materialization) and the trie-regex compiles ~100k terms in
    under a second per worker; detection output is unchanged by 100k extra
    never-matching terms."""
    from pyspark.sql import functions as F

    from reden_spark.operators.mentions import broadcast_terms

    big = tables["mention_terms"].select("term").unionByName(
        spark.range(100_000).select(
            F.concat(F.lit("zzterm"), F.col("id").cast("string")).alias("term")
        )
    )
    base = {
        (r.conv_id, r.turn_idx, r.occ_idx, r.mention, r.start_pos)
        for r in detect_mentions(tables["transcripts"], kb.terms).collect()
    }
    got = {
        (r.conv_id, r.turn_idx, r.occ_idx, r.mention, r.start_pos)
        for r in detect_mentions(tables["transcripts"], broadcast_terms(big)).collect()
    }
    assert got == base and len(got) > 50


def test_normalization_collision_parity(spark):
    """Two raw dico aliases that normalize identically ('Jean-Paul X' /
    'Jean Paul X') but carry different URI groups must yield the SAME links from
    the Spark pipeline and the oracle: both key the candidate lookup on the
    normalized form (DicoProcessingNEL.replaceNonAlphabeticCharacters :91-93),
    so the one detected surface form matches BOTH groups (ambiguous -> graph
    path), and the KB edge decides the winner."""
    from reden_spark.functions.text import normalize_mention_py

    B = datagen.BASE_PREFIX
    transcripts = [
        {"conv_id": "c0", "turn_idx": 0, "text": "Jean-Paul X met Marie Z today."},
        {"conv_id": "c0", "turn_idx": 1, "text": "Later Marie Z spoke."},
    ]
    dico_rows = [
        {"alias": "Jean-Paul X", "uris": [f"{B}/p/1", "http://ext.kb/e1"]},
        {"alias": "Jean Paul X", "uris": [f"{B}/p/2"]},
        {"alias": "Marie Z", "uris": [f"{B}/p/3"]},
    ]
    terms = ["Jean-Paul X", "Marie Z"]
    # context edge probed via the external alias (GraphHandlerNEL case 2:
    # edges fold onto the base vertex p/1, which should win the argmax)
    kb_rows = [("http://ext.kb/e1", "http://kb.test/rel/knows", f"{B}/p/3")]

    t = spark.createDataFrame(
        [(r["conv_id"], r["turn_idx"], r["text"]) for r in transcripts],
        "conv_id string, turn_idx int, text string",
    )
    terms_df = spark.createDataFrame([(x,) for x in terms], "term string")
    d = spark.createDataFrame(
        [(r["alias"], normalize_mention_py(r["alias"]), r["uris"]) for r in dico_rows],
        "alias string, alias_norm string, uris array<string>",
    )
    kb = spark.createDataFrame(kb_rows, "subj string, pred string, obj string")
    rels = spark.createDataFrame([], "pred string, weight double")
    art = build_kb(terms_df, d, kb, rels)

    mentions = detect_mentions(t, art.terms)
    candidates = generate_candidates(mentions, art.groups)
    assert candidates.filter("mention = 'Jean-Paul X'").count() == 2  # both groups
    cases = conversation_cases(mentions, candidates)
    links = disambiguate_grouped(mentions, candidates, art.edges, art.rels, cases, CFG)
    got = {
        (r.conv_id, r.turn_idx, r.occ_idx, r.mention): (r.chosen_uris, r.path)
        for r in links.collect()
    }

    want_rows = oracle.run_oracle(
        transcripts, dico_rows, terms, kb_rows, [], datagen.BASE_PREFIX, datagen.BASE_PREFIX
    )
    want = {
        (l["conv_id"], l["turn_idx"], l["occ_idx"], l["mention"]): (l["chosen_uris"], l["path"])
        for l in want_rows
    }
    assert got and got == want
    # preferred-URI projection keeps only base-prefix members of the winning group
    assert got[("c0", 0, 0, "Jean-Paul X")] == (f"{B}/p/1", "graph")


def test_connected_components_long_chain(spark, monkeypatch):
    """A 120-hop sameAs chain must converge well inside MAX_ITER thanks to
    pointer jumping (plain neighbor-min propagation needs O(diameter)=120
    rounds; label-of-label gives O(log n) ~ 8)."""
    from reden_spark.operators import canonicalize
    from reden_spark.operators.canonicalize import connected_components

    n = 120
    edges = spark.createDataFrame(
        [(f"u{i:03d}", f"u{i + 1:03d}") for i in range(n)], "a string, b string"
    )
    with monkeypatch.context() as m:
        m.setattr(canonicalize, "MAX_ITER", 12)
        m.setattr(canonicalize, "DRIVER_MAX_EDGES", 0)
        rows = connected_components(edges).collect()
    assert len(rows) == n + 1
    assert {r.canonical for r in rows} == {"u000"}
    # the small-graph union-find fast path must agree exactly
    fast = connected_components(edges).collect()
    assert sorted((r.uri, r.canonical) for r in fast) == sorted((r.uri, r.canonical) for r in rows)


def test_driver_union_find_map_is_a_local_relation(spark):
    """The fast path's map reaches the planner as a local relation with a real
    size estimate: no pickled Python RDD that every consumer re-reads in
    Python workers, no Long.MaxValue estimate inherited by checkpoints."""
    from reden_spark.operators.canonicalize import connected_components

    edges = spark.createDataFrame([("b", "a"), ("c", "b"), ("x", "y")], "a string, b string")
    canon = connected_components(edges)
    plan = canon._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()
    assert "LogicalRDD" not in plan.toString()
    assert int(plan.stats().sizeInBytes()) < 2**63 - 1
    assert sorted(map(tuple, canon.collect())) == [("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")]


def test_driver_path_probe_is_one_job(spark):
    """The fast path's bounded head is one Spark job however many partitions
    the edge frame has: an incremental take would run one job per scale-up
    round (1, then 4, then 3 of these 8 partitions)."""
    from reden_spark.operators.canonicalize import connected_components

    sc = spark.sparkContext
    rows = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(40)]
    edges = sc.parallelize(rows, 8).toDF("a string, b string")
    assert edges.rdd.getNumPartitions() == 8
    sc.setJobGroup("cc-probe", "cc-probe")
    try:
        canon = connected_components(edges)
    finally:
        sc.setJobGroup("", "")
    assert len(sc.statusTracker().getJobIdsForGroup("cc-probe")) == 1
    assert {r.canonical for r in canon.collect()} == {"p00"}


def test_connected_components_raises_on_nonconvergence(spark, monkeypatch):
    import pytest

    from reden_spark.operators import canonicalize
    from reden_spark.operators.canonicalize import connected_components

    edges = spark.createDataFrame(
        [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(40)], "a string, b string"
    )
    monkeypatch.setattr(canonicalize, "MAX_ITER", 1)
    monkeypatch.setattr(canonicalize, "DRIVER_MAX_EDGES", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges)


def test_connected_components_random_graphs_match_union_find(spark, monkeypatch):
    """Property check: on seeded random graphs (sparse chains, dense clumps,
    self-loops, duplicate and reversed edges) the distributed min-label +
    pointer-jumping labeling equals a plain union-find's component minimum."""
    import random

    from reden_spark.operators import canonicalize
    from reden_spark.operators.canonicalize import connected_components

    rng = random.Random(42)
    for trial, (n, m) in enumerate([(30, 12), (40, 55), (25, 25), (60, 30)]):
        verts = [f"w{trial}_{i:02d}" for i in range(n)]
        edges = [(rng.choice(verts), rng.choice(verts)) for _ in range(m)]

        parent = {v: v for v in verts}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        touched = {v for e in edges for v in e}
        want = {}
        comp_min: dict = {}
        for v in sorted(touched):
            comp_min.setdefault(find(v), v)
        for v in touched:
            want[v] = comp_min[find(v)]

        frame = spark.createDataFrame(edges, "a string, b string")
        for dme in (0, 1_000_000):  # distributed loop AND union-find fast path
            monkeypatch.setattr(canonicalize, "DRIVER_MAX_EDGES", dme)
            got = {r.uri: r.canonical for r in connected_components(frame).collect()}
            assert got == want, f"trial {trial} dme={dme}: {sorted(set(got.items()) ^ set(want.items()))[:6]}"


def test_connected_components_fixpoint_at_iteration_budget(spark, monkeypatch):
    """Iteration budget exhausted exactly at the fixpoint (MAX_ITER=0 on a graph
    whose initial min-neighbor labels are already final) returns correct labels
    instead of raising — the guard distinguishes 'budget exhausted' from
    'labels still moving'."""
    from reden_spark.operators import canonicalize
    from reden_spark.operators.canonicalize import connected_components

    edges = spark.createDataFrame([("u1", "u2")], "a string, b string")
    monkeypatch.setattr(canonicalize, "MAX_ITER", 0)
    monkeypatch.setattr(canonicalize, "DRIVER_MAX_EDGES", 0)
    got = {r.uri: r.canonical for r in connected_components(edges).collect()}
    assert got == {"u1": "u1", "u2": "u1"}


def test_per_turn_text_equality_invariant(spark, tables, fixture_dir):
    """North-rule invariant: per-turn text equality under stable (conv_id, turn_idx)
    ordering between the source table and what the pipeline reads."""
    import pyarrow.parquet as pq

    src = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in pq.read_table(str(fixture_dir / "transcripts.parquet")).to_pylist()
    )
    via_spark = sorted(
        (r.conv_id, r.turn_idx, r.text)
        for r in tables["transcripts"].select("conv_id", "turn_idx", "text").collect()
    )
    assert src == via_spark


def test_detector_respects_accented_boundaries(spark):
    """'Balzacé' must NOT match term 'Balzac': the detector's word boundary
    uses Python's Unicode \\w, so accented letters count as word chars."""
    from reden_spark.operators.mentions import broadcast_terms

    t = spark.createDataFrame(
        [
            ("c0", 0, "Balzacé wrote nothing here."),
            ("c0", 1, "Émile praised Balzac."),
        ],
        "conv_id string, turn_idx int, text string",
    )
    terms = spark.createDataFrame([("Balzac",), ("Émile",)], "term string")
    udf_rows = {
        (r.conv_id, r.turn_idx, r.occ_idx, r.mention, r.start_pos)
        for r in detect_mentions(t, broadcast_terms(terms)).collect()
    }
    assert not [r for r in udf_rows if r[1] == 0]  # Balzacé is NOT a Balzac match
    assert ("c0", 1, 1, "Balzac", 14) in udf_rows


def test_disambiguate_survives_groups_without_base_or_preferred_member(spark):
    """ANSI-mode regression: a candidate group with no base-prefix member (so
    no alias-folding target) must not crash the kernel's graph steps, and a
    preferred_uri prefix matching nothing must fall back to the winner (oracle
    choose_uris :399-400) instead of throwing."""
    from reden_spark.functions.text import normalize_mention_py
    from reden_spark.operators.grouped import conversation_graphs

    t = spark.createDataFrame(
        [("c0", 0, "Foo Bar met Baz Qux today.")], "conv_id string, turn_idx int, text string"
    )
    terms = spark.createDataFrame([("Foo Bar",), ("Baz Qux",)], "term string")
    B = datagen.BASE_PREFIX
    d = spark.createDataFrame(
        [
            ("Foo Bar", normalize_mention_py("Foo Bar"), [f"{B}/p/1"]),
            ("FooBar", normalize_mention_py("FooBar"), ["http://ext.kb/only-external"]),
            ("Baz Qux", normalize_mention_py("Baz Qux"), [f"{B}/p/3"]),
        ],
        "alias string, alias_norm string, uris array<string>",
    )
    kb = spark.createDataFrame(
        [("http://ext.kb/only-external", "http://kb.test/rel/knows", f"{B}/p/3")],
        "subj string, pred string, obj string",
    )
    rels = spark.createDataFrame([], "pred string, weight double")
    cfg = NELConfig(base_prefix=datagen.BASE_PREFIX, preferred_uri="http://no-such-prefix/")
    art = build_kb(terms, d, kb, rels)
    mentions = detect_mentions(t, art.terms)
    candidates = generate_candidates(mentions, art.groups)
    # 'Foo Bar' resolves to two groups; one has NO base member
    assert candidates.filter("mention = 'Foo Bar'").count() == 2
    cases = conversation_cases(mentions, candidates)
    conversation_graphs(candidates, art.edges, art.rels, cfg).collect()  # no ANSI crash
    links = disambiguate_grouped(mentions, candidates, art.edges, art.rels, cases, cfg).collect()
    assert links
    # preferred prefix matched nothing -> every chosen_uris is the raw winner fallback
    assert all(r.chosen_uris for r in links)
