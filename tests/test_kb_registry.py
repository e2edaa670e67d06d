"""KB artifacts are built once per knowledge base and session, keyed by content.

Each delta has its own data directory, so the pipeline keys its KB artifacts
by the bytes of the four KB tables: a second delta over byte-identical KB
tables builds nothing, a changed KB table gets a new key, and another Spark
application never sees this one's entry. Every run's links and triples equal
the single-node oracle's for its own inputs."""

import json
import shutil
from collections import OrderedDict

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import SparkContext

from reden_spark import datagen, oracle
from reden_spark.functions.text import SAME_AS
from reden_spark.operators import canonicalize
from reden_spark.operators.disambiguate import NELConfig
from reden_spark.plans import pipeline
from reden_spark.plans.pipeline import run_pipeline

CFG = NELConfig(base_prefix=datagen.BASE_PREFIX, preferred_uri=datagen.BASE_PREFIX)
LINK_COLS = ("conv_id", "turn_idx", "occ_idx", "mention", "chosen_uris", "score", "path")


def _rows(data, name):
    return pq.read_table(str(data / f"{name}.parquet")).to_pylist()


def _rewrite(data, name, rows):
    """Replace a table's rows, keeping its schema."""
    path = data / f"{name}.parquet"
    schema = pq.read_schema(str(path))
    pq.write_table(pa.Table.from_pylist(rows, schema=schema.remove_metadata()), str(path))


def _expected(data):
    """(links, triples) of the single-node oracle over this data directory."""
    kb_rows = [(r["subj"], r["pred"], r["obj"]) for r in _rows(data, "kb_edges")]
    dico = _rows(data, "dico")
    links = oracle.run_oracle(
        _rows(data, "transcripts"),
        dico,
        [r["term"] for r in _rows(data, "mention_terms")],
        kb_rows,
        [(r["pred"], r["weight"]) for r in _rows(data, "rel_weights")],
        datagen.BASE_PREFIX,
        datagen.BASE_PREFIX,
    )
    return (
        sorted(tuple(r[c] for c in LINK_COLS) for r in links),
        sorted(oracle.links_to_triples(links, kb_rows, dico)),
    )


def _got(dfs):
    return (
        sorted(tuple(r) for r in dfs["links"].select(*LINK_COLS).collect()),
        sorted(tuple(r) for r in dfs["triples"].select("subj", "pred", "obj").collect()),
    )


@pytest.fixture
def calls(monkeypatch):
    """An empty registry for the test, and counters of KB builds and of
    connected-components runs."""
    monkeypatch.setattr(pipeline, "_KB_REGISTRY", OrderedDict())
    counts = {"build": 0, "cc": 0}
    build, cc = pipeline.build_kb, canonicalize.connected_components

    def build_spy(*args, **kwargs):
        counts["build"] += 1
        return build(*args, **kwargs)

    def cc_spy(*args, **kwargs):
        counts["cc"] += 1
        return cc(*args, **kwargs)

    monkeypatch.setattr(pipeline, "build_kb", build_spy)
    monkeypatch.setattr(canonicalize, "connected_components", cc_spy)
    return counts


def test_second_delta_builds_no_kb_artifacts(spark, fixture_dir, tmp_path, calls):
    """Two deltas with byte-identical KB files and different transcripts: the
    second run finds the artifacts in the registry."""
    delta1 = tmp_path / "delta1"
    shutil.copytree(fixture_dir, delta1)
    convs = sorted({r["conv_id"] for r in _rows(delta1, "transcripts")})
    keep = set(convs[1::2])
    for name in ("transcripts", "gold_links"):
        _rewrite(delta1, name, [r for r in _rows(delta1, name) if r["conv_id"] in keep])

    first = run_pipeline(spark, fixture_dir, tmp_path / "out0", CFG)
    assert calls == {"build": 1, "cc": 1}
    second = run_pipeline(spark, delta1, tmp_path / "out1", CFG)
    assert calls == {"build": 1, "cc": 1}, "the second delta rebuilt the KB artifacts"

    got0, got1 = _got(first), _got(second)
    assert got0 == _expected(fixture_dir)
    assert got1 == _expected(delta1)
    assert got1 != got0 and got1[0]
    t0 = json.loads((tmp_path / "out0" / "_timings.json").read_text())
    t1 = json.loads((tmp_path / "out1" / "_timings.json").read_text())
    assert t1["kb"] < t0["kb"]


def test_changed_kb_table_gets_a_new_key(spark, fixture_dir, tmp_path, calls, oracle_links):
    """One changed sameAs edge, or one changed dico row, is a different
    knowledge base: the run builds its own artifacts and its output is the
    oracle's for the changed KB, not the registered one's."""
    run_pipeline(spark, fixture_dir, tmp_path / "out0", CFG)
    assert calls["build"] == 1
    original = _expected(fixture_dir)

    # merge two linked entities through the first sameAs edge
    e1, e2 = sorted({l["chosen_uris"] for l in oracle_links if " " not in l["chosen_uris"]})[:2]
    sameas = tmp_path / "sameas"
    shutil.copytree(fixture_dir, sameas)
    edges = _rows(sameas, "kb_edges")
    i = next(i for i, r in enumerate(edges) if r["pred"] == SAME_AS)
    edges[i] = {"subj": e2, "pred": SAME_AS, "obj": e1}
    _rewrite(sameas, "kb_edges", edges)

    # point a linked alias with a single dico row at a new URI
    dico = tmp_path / "dico"
    shutil.copytree(fixture_dir, dico)
    rows = _rows(dico, "dico")
    linked = {l["mention"] for l in oracle_links}
    per_norm = {}
    for r in rows:
        per_norm[r["alias_norm"]] = per_norm.get(r["alias_norm"], 0) + 1
    j = next(j for j, r in enumerate(rows) if r["alias"] in linked and per_norm[r["alias_norm"]] == 1)
    rows[j] = {**rows[j], "uris": [f"{datagen.BASE_PREFIX}/changed"]}
    _rewrite(dico, "dico", rows)

    for n, data in enumerate((sameas, dico), start=2):
        got = _got(run_pipeline(spark, data, tmp_path / f"out{n - 1}", CFG))
        assert calls["build"] == n, f"{data.name}: the changed KB hit the registered entry"
        want = _expected(data)
        assert want != original
        assert got == want


def test_other_application_never_gets_the_entry(spark, fixture_dir, tmp_path, calls, monkeypatch):
    """The registry key carries the applicationId: artifacts of one Spark
    application are never served to another."""
    app = spark.sparkContext.applicationId
    run_pipeline(spark, fixture_dir, tmp_path / "out0", CFG)
    monkeypatch.setattr(SparkContext, "applicationId", property(lambda self: "another-application"))
    dfs = run_pipeline(spark, fixture_dir, tmp_path / "out1", CFG)
    assert calls["build"] == 2
    assert {key[0] for key in pipeline._KB_REGISTRY} == {app, "another-application"}
    assert _got(dfs) == _expected(fixture_dir)
