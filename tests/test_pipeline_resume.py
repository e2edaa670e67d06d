"""Checkpoint/resume: identical final output when restarting from any stage."""

import json

from reden_spark import datagen
from reden_spark.operators.disambiguate import NELConfig
from reden_spark.plans.pipeline import run_pipeline
from reden_spark.sources import storage

CFG = NELConfig(base_prefix=datagen.BASE_PREFIX, preferred_uri=datagen.BASE_PREFIX)


def _triples(dfs):
    return sorted((r.subj, r.pred, r.obj) for r in dfs["triples"].collect())


def test_resume_from_each_stage(spark, fixture_dir, tmp_path):
    out = tmp_path / "kg_out"
    first = run_pipeline(spark, fixture_dir, out, CFG)
    baseline = _triples(first)
    assert len(baseline) > 100
    assert "metrics" in first

    # full resume: every stage loads from checkpoint (manifests untouched)
    manifests = {s: storage.read_manifest(out, s)["written_at"] for s in ["mentions", "links", "triples"]}
    again = run_pipeline(spark, fixture_dir, out, CFG)
    assert _triples(again) == baseline
    for s, ts in manifests.items():
        assert storage.read_manifest(out, s)["written_at"] == ts  # not recomputed

    # restart from the links stage: links+triples+metrics recomputed, same output
    redo = run_pipeline(spark, fixture_dir, out, CFG, from_stage="links")
    assert _triples(redo) == baseline
    assert storage.read_manifest(out, "links")["written_at"] > manifests["links"]
    assert storage.read_manifest(out, "mentions")["written_at"] == manifests["mentions"]


def test_reliable_checkpoint_mode_same_output(spark, fixture_dir, tmp_path, monkeypatch):
    """The fault-tolerant checkpoint mode (df.checkpoint to a checkpoint dir —
    the multi-executor-cluster setting where localCheckpoint blocks would die
    with a lost executor) must produce byte-identical triples. Also pins that
    the mode actually engaged: the checkpoint dir holds RDD blocks. The
    pipeline's intra-stage materializations are the KB artifacts and the
    distributed connected-components loop of their build, which a KB-sized
    equivalence graph skips, so the reliable run forces that path (the
    artifacts are keyed by the mode, so the reliable run builds its own)."""
    import functools

    from reden_spark import checkpointing
    from reden_spark.operators import canonicalize

    base = run_pipeline(spark, fixture_dir, tmp_path / "kg_local", CFG)
    baseline = _triples(base)
    monkeypatch.setattr(
        canonicalize,
        "connected_components",
        functools.partial(canonicalize.connected_components, driver_max_edges=None),
    )
    try:
        rel = run_pipeline(
            spark, fixture_dir, tmp_path / "kg_rel", CFG, checkpoint_mode="reliable"
        )
        assert _triples(rel) == baseline
        ckdir = tmp_path / "kg_rel" / ".spark_checkpoints"
        assert any(ckdir.rglob("rdd-*")), "reliable mode never wrote a checkpoint block"
    finally:
        checkpointing.set_checkpoint_mode(None)
        # leave the session's checkpoint dir harmlessly set (session-scoped)


def test_bucketed_input_same_output(spark, fixture_dir, bucketed_fixture_dir, tmp_path):
    """Byte-identical triples from a plain input and from a conv_id-bucketed
    INPUT table (the production ingest layout, where the mentions write
    becomes fully shuffle-free). Also pins that the bucketed-input mentions
    checkpoint did not fan out into tasks x buckets files."""
    base = run_pipeline(spark, fixture_dir, tmp_path / "kg_buck", CFG)
    baseline = _triples(base)

    bi = run_pipeline(spark, bucketed_fixture_dir, tmp_path / "kg_bin", CFG)
    assert _triples(bi) == baseline
    m_files = list((tmp_path / "kg_bin" / "mentions").glob("*.parquet"))
    assert 0 < len(m_files) <= 8, len(m_files)  # shuffle-free write kept 1 file/bucket


def test_bucket_count_follows_input_bytes(spark, fixture_dir, tmp_path, monkeypatch):
    """The turn-grain bucket count is sized from the transcripts' bytes:
    the small fixture gets one bucket, an input over BUCKET_BYTES gets more
    (with identical triples), the count is capped at MAX_BUCKETS, and a
    resumed run reuses the count its mentions checkpoint recorded."""
    import math

    from reden_spark.plans import pipeline

    def n_of(out, stage):
        return storage.read_manifest(out, stage)["spark_bucketed"]["n"]

    def triple_buckets(out):
        return {p.name for p in (out / "triples").glob("bucket=*")}

    input_bytes = (fixture_dir / "transcripts.parquet").stat().st_size  # one file
    assert 0 < input_bytes < pipeline.BUCKET_BYTES
    small = tmp_path / "kg_small"
    baseline = _triples(run_pipeline(spark, fixture_dir, small, CFG))
    assert n_of(small, "mentions") == n_of(small, "links") == 1
    assert triple_buckets(small) == {"bucket=0"}

    # the same rows, measured against a target a third of their size
    monkeypatch.setattr(pipeline, "BUCKET_BYTES", input_bytes // 3)
    want_n = math.ceil(input_bytes / (input_bytes // 3))
    big = tmp_path / "kg_big"
    assert _triples(run_pipeline(spark, fixture_dir, big, CFG)) == baseline
    assert want_n > 1 and n_of(big, "mentions") == n_of(big, "links") == want_n
    assert len(triple_buckets(big)) > 1

    assert pipeline.bucket_count(0) == 1
    assert pipeline.bucket_count(10**15) == pipeline.MAX_BUCKETS == 32

    # resume with the default target (which would size this input at 1)
    monkeypatch.undo()
    assert pipeline.bucket_count(input_bytes) == 1
    redo = run_pipeline(spark, fixture_dir, big, CFG, from_stage="links")
    assert _triples(redo) == baseline
    assert n_of(big, "links") == want_n
    assert {int(b.split("=")[1]) for b in triple_buckets(big)} <= set(range(want_n))


def test_lineage_counters(spark, fixture_dir, tmp_path):
    out = tmp_path / "kg_out2"
    run_pipeline(spark, fixture_dir, out, CFG)
    m = storage.read_manifest(out, "mentions")
    assert m["rows"] == sum(p["rows"] for p in m["lineage"])
    assert len(m["lineage"]) >= 1
    assert json.dumps(m)  # serializable




def test_no_cached_frames_left(spark, fixture_dir, tmp_path):
    """Multi-consumer frames materialize through checkpointing.shared, never
    a persist() that outlives the call: a pipeline run and a curation run
    (whose pairs stage shares the MinHash signatures) leave Spark's cache
    manager empty."""
    from reden_spark.plans.curation import run_curation

    def cache_empty():
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    run_pipeline(spark, fixture_dir, tmp_path / "kg_cache", CFG)["triples"].count()
    assert cache_empty(), "run_pipeline left a cached frame"
    cur = run_curation(spark, "/root/testdata/sf0.001", tmp_path / "cur_cache")
    assert cur["pairs"].count() > 0 and cur["packed"].count() > 0
    assert cache_empty(), "run_curation left a cached frame"
