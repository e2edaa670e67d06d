"""Checkpoint/resume: identical final output when restarting from any stage."""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.find_spark_home import _find_spark_home

from reden_spark import datagen
from reden_spark.operators.disambiguate import NELConfig
from reden_spark.plans.pipeline import run_pipeline
from reden_spark.sources import storage

ROOT = Path(__file__).resolve().parents[1]
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


def test_crash_mid_stage_recomputes_that_stage(spark, fixture_dir, tmp_path, monkeypatch):
    """A run that dies after the triples data files land but before their
    manifest leaves the stage invisible to resume: the job group is cleared,
    and the rerun recomputes triples and metrics only, with the triples of a
    clean run."""
    out = tmp_path / "kg_crash"
    lineage = storage._lineage_from_footers

    def crash_on_triples(path):
        if path.name == "triples":
            raise OSError("crash between the triples data files and their manifest")
        return lineage(path)

    monkeypatch.setattr(storage, "_lineage_from_footers", crash_on_triples)
    with pytest.raises(OSError, match="crash between"):
        run_pipeline(spark, fixture_dir, out, CFG)
    assert any((out / "triples").rglob("*.parquet")), "the data files landed"
    assert not storage.stage_exists(out, "triples")
    assert not spark.sparkContext.getLocalProperty("spark.jobGroup.id")

    monkeypatch.undo()
    before = {s: storage.read_manifest(out, s)["written_at"] for s in ["mentions", "candidates", "links"]}
    again = run_pipeline(spark, fixture_dir, out, CFG)
    assert {s: storage.read_manifest(out, s)["written_at"] for s in before} == before
    assert set(json.loads((out / "_timings.json").read_text())) == {"kb", "triples", "metrics"}
    assert _triples(again) == _triples(run_pipeline(spark, fixture_dir, tmp_path / "kg_clean", CFG))


def test_checkpoint_dir_same_output(spark, fixture_dir, tmp_path):
    """A context with a checkpoint directory (``spark.checkpoint.dir`` — the
    multi-executor-cluster setting, where localCheckpoint blocks would die with
    a lost executor) checkpoints reliably and must produce byte-identical
    triples. Also pins that reliable checkpointing engaged: the directory holds
    RDD blocks. The pipeline's intra-stage materializations are the KB
    artifacts and the distributed connected-components loop of their build,
    which a KB-sized equivalence graph skips, so the script forces that path.
    The run gets its own spark-submit context, so no directory leaks into the
    session every other test shares."""
    ckdir = tmp_path / "ck"
    got = tmp_path / "triples.json"
    script = tmp_path / "reliable_run.py"
    script.write_text(
        "import json, sys\n"
        "from reden_spark import datagen\n"
        "from reden_spark.operators import canonicalize\n"
        "from reden_spark.operators.disambiguate import NELConfig\n"
        "from reden_spark.plans.pipeline import run_pipeline\n"
        "from reden_spark.session import get_spark\n"
        "canonicalize.DRIVER_MAX_EDGES = 0\n"
        "cfg = NELConfig(base_prefix=datagen.BASE_PREFIX, preferred_uri=datagen.BASE_PREFIX)\n"
        "spark = get_spark()\n"
        "dfs = run_pipeline(spark, sys.argv[1], sys.argv[2], cfg)\n"
        "rows = sorted([r.subj, r.pred, r.obj] for r in dfs['triples'].collect())\n"
        "open(sys.argv[3], 'w').write(json.dumps(rows))\n"
        "spark.stop()\n"
    )
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(paths), PYSPARK_PYTHON=sys.executable)
    submit = Path(_find_spark_home()) / "bin" / "spark-submit"
    out = subprocess.run(
        [
            str(submit),
            "--master",
            "local[2]",
            "--conf",
            f"spark.checkpoint.dir={ckdir}",
            str(script),
            str(fixture_dir),
            str(tmp_path / "kg_rel"),
            str(got),
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]

    baseline = _triples(run_pipeline(spark, fixture_dir, tmp_path / "kg_local", CFG))
    assert [tuple(r) for r in json.loads(got.read_text())] == baseline
    assert any(ckdir.rglob("rdd-*")), "a checkpoint directory was set but no reliable block was written"
    assert spark.sparkContext.getCheckpointDir() is None


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


def test_read_stage_fails_without_its_manifest(spark, fixture_dir, tmp_path):
    """A stage's manifest carries its schema and layout, so read_stage raises
    on a corrupt or missing one instead of inferring a schema and reading a
    bucketed stage as plain parquet."""
    df = spark.read.parquet(str(fixture_dir / "transcripts.parquet"))
    storage.write_stage(df, tmp_path, "stage", spark_bucketed=("conv_id", 2))
    manifest = tmp_path / "stage" / storage.MANIFEST
    manifest.write_text(manifest.read_text()[:40])
    with pytest.raises(json.JSONDecodeError):
        storage.read_stage(spark, tmp_path, "stage")
    manifest.unlink()
    with pytest.raises(FileNotFoundError):
        storage.read_stage(spark, tmp_path, "stage")


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
