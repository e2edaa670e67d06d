"""Every Spark job of a pipeline run is attributable to a stage: it runs under
a ``reden-*`` job group (the stage groups, ``reden-kb`` for the KB artifacts,
``reden-cur-*`` for curation). Input reads supply their footer's schema, so
no read submits an ungrouped schema-inference job."""

from collections import OrderedDict

from reden_spark import datagen
from reden_spark.operators.disambiguate import NELConfig
from reden_spark.plans import pipeline
from reden_spark.plans.curation import run_curation
from test_curation_plan import SF


def _job_groups(spark) -> dict[int, str | None]:
    """job id -> job group of every job in the application status store."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None).iterator()  # Scala JobData
    out = {}
    while jobs.hasNext():
        job = jobs.next()
        group = job.jobGroup()  # a Scala Option
        out[job.jobId()] = group.get() if group.isDefined() else None
    return out


def test_every_pipeline_job_runs_under_a_reden_group(spark, fixture_dir, tmp_path, monkeypatch):
    # an empty KB registry: the run builds the KB artifacts too
    monkeypatch.setattr(pipeline, "_KB_REGISTRY", OrderedDict())
    cfg = NELConfig(base_prefix=datagen.BASE_PREFIX, preferred_uri=datagen.BASE_PREFIX)
    before = set(_job_groups(spark))
    pipeline.run_pipeline(spark, fixture_dir, tmp_path / "kg", cfg)
    run_curation(spark, SF, tmp_path / "cur")
    jobs = {job: group for job, group in _job_groups(spark).items() if job not in before}
    groups = set(jobs.values())
    assert {"reden-kb", "reden-mentions", "reden-cur-pairs", "reden-cur-packed"} <= groups
    ungrouped = {job: group for job, group in jobs.items() if not (group or "").startswith("reden-")}
    assert not ungrouped, f"Spark jobs outside any reden-* job group: {ungrouped}"
