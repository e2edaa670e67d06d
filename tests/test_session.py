"""Session factory: the master a launcher chose is the master the job runs on,
and the generated-class cache holds a pipeline's working set."""

import os
import subprocess
import sys
from pathlib import Path

from pyspark.find_spark_home import _find_spark_home
from test_curation_plan import SF

from reden_spark import datagen, session
from reden_spark.operators.disambiguate import NELConfig
from reden_spark.plans.curation import run_curation
from reden_spark.plans.pipeline import run_pipeline

ROOT = Path(__file__).resolve().parents[1]
CFG = NELConfig(base_prefix=datagen.BASE_PREFIX, preferred_uri=datagen.BASE_PREFIX)


def test_spark_submit_master_wins(tmp_path):
    """get_spark() with no master must leave spark-submit's --master in force
    (a builder-set master would override it), and its static confs still reach
    the context spark-submit creates."""
    script = tmp_path / "show_master.py"
    script.write_text(
        "from reden_spark.session import get_spark\n"
        "print('MASTER=' + get_spark().sparkContext.master)\n"
        "print('CODEGEN_CACHE=' + get_spark().conf.get('spark.sql.codegen.cache.maxEntries'))\n"
        "print('CLEAN_CHECKPOINTS=' + get_spark().sparkContext.getConf()"
        ".get('spark.cleaner.referenceTracking.cleanCheckpoints'))\n"
        "get_spark().stop()\n"
    )
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(paths), PYSPARK_PYTHON=sys.executable)
    submit = Path(_find_spark_home()) / "bin" / "spark-submit"
    out = subprocess.run(
        [str(submit), "--master", "local[2]", str(script)],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "MASTER=local[2]" in out.stdout.splitlines(), out.stdout[-2000:]
    assert f"CODEGEN_CACHE={session.CODEGEN_CACHE_ENTRIES}" in out.stdout.splitlines(), out.stdout[-2000:]
    assert "CLEAN_CHECKPOINTS=true" in out.stdout.splitlines(), out.stdout[-2000:]


def _compiled(spark):
    """Generated classes Janino has compiled in this JVM so far."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_repeat_jobs_reuse_generated_code(spark, fixture_dir, tmp_path):
    """A repeat job finds every generated class in Spark's cache. With the
    default cache of 100 entries, a working set above it is evicted in the
    order it is used, so each repeat recompiles everything (76-115 classes
    per pipeline run, 85-105 per curation run)."""
    run_pipeline(spark, fixture_dir, tmp_path / "kg0", CFG)
    before = _compiled(spark)
    run_pipeline(spark, fixture_dir, tmp_path / "kg1", CFG)
    assert _compiled(spark) - before == 0

    run_curation(spark, SF, tmp_path / "cur0")
    before = _compiled(spark)
    run_curation(spark, SF, tmp_path / "cur1")
    # AQE may finish two independent query stages in either order, which
    # numbers their codegen stages the other way round: the same code under
    # new class names (4 compiles), after which repeats compile nothing
    assert _compiled(spark) - before <= 4
