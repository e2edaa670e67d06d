"""Session factory: the master a launcher chose is the master the job runs on."""

import os
import subprocess
import sys
from pathlib import Path

from pyspark.find_spark_home import _find_spark_home

ROOT = Path(__file__).resolve().parents[1]


def test_spark_submit_master_wins(tmp_path):
    """get_spark() with no master must leave spark-submit's --master in force
    (a builder-set master would override it)."""
    script = tmp_path / "show_master.py"
    script.write_text(
        "from reden_spark.session import get_spark\n"
        "print('MASTER=' + get_spark().sparkContext.master)\n"
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
