"""SparkSession factory with the engine's standard config.

AQE, Arrow and skew-join handling are on. The master is left to Spark unless a
caller passes one: spark-submit's ``--master``, or else ``local[*]``. Shuffle
and spill scratch is Spark's own choice too: ``SPARK_LOCAL_DIRS`` when set,
else ``java.io.tmpdir``. The driver heap is ``SPARK_DRIVER_MEM`` when set, else
a fixed 4g.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Fixed, not tied to the core count, so a plan is the same at every
# parallelism; a cluster raises it to 2-3x its total cores.
SHUFFLE_PARTITIONS = 64


# Fixed, not sized from the host's free RAM, so a run's heap does not depend
# on what else the machine is doing; SPARK_DRIVER_MEM overrides it.
DRIVER_MEM = "4g"


def get_spark(
    app_name: str = "reden-spark",
    master: str | None = None,
    shuffle_partitions: int = SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master=None`` sets no master, so a spark-submit ``--master`` wins.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Bucketed stage checkpoints are clustered on conv_id only; joins on
        # (conv_id, mention) must accept the subset partitioning so the
        # turn-grain bucketed side is NOT re-shuffled (only the small side
        # moves). Default true would shuffle both sides on the full key.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or DRIVER_MEM)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "32m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
