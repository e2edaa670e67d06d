"""SparkSession factory with the engine's standard config.

AQE, Arrow and skew-join handling are on. The master is left to Spark unless a
caller passes one: spark-submit's ``--master``, or else ``local[*]``. Shuffle
and spill scratch is Spark's own choice too: ``SPARK_LOCAL_DIRS`` when set,
else ``java.io.tmpdir``. The driver heap is ``SPARK_DRIVER_MEM`` when set, else
a fixed 4g. Spark's generated-class cache holds ``CODEGEN_CACHE_ENTRIES``
classes, so a warm job reuses the code its first run compiled. Reliable
checkpoint files are cleaned up with the frames that wrote them.
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


# Spark's generated-class cache (spark.sql.codegen.cache.maxEntries) is an LRU
# of 100 classes by default. A warm job uses its classes in the same order
# every time, so with a working set above 100 each class is evicted before its
# next use and every warm job recompiles all of them with Janino (about 1 s of
# a kg_delta delta). Measured working sets: kg_delta cold job (KB build plus
# five stages) 168-170 classes, warm delta 89-115; curation cold job 108-119,
# warm job 85-106. They follow the plans' shapes (AQE moves them a little with
# the input), not the data volume or the host, and 1000 holds both pipelines
# in one session. The conf is static: it takes effect when get_spark creates
# the context, and executors inherit it.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "reden-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master=None`` sets no master, so a spark-submit ``--master`` wins.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # with a checkpoint directory set, reliable checkpoint files are
        # deleted once their frame is garbage-collected (Spark keeps them by
        # default): dropped KB artifacts and finished connected-components
        # rounds would otherwise pile up rdd-* directories there
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
