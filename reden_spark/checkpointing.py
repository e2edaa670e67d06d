"""The one materialization point for frames consumed more than once.

A frame that feeds several branches of one downstream query (the dedup
signature frame) is cut from its lineage by an eager checkpoint. Without the cut, Spark
re-executes the upstream subtree once per consumer: there is no
cross-join CSE, and ReusedExchange misses differently-pruned subplans. A lazy
``localCheckpoint`` is not an option either, because AQE submits the
consuming stages concurrently and each re-executes the whole upstream.

Where the blocks go is read from the SparkContext, as Spark's own iterative
algorithms decide it (MLlib ignores ``checkpointInterval`` when no checkpoint
directory is set):

* no checkpoint directory (the default) — `df.localCheckpoint`: fastest,
  executor-local blocks, right for single-host runs and for clusters where a
  lost executor may simply rerun the whole job.
* a checkpoint directory, set through ``spark.checkpoint.dir`` or
  `spark.sparkContext.setCheckpointDir` (HDFS/object store on a real
  cluster) — `df.checkpoint`: blocks written to fault-tolerant storage.
  Survives executor loss; costs a write+read round trip. The setting for
  multi-executor deployments, where a lost executor must not truncate
  lineage mid-job.

Checkpointed frames that a session reuses across runs (the pipeline's KB
artifacts, the driver contract's per-directory stack) are memoized one way:
:func:`recent`, a small LRU whose eviction only drops the reference.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Callable, Hashable

from pyspark.sql import DataFrame


def shared(df: DataFrame) -> DataFrame:
    """Materialize a subtree consumed by several branches of ONE downstream
    query: an eager :func:`checkpoint`, run on the calling thread.

    Why eager and serial, measured on a 4-core host over a 2,000-turn
    ``kg_delta`` delta (BENCH.md round 4 found the same at 32 cores on a
    607k-turn corpus: cold links 17.5 s eager vs 20.6 s lazy):

    * a lazy ``persist`` (no barrier job) cost more links-stage time (8.8 s
      against 5.7 s eager; 9.4 s for a hybrid that persisted only the narrow
      frames) and more per-delta latency (15.5–17.0 s against 13.0–13.2 s);
    * materializing independent sites from a two-thread pool tied with doing
      them one after another;
    * an eager barrier for the survivors remainder was no slower than an
      inline lazy persist, and its runs peaked at lower RSS."""
    return checkpoint(df)


def checkpoint(df: DataFrame) -> DataFrame:
    """Materialize a multi-consumed frame, eagerly: into the context's
    checkpoint directory when one is set, else into executor-local blocks."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint()
    return df.checkpoint()


def recent(cache: OrderedDict, key: Hashable, build: Callable[[], object], size: int):
    """``cache[key]``, built by ``build()`` on a miss; the cache keeps the
    ``size`` most recently used keys. Eviction only drops the reference and
    unpersists nothing: a ``localCheckpoint``'s blocks stay registered after
    ``unpersist()`` anyway, and a caller still holding an evicted frame can
    keep using it."""
    if key in cache:
        cache.move_to_end(key)
        return cache[key]
    value = cache[key] = build()
    while len(cache) > size:
        cache.popitem(last=False)
    return value
