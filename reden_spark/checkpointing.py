"""The one materialization point for frames consumed more than once.

A frame that feeds several branches of one downstream query (the dedup
signature frame) is cut from its lineage by an eager checkpoint. Without the cut, Spark
re-executes the upstream subtree once per consumer: there is no
cross-join CSE, and ReusedExchange misses differently-pruned subplans. A lazy
``localCheckpoint`` is not an option either, because AQE submits the
consuming stages concurrently and each re-executes the whole upstream.

`localCheckpoint` blocks live in executor storage only, so on a
multi-executor cluster an executor loss truncates lineage mid-job and the run
cannot recover. One knob selects where the blocks go:

* ``local``    (default) — `df.localCheckpoint`: fastest, executor-local
  blocks, right for single-host runs and for clusters where a lost executor
  may simply rerun the whole job.
* ``reliable`` — `df.checkpoint`: blocks written to the fault-tolerant
  checkpoint dir (`spark.sparkContext.setCheckpointDir`, HDFS/object store on
  a real cluster). Survives executor loss; costs a write+read round trip.
  The recommended mode for multi-executor deployments.

Mode resolution: explicit `set_checkpoint_mode()` > `REDEN_CHECKPOINT_MODE`
env var > "local".

Checkpointed frames that a session reuses across runs (the pipeline's KB
artifacts, the driver contract's per-directory stack) are memoized one way:
:func:`recent`, a small LRU whose eviction only drops the reference.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from collections.abc import Callable, Hashable

from pyspark.sql import DataFrame

MODES = ("local", "reliable")

_mode: str | None = None


def set_checkpoint_mode(mode: str | None) -> None:
    """Set the process-global checkpoint mode (None → re-read the env var)."""
    global _mode
    if mode is not None and mode not in MODES:
        raise ValueError(f"checkpoint mode {mode!r} not in {MODES}")
    _mode = mode


def checkpoint_mode() -> str:
    if _mode is not None:
        return _mode
    env = os.environ.get("REDEN_CHECKPOINT_MODE", "local")
    if env not in MODES:
        raise ValueError(f"REDEN_CHECKPOINT_MODE={env!r} not in {MODES}")
    return env


def shared(df: DataFrame) -> DataFrame:
    """Materialize a subtree consumed by several branches of ONE downstream
    query: an eager :func:`checkpoint` under the configured mode, run on the
    calling thread.

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
    """Materialize a multi-consumed frame, eagerly, under the configured mode."""
    if checkpoint_mode() == "local":
        return df.localCheckpoint()
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().checkpointDir().isEmpty():
        raise RuntimeError(
            "checkpoint mode 'reliable' needs spark.sparkContext.setCheckpointDir "
            "(point it at fault-tolerant storage: HDFS/S3 on a cluster)"
        )
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
