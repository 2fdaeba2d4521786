"""Cache/checkpoint lifecycle tracking — nothing this package persists may
outlive the query that needed it.

The registry holds one kind of entry: a pinned DataFrame.  It is pinned
one of two ways:

- ``persist_tracked`` (dedup staging, overlap segments/hits): freed by
  ``DataFrame.unpersist``.
- ``local_checkpoint_tracked`` (the lineage cuts of connected components,
  PageRank and the pHash recursion): its blocks belong to an *internal*
  RDD that ``df.unpersist()`` / ``df.rdd.unpersist()`` cannot reach.  The
  only handle is that RDD's id, which the checkpointed frame's plan
  exposes as a ``LogicalRDD``; it is read once, at checkpoint time, and
  kept with the frame.

``unpersist_tracked(df)`` frees one pinned frame, either kind, and drops
it from the registry: an iterative operator frees each superseded round
this way.  ``release_caches(spark)`` frees whatever is still registered.

A tracked cache is sized by AQE from its measured bytes, like any other
shuffle: ``get_spark`` sets ``canChangeCachedPlanOutputPartitioning`` so
the cached plan may coalesce below ``spark.sql.shuffle.partitions`` (a tiny
cache is one or two partitions, not 32), and every plan that reads the
cache inherits that layout.

Call ``release_caches`` strictly AFTER the final materialization of a
query's result — a localCheckpoint's lineage is cut, so once its blocks
are dropped the checkpointed frame is unreadable (CHECKPOINT_RDD_BLOCK_ID_
NOT_FOUND), it does not recompute.  bench.py releases between queries;
long-lived apps should release per analysis run.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

# guards the registry: an unsynchronized enumerate-then-del could delete
# the WRONG entry when another thread mutates the list between the find
# and the del (review r12)
_REG_LOCK = threading.Lock()

# (frame, RDD id of its localCheckpoint, or None for a persisted frame)
_PINNED: list[tuple[DataFrame, int | None]] = []


def _pin(df: DataFrame, rdd_id: int | None) -> DataFrame:
    with _REG_LOCK:
        _PINNED.append((df, rdd_id))
    return df


def _free(spark: SparkSession, df: DataFrame, rdd_id: int | None) -> None:
    if rdd_id is None:
        df.unpersist()
    else:
        # SparkContext.unpersistRDD is Scala package-private, which
        # compiles to a public JVM method: one py4j call, non-blocking
        spark.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df.persist(MEMORY_AND_DISK_DESER)`` + register the frame."""
    df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    return _pin(df, None)


def local_checkpoint_tracked(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint, registered so ``unpersist_tracked`` or
    ``release_caches`` can free its blocks.

    The RDD id comes straight off the checkpointed frame's ``LogicalRDD``
    (one py4j call); tests/test_caching.py checks it is exactly the RDD the
    checkpoint added to ``getPersistentRDDs``."""
    out = df.localCheckpoint(eager=True)
    return _pin(out, out._jdf.queryExecution().analyzed().rdd().id())


def unpersist_tracked(df: DataFrame) -> None:
    """Free one pinned frame and DEREGISTER it.  Batch-scoped callers (the
    streaming ingest loop, the iterative operators' superseded rounds) must
    use this instead of a bare ``df.unpersist()``: unpersist alone frees
    the executor blocks but the module-global registry keeps the
    driver-side DataFrame object (plus its JVM plan references) alive
    forever — 4 dead handles per micro-batch on a continuous stream
    (review r11) — and cannot reach a checkpoint's blocks at all."""
    rdd_id = None
    with _REG_LOCK:
        for i, (tracked, tracked_id) in enumerate(_PINNED):
            if tracked is df:
                rdd_id = tracked_id
                del _PINNED[i]
                break
    _free(df.sparkSession, df, rdd_id)


def release_caches(spark: SparkSession) -> None:
    """Free every frame still registered.

    Safe to call repeatedly; only call after the final materialization of the
    DataFrames built on those caches (checkpointed frames do NOT recompute).
    """
    global _PINNED
    # swap the list out under the lock: a frame registered between an
    # unlocked read and an unlocked rebind would be silently dropped — a
    # leaked block, the exact leak class this registry exists to close
    # (review r12)
    with _REG_LOCK:
        pinned, _PINNED = _PINNED, []
    for df, rdd_id in pinned:
        try:
            _free(spark, df, rdd_id)
        except Exception:
            pass  # session already stopped — nothing to release
