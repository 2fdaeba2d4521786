"""Cache/checkpoint lifecycle tracking — nothing this package persists may
outlive the query that needed it.

Two kinds of pinned executor state exist in the engine:

- ``DataFrame.persist`` (dedup staging, overlap segments/hits): released by
  ``DataFrame.unpersist`` — but only if someone remembers the handle.
- ``DataFrame.localCheckpoint`` (connected-components lineage cuts): its
  backing blocks belong to an *internal* RDD that ``df.unpersist()`` /
  ``df.rdd.unpersist()`` cannot reach; the only handle is that RDD's id,
  which the checkpointed frame's plan exposes as a ``LogicalRDD``.

A tracked cache is sized by AQE from its measured bytes, like any other
shuffle: ``get_spark`` sets ``canChangeCachedPlanOutputPartitioning`` so
the cached plan may coalesce below ``spark.sql.shuffle.partitions`` (a tiny
cache is one or two partitions, not 32), and every plan that reads the
cache inherits that layout.

Operators register everything they pin here; ``release_caches(spark)``
frees it all.  Call it strictly AFTER the final materialization of a
query's result — a localCheckpoint's lineage is cut, so once its blocks
are dropped the checkpointed frame is unreadable (CHECKPOINT_RDD_BLOCK_ID_
NOT_FOUND), it does not recompute.  bench.py releases between queries;
long-lived apps should release per analysis run.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

import threading

# guards the registry lists: an unsynchronized enumerate-then-del could
# delete the WRONG handle when another thread mutates the list between
# the find and the del (review r12)
_REG_LOCK = threading.Lock()

_TRACKED_DFS: list[DataFrame] = []
_TRACKED_IDS: list[int] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df.persist(MEMORY_AND_DISK_DESER)`` + register the handle for
    ``release_caches``."""
    df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    with _REG_LOCK:
        _TRACKED_DFS.append(df)
    return df


def unpersist_tracked(df: DataFrame) -> None:
    """``df.unpersist()`` + DEREGISTER the handle.  Batch-scoped callers
    (the streaming ingest loop) must use this instead of a bare
    ``df.unpersist()``: unpersist alone frees the executor blocks but the
    module-global registry keeps the driver-side DataFrame object (plus
    its JVM plan references) alive forever — 4 dead handles per
    micro-batch on a continuous stream (review r11)."""
    df.unpersist()
    with _REG_LOCK:
        for i, tracked in enumerate(_TRACKED_DFS):
            if tracked is df:
                del _TRACKED_DFS[i]
                break


def local_checkpoint_tracked(
    df: DataFrame, ids_sink: list[int] | None = None
) -> DataFrame:
    """Eager localCheckpoint whose blocks ``release_caches`` can free.

    The new RDD id is recorded globally, or into ``ids_sink`` when the caller
    manages the lifetime itself (the connected-components loop frees each
    round's checkpoint as soon as the next round supersedes it).

    The id comes straight off the checkpointed frame's ``LogicalRDD`` (one
    py4j call); tests/test_caching.py checks it is exactly the RDD the
    checkpoint added to ``getPersistentRDDs``.
    """
    out = df.localCheckpoint(eager=True)
    rdd_id = out._jdf.queryExecution().analyzed().rdd().id()
    if ids_sink is not None:
        ids_sink.append(rdd_id)
    else:
        with _REG_LOCK:
            _TRACKED_IDS.append(rdd_id)
    return out


def track_ids(ids: list[int]) -> None:
    """Hand caller-managed checkpoint ids over to ``release_caches``."""
    with _REG_LOCK:
        _TRACKED_IDS.extend(ids)


def unpersist_ids(spark: SparkSession, ids: list[int]) -> None:
    """Drop the cached blocks of specific RDD ids (localCheckpoint storage).

    ``SparkContext.unpersistRDD`` is Scala package-private, which compiles
    to a public JVM method — one py4j call per id, no jmap round-trips."""
    jsc = spark.sparkContext._jsc.sc()
    for i in ids:
        jsc.unpersistRDD(i, False)  # non-blocking


def release_caches(spark: SparkSession) -> None:
    """Unpersist every cache/checkpoint the package registered.

    Safe to call repeatedly; only call after the final materialization of the
    DataFrames built on those caches (checkpointed frames do NOT recompute).
    """
    global _TRACKED_DFS, _TRACKED_IDS
    with _REG_LOCK:
        dfs, _TRACKED_DFS = _TRACKED_DFS, []
    for df in dfs:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    # swap the ids list out under the lock, like _TRACKED_DFS above: an id
    # appended between an unlocked read and an unlocked rebind would be
    # silently dropped — a leaked checkpoint block, the exact leak class
    # this registry exists to close (review r12)
    with _REG_LOCK:
        ids, _TRACKED_IDS = _TRACKED_IDS, []
    if ids:
        try:
            unpersist_ids(spark, ids)
        except Exception:
            pass
