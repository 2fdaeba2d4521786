"""Cache/checkpoint lifecycle tracking — nothing this package persists may
outlive the query that needed it.

Two kinds of pinned executor state exist in the engine:

- ``DataFrame.persist`` (dedup staging, overlap segments/hits): released by
  ``DataFrame.unpersist`` — but only if someone remembers the handle.
- ``DataFrame.localCheckpoint`` (connected-components lineage cuts): its
  backing blocks belong to an *internal* RDD that ``df.unpersist()`` /
  ``df.rdd.unpersist()`` cannot reach; the only handle is the RDD id in
  ``SparkContext.getPersistentRDDs`` (measured: the id delta around the
  checkpoint call identifies exactly the new blocks).

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


def persist_tracked(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER,
) -> DataFrame:
    """``df.persist(level)`` + register the handle for ``release_caches``."""
    df.persist(level)
    with _REG_LOCK:
        _TRACKED_DFS.append(df)
    return df


def unpersist_tracked(df: DataFrame, blocking: bool = False) -> None:
    """``df.unpersist()`` + DEREGISTER the handle.  Batch-scoped callers
    (the streaming ingest loop) must use this instead of a bare
    ``df.unpersist()``: unpersist alone frees the executor blocks but the
    module-global registry keeps the driver-side DataFrame object (plus
    its JVM plan references) alive forever — 4 dead handles per
    micro-batch on a continuous stream (review r11)."""
    df.unpersist(blocking)
    with _REG_LOCK:
        for i, tracked in enumerate(_TRACKED_DFS):
            if tracked is df:
                del _TRACKED_DFS[i]
                break


def _persistent_ids(spark: SparkSession) -> set[int]:
    # ONE py4j round-trip: iterating the java keySet element-wise costs 2
    # JVM calls per id, and this runs twice per localCheckpoint — measured
    # +25% warm wall-clock on the connected-components loop (~30 checkpoints
    # x ~10 ids).  java.util.AbstractCollection.toString is "[1, 3, 7]".
    s = spark.sparkContext._jsc.getPersistentRDDs().keySet().toString()
    s = s.strip("[]").strip()
    return {int(x) for x in s.split(",")} if s else set()


def local_checkpoint_tracked(
    df: DataFrame, ids_sink: list[int] | None = None
) -> DataFrame:
    """Eager localCheckpoint whose blocks ``release_caches`` can free.

    The new RDD id is recorded globally, or into ``ids_sink`` when the caller
    manages the lifetime itself (the connected-components loop frees each
    round's checkpoint as soon as the next round supersedes it).

    The id comes straight off the checkpointed frame's LogicalRDD (one py4j
    call) — diffing ``getPersistentRDDs`` before/after costs measurable
    driver time in checkpoint-per-round loops; the diff remains only as the
    fallback for plan shapes that don't expose the RDD.
    """
    spark = df.sparkSession
    before = _persistent_ids(spark)  # single toString round-trip
    out = df.localCheckpoint(eager=True)
    try:
        new = {out._jdf.queryExecution().analyzed().rdd().id()}
    except Exception:
        new = _persistent_ids(spark) - before
    if ids_sink is not None:
        ids_sink.extend(new)
    else:
        with _REG_LOCK:
            _TRACKED_IDS.extend(new)
    return out


def track_ids(ids: list[int]) -> None:
    """Hand caller-managed checkpoint ids over to ``release_caches``."""
    with _REG_LOCK:
        _TRACKED_IDS.extend(ids)


def unpersist_ids(spark: SparkSession, ids: list[int], blocking: bool = False) -> None:
    """Drop the cached blocks of specific RDD ids (localCheckpoint storage).

    ``SparkContext.unpersistRDD`` is Scala package-private, which compiles
    to a public JVM method — one py4j call per id, no jmap round-trips."""
    jsc = spark.sparkContext._jsc.sc()
    for i in ids:
        jsc.unpersistRDD(i, blocking)


def release_caches(spark: SparkSession | None = None, blocking: bool = False) -> None:
    """Unpersist every cache/checkpoint the package registered.

    Safe to call repeatedly; only call after the final materialization of the
    DataFrames built on those caches (checkpointed frames do NOT recompute).
    """
    global _TRACKED_DFS, _TRACKED_IDS
    with _REG_LOCK:
        dfs, _TRACKED_DFS = _TRACKED_DFS, []
    for df in dfs:
        try:
            df.unpersist(blocking)
        except Exception:
            pass  # session already stopped — nothing to release
    if spark is None:
        spark = SparkSession.getActiveSession()
    if spark is not None:
        # swap the ids list out under the lock, like _TRACKED_DFS above:
        # an id appended between an unlocked read and an unlocked rebind
        # would be silently dropped — a leaked checkpoint block, the exact
        # leak class this registry exists to close (review r12)
        with _REG_LOCK:
            ids, _TRACKED_IDS = _TRACKED_IDS, []
        if ids:
            try:
                unpersist_ids(spark, ids, blocking)
            except Exception:
                pass
    # no active session on THIS thread (getActiveSession is thread-local):
    # keep the checkpoint ids tracked so a later call from a session-owning
    # thread can still reclaim the blocks — clearing here would orphan them
    # for the life of the executors (review r06)
