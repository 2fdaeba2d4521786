"""SparkSession factory tuned for this engine.

Local testing runs ``local[32]``; the configs below are the ones that matter
at cluster scale too: AQE (runtime re-plan, skew-join splitting, partition
coalescing), Arrow for every pandas-UDF boundary, and explicit shuffle
partitioning.  The driver harness supplies its own session to ``queries()``;
this factory is used by tests, bench.py and any standalone run.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

from . import worker_daemon


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for the duration of the block, then restore the
    previous value (or unset if it had none) — session-mutating reads must
    not leak behavior changes into unrelated queries on a shared session."""
    # get(key, None) is None when the key was never explicitly set (plain
    # get(key) would return the DEFAULT, making restore pin the default as an
    # explicit setting)
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def get_spark(app_name: str = "pipeline_calculator_v3_spark",
              shuffle_partitions: int | None = None,
              master: str | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(max(cpus, 32))))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join handling, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Floor for AQE's coalesced partition size (Spark default 1m).
        # With parallelismFirst (default on) the coalesce target is
        # max(stageBytes / defaultParallelism, THIS), so on a CPU-heavy
        # stage whose bytes are small — synthesized-text fan-outs,
        # per-row kernels after a keyed aggregate — a 1m floor collapses
        # the stage to 2-3 tasks and idles the rest of the cluster.  256k
        # came from a 3-point registry-wide sweep (r15, isolated
        # min-of-2): 64k won most (chunk/pack xl 0.42x) but slowed
        # small-shuffle queries 1.2-1.7x (bm25, embedding pairs, dsir:
        # extra tiny tasks); 256k kept most of the win (chunk_xl 4.59 ->
        # 2.46 s, ingest 11.0 -> 9.9 s) with no measured regression.  At
        # real data volumes the parallelismFirst term dominates, so only
        # these CPU-heavy small-bytes stages change.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "256k")
        # Let AQE coalesce cached plans too.  Spark's default (false) keeps
        # a persisted frame at spark.sql.shuffle.partitions so its readers
        # see a fixed output partitioning; the bytes-based rule above then
        # never reaches a persist_tracked frame or any stage reading it,
        # and a small cache (the CLI's segments/pairs/hits) runs its
        # grouped-map Python kernels as 32 mostly empty tasks.  Spark
        # reads this when persist() is called, so it is a session setting,
        # covering every engine cache.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        # Compiled generated classes live in a JVM-wide LRU cache of this
        # many entries (Spark default 100).  One pass generates ~115
        # distinct classes on perfbench survey, ~160 on star and
        # 1,800-2,100 on bench.py's 112-query headline suite at sf0.01, so
        # at 100 every class is evicted before its next use and each warm
        # pass re-runs Janino on nearly all of its code (survey 106, star
        # 155, headline ~3,370 compiles per warm pass; Spark 4.1.2, 4
        # cores).  4096 holds the headline cycle with room; the cost is
        # ~14-16 MB more driver Metaspace after a headline pass.  A static
        # conf: a session that already exists (a harness's own) keeps its
        # value.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # The cache is keyed by source text, and a class name carries its
        # whole-stage id, which AQE numbers in the order it plans stages:
        # the same stage can be numbered differently on the next run (30-80
        # headline recompiles per warm pass).  Unnumbered names keep the
        # key stable; the plan still prints the ids.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow batches for every pandas UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Deterministic timestamp semantics for oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # Reasonable broadcast threshold; dims in the star schema are tiny.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Long-lived sessions (bench's ~90-query run, a production service)
        # free broadcast variables and shuffle state via the ContextCleaner,
        # which only fires after a driver GC collects the weak references —
        # with a large, un-pressured driver heap full GCs are rare, so
        # executor-side broadcast blocks pile up for the whole session (the
        # r09 late-suite inflation band: queries past the ~80th headline
        # slot ran 2-4x their isolated cost).  The periodic-GC default is
        # 30 min — longer than the entire bench; 2 min bounds the garbage
        # window at negligible GC cost.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # Per-stage metrics come from the event log (bench.py), not the UI.
        .config("spark.ui.enabled", "false")
    )
    # Local workers fork from the engine's daemon (worker_daemon.py: numpy,
    # pandas and pyarrow preloaded, no per-task re-read of pyspark.zip).
    # The daemon starts before any addPyFile reaches it, so the directory
    # holding this package goes on the workers' PYTHONPATH, and
    # ensure_pkg_shipped ships no zip to these sessions.  An executor
    # elsewhere cannot be assumed to have that path, so it keeps Spark's
    # own daemon and gets the zip.
    pkg_parent = os.path.dirname(
        os.path.dirname(os.path.abspath(worker_daemon.__file__)))
    if master.startswith("local") and os.path.isdir(pkg_parent):
        builder = (
            builder.config("spark.python.daemon.module", worker_daemon.__name__)
            .config("spark.executorEnv.PYTHONPATH", pkg_parent)
        )
    return builder.getOrCreate()
