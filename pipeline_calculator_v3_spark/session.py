"""SparkSession factory tuned for this engine.

Local testing runs ``local[32]``; the configs below are the ones that matter
at cluster scale too: AQE (runtime re-plan, skew-join splitting, partition
coalescing), Arrow for every pandas-UDF boundary, and explicit shuffle
partitioning.  The driver harness supplies its own session to ``queries()``;
this factory is used by tests, bench.py and any standalone run.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shlex
import shutil
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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


# Class-data sharing for the driver JVM.  A launch parses and verifies
# ~10.6k classes from $SPARK_HOME/jars and ~1.4k from jrt: before Spark
# runs anything.  A dynamic CDS archive (JEP 350) of those classes, dumped
# by one launch at JVM exit, lets every later launch map them pre-parsed
# and pre-verified: setup (get_spark and one mapInPandas) parsed 10,641 ->
# 390 classes from jars and mapped 1,224 -> 13,094 from archives, and
# perfbench setup_s went 9.5 -> 5.8 s (survey, 14 pairs) and 10.9 -> 6.3 s
# (star, 5 pairs), medians on JDK 17.0.20, Spark 4.1.2, 4 cores.  The
# dumping launch paid 20.8 s of setup_s, and the dump takes 15-25 s more at
# JVM exit.  The archive, ~140-180 MB per key, lives in
# ${XDG_CACHE_HOME:-~/.cache}/pipeline_calculator_v3_spark/cds/ and holds
# the classes of the run that dumped it; deleting the dir rebuilds it.
#
# JDK 17 refuses to dump a classpath holding a non-empty directory, and
# Spark's launcher puts the conf dir first.  So the archive is used only
# when that dir is absent or holds only *.template files (nothing in it is
# read) and no other dir can reach the classpath; the launch then points
# SPARK_CONF_DIR at an empty dir.  Otherwise it launches as it always did.
#
# A truncated archive with a valid header crashes the JVM (SIGBUS), and a
# JVM dumps through remove + O_TRUNC, so two first runs on one path could
# interleave.  Each dumper writes <key>.<pid>.jsa; the JVM writes the
# header last, so a later launch publishes a pid file that starts with the
# magic to <key>.jsa (os.replace) and maps only that name.  Pid files go
# once a published archive exists.  The key covers what the JVM validates
# the archive against (the java binary's runtime image, the jar set, the
# heap size); a mismatch it misses costs only the archive, not the launch.
_CDS_MAGIC = b"\xa8\xab\x0b\xf0"  # a dynamic archive's header magic
_CDS_LOG_OFF = "-Xlog:cds=off -Xlog:cds+dynamic=off"  # the JVM shares stdout
# each of these puts directories on the driver's classpath
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                  "SPARK_CLASSPATH")

def _cds_dir() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return os.path.join(cache, "pipeline_calculator_v3_spark", "cds")


def _complete(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            return f.read(4) == _CDS_MAGIC
    except OSError:
        return False


def _stamp(path: str) -> str:
    st = os.stat(path)
    return f"{path} {st.st_size} {st.st_mtime_ns}"


def _archive_key(spark_home: str, driver_mem: str) -> str | None:
    """Hash of the java that spark-class runs, Spark's jars and the heap
    size, or None when either is not where the launcher looks."""
    java_home = os.environ.get("JAVA_HOME")
    java = (os.path.join(java_home, "bin", "java") if java_home
            else shutil.which("java"))
    jars = sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))
    if java is None or not jars:
        return None
    home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    try:
        with open(os.path.join(home, "release")) as f:
            parts = [home, f.read()]
        for name in ("modules", os.path.join("server", "classes.jsa")):
            path = os.path.join(home, "lib", name)
            parts.append(_stamp(path) if os.path.exists(path) else path)
        parts += [_stamp(j) for j in jars]
    except OSError:
        return None
    parts.append(driver_mem)
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def _class_archive(driver_mem: str) -> tuple[str, str] | None:
    """(driver JVM options, empty conf dir) that map the class archive,
    or dump it at JVM exit when none is published yet; None when this
    launch cannot use one."""
    spark_home = _find_spark_home()
    conf_dir = (os.environ.get("SPARK_CONF_DIR")
                or os.path.join(spark_home, "conf"))
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if (any(os.environ.get(v) for v in _CLASSPATH_ENV)
            or "--driver-class-path" in submit or "extraClassPath" in submit):
        return None
    if os.path.isdir(conf_dir) and not all(
            f.endswith(".template") for f in os.listdir(conf_dir)):
        return None
    key = _archive_key(spark_home, driver_mem)
    if key is None:
        return None
    cds = _cds_dir()
    empty_conf = os.path.join(cds, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
    except OSError:
        return None
    if not os.access(cds, os.W_OK) or os.listdir(empty_conf):
        return None
    final = os.path.join(cds, f"{key}.jsa")
    dumps = glob.glob(os.path.join(cds, f"{key}.*.jsa"))
    if not _complete(final):
        for path in dumps:
            if _complete(path):
                try:
                    os.replace(path, final)
                    break
                except OSError:
                    pass  # another launch published it first
    if _complete(final):
        for path in dumps:
            try:
                os.remove(path)
            except OSError:
                pass
        return (f"{shlex.quote(f'-XX:SharedArchiveFile={final}')} "
                f"{_CDS_LOG_OFF}", empty_conf)
    dump = os.path.join(cds, f"{key}.{os.getpid()}.jsa")
    if os.path.exists(dump):
        return None  # this process's own earlier JVM is, or was, dumping it
    return (f"{shlex.quote(f'-XX:ArchiveClassesAtExit={dump}')} "
            f"{_CDS_LOG_OFF}", empty_conf)


@contextmanager
def _env(name: str, value: str):
    prev = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if prev is None:
            os.environ.pop(name, None)
        else:
            os.environ[name] = prev


def get_spark(app_name: str = "pipeline_calculator_v3_spark",
              shuffle_partitions: int | None = None,
              master: str | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(max(cpus, 32))))
    driver_mem = os.environ.get("SPARK_DRIVER_MEM", "8g")
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
        .config("spark.driver.memory", driver_mem)
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
    archive = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        archive = _class_archive(driver_mem)  # getOrCreate launches the JVM
    if archive is None:
        return builder.getOrCreate()
    java_opts, empty_conf = archive
    # Spark puts defaultJavaOptions before a caller's --driver-java-options
    builder = builder.config("spark.driver.defaultJavaOptions", java_opts)
    with _env("SPARK_CONF_DIR", empty_conf):
        return builder.getOrCreate()
