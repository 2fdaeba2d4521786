"""Cache/checkpoint lifecycle: nothing the engine persists may outlive
``release_caches`` (VERDICT r02 'What's wrong' #1) — and session confs set
by readers must not leak (#2)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pipeline_calculator_v3_spark import caching, release_caches
from pipeline_calculator_v3_spark.caching import (
    local_checkpoint_tracked,
    persist_tracked,
    unpersist_tracked,
)
from pipeline_calculator_v3_spark.functions.geodesy import EARTH_RADIUS_M
from pipeline_calculator_v3_spark.plans.overlap import analyze_pipelines
from pipeline_calculator_v3_spark.queries import QUERIES, events_t

from .conftest import persistent_ids

DEG_PER_M_LAT = 180.0 / (math.pi * EARTH_RADIUS_M)
T1_SCHEMA = (
    "pipeline_id bigint, name string, "
    "geometry array<struct<lon:double, lat:double>>"
)


def test_dedup_clusters_releases_everything(spark, sf_dir):
    release_caches(spark)  # start from a clean slate (other tests may pin)
    df = QUERIES["q_dedup_clusters"](spark, sf_dir)
    n = df.count()  # final materialization
    assert n > 0
    assert persistent_ids(spark), "expected pinned state before release"
    release_caches(spark)
    assert persistent_ids(spark) == set(), "dangling cached RDDs after release"


def test_overlap_e2e_releases_everything(spark):
    release_caches(spark)
    pipes = spark.createDataFrame(
        [
            (1, "A", [{"lon": -100.0, "lat": 40.0},
                      {"lon": -100.0, "lat": 40.0 + 400 * DEG_PER_M_LAT}]),
            (2, "B", [{"lon": -100.0 + 1e-5, "lat": 40.0},
                      {"lon": -100.0 + 1e-5, "lat": 40.0 + 400 * DEG_PER_M_LAT}]),
        ],
        T1_SCHEMA,
    )
    results = analyze_pipelines(pipes)
    # the result frames every sink re-reads are pinned, not recomputed
    for name in ("lengths", "sections"):
        assert results[name].storageLevel.useMemory, name
    # materialize the full envelope (the driver/sinks would)
    for name in ("lengths", "totals", "sections", "per_pipeline_overlap",
                 "effective", "summary"):
        results[name].collect()
    assert persistent_ids(spark), "expected pinned segments/hits before release"
    release_caches(spark)
    assert persistent_ids(spark) == set(), "dangling cached RDDs after release"


def test_tracked_cache_is_sized_from_measured_bytes(spark):
    """A persist_tracked shuffle is coalesced by AQE like an uncached one:
    a few hundred bytes land in fewer than spark.sql.shuffle.partitions
    partitions instead of one near-empty task per shuffle partition."""
    release_caches(spark)
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n_shuffle > 1
    # a plan of its own (odd modulus, distinct alias): CacheManager must
    # not hand back a cache some other test built
    tiny = persist_tracked(
        spark.range(0, 97)
        .groupBy((F.col("id") % 13).alias("sized_cache_probe"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    try:
        assert tiny.count() == 13
        parts = (
            tiny.select("sized_cache_probe", "n")
            ._jdf.queryExecution().executedPlan().execute().getNumPartitions()
        )
        assert parts < n_shuffle, (parts, n_shuffle)
    finally:
        release_caches(spark)


def _persisted(spark, pinned):
    df = spark.range(0, 50).withColumn("sq", F.col("id") * F.col("id"))
    df.persist()
    df.count()  # its own cache RDD exists before the checkpoint
    pinned.append(df.unpersist)
    return df


def _checkpointed(spark, pinned):
    df = local_checkpoint_tracked(spark.range(0, 40))
    pinned.append(lambda: unpersist_tracked(df))
    return df


# each plan shape a localCheckpoint sees; a builder appends to `pinned`
# whatever it pinned itself, so the test can free it
_CHECKPOINT_INPUTS = {
    "range": lambda spark, pinned: spark.range(0, 100),
    "empty_range": lambda spark, pinned: spark.range(0),
    "join": lambda spark, pinned: spark.range(0, 60).join(
        spark.range(0, 60, 3).withColumnRenamed("id", "k"),
        F.col("id") == F.col("k"),
    ),
    "aggregate": lambda spark, pinned: spark.range(0, 200)
    .groupBy((F.col("id") % 7).alias("g"))
    .agg(F.count(F.lit(1)).alias("n")),
    "rows": lambda spark, pinned: spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"
    ),
    "persisted": _persisted,
    "checkpoint_of_checkpoint": _checkpointed,
}


@pytest.mark.parametrize("shape", list(_CHECKPOINT_INPUTS))
def test_local_checkpoint_records_exactly_its_new_rdd(spark, shape):
    """The id read off the checkpointed frame's plan is the one RDD the
    checkpoint adds to getPersistentRDDs, and freeing the frame frees the
    blocks."""
    pinned = []
    try:
        df = _CHECKPOINT_INPUTS[shape](spark, pinned)
        before = persistent_ids(spark)
        out = local_checkpoint_tracked(df)
        ids = [rdd_id for f, rdd_id in caching._PINNED if f is out]
        assert len(ids) == 1
        assert set(ids) == persistent_ids(spark) - before
        assert out.count() == df.count()
        unpersist_tracked(out)
        assert persistent_ids(spark) == before
    finally:
        for free in pinned:
            free()


def test_unpersist_tracked_deregisters_a_checkpoint(spark):
    """Freeing a checkpointed frame through the API also drops it from the
    registry, so a following release_caches frees nothing else."""
    release_caches(spark)
    before = persistent_ids(spark)
    out = local_checkpoint_tracked(spark.range(0, 40))
    assert len(persistent_ids(spark) - before) == 1
    unpersist_tracked(out)
    assert persistent_ids(spark) == before
    assert not any(f is out for f, _ in caching._PINNED)
    release_caches(spark)
    assert persistent_ids(spark) == before


def test_minhash_releases_staged(spark, sf_dir):
    release_caches(spark)
    QUERIES["q_dedup_minhash"](spark, sf_dir).count()
    release_caches(spark)
    assert persistent_ids(spark) == set()


def test_events_ts_unit(spark, sf_dir):
    """Guards the r03 regression class: events_t must decode the parquet's
    TIMESTAMP(MICROS) at the right unit, timezone-independently, with no
    session-conf mutation."""
    import datetime

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    ev = events_t(spark, sf_dir)
    assert spark.conf.get(key, None) == before, "events_t leaked the conf"
    # ts_us is the exact epoch-micros of the naive (NTZ) timestamp
    row = ev.select("ts", "ts_us").limit(1).collect()[0]
    epoch = datetime.datetime(1970, 1, 1)
    assert (row.ts - epoch) // datetime.timedelta(microseconds=1) == row.ts_us
    # the event timeline spans weeks — a wrong unit collapses it 1000x
    # (the r03 bug turned 30 days into 43 minutes)
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    assert hi - lo > 20 * 24 * 3600 * 1_000_000, (
        f"events span {(hi - lo) / 86400e6:.3f} days — timestamp unit bug?"
    )
    # positive inference assert (ADVICE r03): the session-default read of the
    # same file must land on a timestamp type — catches both conf leaks and
    # unexpected inference changes (PySpark 4.1.2 infers TimestampNTZType).
    inferred = spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType
    assert inferred.typeName() in ("timestamp_ntz", "timestamp"), (
        f"post-events_t session infers events.ts as {inferred}"
    )
