"""Streaming window transformations, built batch-first.

The reference has no streaming semantics (SURVEY.md §1.4) — `events` is our
Structured Streaming surface.  Each transformation is ONE function applied to
either a batch DataFrame (oracle-checkable by DuckDB) or a readStream
DataFrame (with watermark) — the same code path, which is the whole point of
the Spark unified model.

Timestamps: events.ts is TIMESTAMP(MICROS) parquet, read natively as
TIMESTAMP_NTZ (queries.events_t).  Outputs are epoch-µs longs for
cross-engine parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.timeutil import epoch_us_extractor

TUMBLE = "5 minutes"
SLIDE_SIZE = "10 minutes"
SLIDE_STEP = "5 minutes"
SESSION_GAP = "5 minutes"


def tumbling_counts(events: DataFrame) -> DataFrame:
    """5-minute tumbling windows per event_type: count + sum(value)."""
    ep = epoch_us_extractor(events)
    return (
        events.groupBy(F.window("ts", TUMBLE).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            ep("w.start").alias("window_start_us"),
            "event_type", "n", "sum_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """10-minute windows sliding every 5: each event lands in 2 windows."""
    ep = epoch_us_extractor(events)
    return (
        events.groupBy(F.window("ts", SLIDE_SIZE, SLIDE_STEP).alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.avg("value").alias("avg_value"),
        )
        .select(
            ep("w.start").alias("window_start_us"),
            "n", "avg_value",
        )
    )


def session_counts(events: DataFrame) -> DataFrame:
    """Per-user session windows with a 5-minute inactivity gap."""
    ep = epoch_us_extractor(events)
    return (
        events.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "user_id",
            ep("w.start").alias("session_start_us"),
            "n",
        )
    )


def raw_event_stream(spark, events_dir: str,
                     max_files_per_trigger: int | None = None):
    """The ONE readStream construction for event files (schema +
    maxFilesPerTrigger), shared by the watermarked window reader and the
    NoTimeout stateful runner (review r06: the runner had re-implemented
    it inline, re-opening the r03 timestamp-unit regression class the
    schema sharing exists to prevent).  Keeps native TIMESTAMP_NTZ — the
    watermark conversion is stream_events' own concern."""
    from ..sql import SCHEMAS

    reader = spark.readStream.schema(SCHEMAS["events"])
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(events_dir)


def stream_events(spark, events_dir: str, watermark: str = "30 minutes",
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """readStream twin of queries.events_t: native TIMESTAMP_NTZ read +
    epoch-µs column + watermark for state eviction.

    Shares sql.SCHEMAS["events"] so the batch and streaming readers can
    never disagree on the timestamp unit again (the r03 regression was
    exactly such a disagreement with the physical data: an explicit bigint
    schema assuming nanos over a MICROS file)."""
    from ..queries import EPOCH_US_EXPR

    raw = raw_event_stream(spark, events_dir, max_files_per_trigger)
    # Watermarks reject TIMESTAMP_NTZ, so rebuild ts as a TIMESTAMP whose
    # UTC instant encodes the same wall clock (timestamp_micros of the naive
    # epoch-µs) — window bucketing and epoch extraction stay bit-identical
    # to the batch NTZ path on any session timezone.
    return (
        raw.withColumn("ts_us", F.expr(EPOCH_US_EXPR))
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .withWatermark("ts", watermark)
    )


def run_stream_to_memory(spark, events_dir: str, transform, name: str) -> DataFrame:
    """Drive a windowed transform over the event stream into a memory sink
    (complete mode) until all available data is processed; returns the
    result as a batch DataFrame."""
    from .drain import drain_to_memory

    return drain_to_memory(
        transform(stream_events(spark, events_dir)), name, "complete"
    )


OHLC_TUMBLE = "1 hour"


def ohlc_candles(events: DataFrame) -> DataFrame:
    """Streaming face of operators/resample.ohlc_downsample: per
    (event_type, 1-hour tumbling window) OHLC candles as ONE aggregation —
    min_by/max_by carry open/close through the streaming state exactly as
    they carry it through the batch partial-merge tree, so the same
    function applied to the batch frame and the watermarked stream is the
    whole equivalence proof (tests/test_stream_ohlc.py, r09-staged; a
    registry face needs an r10 driver-window slot).

    Bucket parity: F.window's origin is the epoch, so for epoch-aligned
    widths ``window.start == ts - pmod(ts_us, w)`` — the batch operator's
    integer bucket edge — on every positive-epoch timestamp.  The (ts_us,
    event_id) ordering struct is the operator's determinism contract
    verbatim."""
    ep = epoch_us_extractor(events)
    order = F.struct(F.col("ts_us"), F.col("event_id"))
    v = F.col("value")
    return (
        events.groupBy(
            F.window("ts", OHLC_TUMBLE).alias("w"), F.col("event_type")
        )
        .agg(
            F.min_by(v, order).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, order).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.avg(v).alias("mean_value"),
        )
        .select(
            ep("w.start").alias("bucket_start_us"),
            "event_type", "open", "high", "low", "close",
            "n_rows", "mean_value",
        )
    )
