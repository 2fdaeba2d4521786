"""Custom stateful streaming operator via ``applyInPandasWithState``.

Built-in windows (streaming/windows.py) cover time-bucketed aggregation; this
is the arbitrary-state path the brief calls out: per-key state that Spark
checkpoints between micro-batches.  The operator keeps a running per-user
(event count, value total, last-seen epoch-µs) and emits the updated totals
every micro-batch (update output mode).

State is explicitly schema'd (Spark serializes it into the state store); the
kernel is a pandas batch function — no row-at-a-time Python.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = "user_id bigint, n_events bigint, total_value double, last_ts_us bigint"
STATE_SCHEMA = "n bigint, total double, last_us bigint"


def _update_user(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, total, last_us = state.get
    else:
        # the seed must be below ANY timestamp: a 0 floor silently pinned
        # last_ts_us at 0 for pre-1970 (negative epoch-us) events, a
        # cross-engine divergence from the oracle's plain MAX (review r12)
        n, total, last_us = 0, 0.0, -(1 << 62)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            last_us = max(last_us, int(pdf["ts_us"].max()))
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "last_ts_us": [last_us],
        }
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals with explicit GroupState (streaming) — input
    is a stream_events() frame (needs ts_us + value columns)."""
    from ..shipping import ensure_pkg_shipped

    ensure_pkg_shipped(events.sparkSession)
    return (
        events.select("user_id", "value", "ts_us")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_stateful_to_memory(spark, events_dir: str, name: str,
                           max_files_per_trigger: int | None = None) -> DataFrame:
    """Drive the stateful operator over the event files; with
    ``max_files_per_trigger=1`` each file is its own micro-batch, proving
    state carries across batches.  Returns the LATEST row per user.

    The memory sink does NOT support checkpoint recovery — the
    restart-resume contract is proven against a foreachBatch parquet
    writer instead (tests/test_stateful_streaming.py::
    test_stateful_restart...).

    Shares sql.SCHEMAS["events"] (native TIMESTAMP_NTZ) so batch and
    streaming readers agree on the timestamp unit — zero session mutation,
    so async micro-batches can't race a conf restore."""
    from pyspark.sql import functions as F

    from ..queries import EPOCH_US_EXPR
    from .windows import raw_event_stream

    from .drain import drain_to_memory

    raw = raw_event_stream(spark, events_dir, max_files_per_trigger)
    ev = raw.withColumn("ts_us", F.expr(EPOCH_US_EXPR))
    sunk = drain_to_memory(running_user_totals(ev), name, "update")
    # update mode appends one row per (user, batch); latest batch wins
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sunk
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
