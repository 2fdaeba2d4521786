"""Bounded stream drain — ONE spelling of the start/processAll/stop
harness every streaming face runs.

Six modules had hand-spelled copies of the same three-line drain (the
memory-sink runners in dedup/joins/sessions/stateful/windows plus the
late-data face), and cdc.py a seventh around its foreachBatch sink —
exactly the drift class the r12 shingle-NULL fix patched in the verify
path: a stop-on-failure or timeout fix landing in one copy silently
misses the others (review r13, extracted r14).

The memory sink is a TEST harness (cdc.py and ingest.py hold the
durable foreachBatch paths); `processAllAvailable` gives the bounded-input
semantics every face relies on — it returns only when every available
micro-batch has committed, and the `finally: stop()` guarantees a
failing transform never leaks a running query holding the sink name
(review r06)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def drain_query(q) -> None:
    """Process every available micro-batch of a started StreamingQuery,
    then stop it — stop runs even when a batch fails, so no query object
    outlives its face."""
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def drain_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Start ``df`` into a memory sink named ``name``, drain it, and
    return the sink table as a batch DataFrame."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    drain_query(q)
    return df.sparkSession.table(name)
