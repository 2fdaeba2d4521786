"""Small-file compaction planning — the table-maintenance pass every
100 TB lakehouse runs (Delta OPTIMIZE / Iceberg rewrite_data_files class):
given a table's file listing (the dataset.py ``_manifest.json`` shape —
file id + byte size), decide which files to rewrite together so the table
converges on target-sized files without rewriting the big ones.

This module is the SELECTIVE planner that decides WHICH files are worth
rewriting at all: files already at target size pass through untouched, so
a steady-state table pays only for its small-file tail instead of a full
rewrite.  ``dataset.py::optimize_dataset`` executes the plan: it rewrites
each group under the dataset sink's checksum/swap protocol.

The plan itself must be cheap relative to the rewrite it schedules: this
is pure Column arithmetic over the manifest (thousands of rows per
partition, never the data), one ordered window over the small-file
subset, zero UDFs.

Determinism contract: files order by id (ties impossible — ids are
unique by manifest construction), the running EXCLUSIVE byte cumsum
floor-divides by the target, so the same manifest always yields the same
groups on every engine — the whole plan replays in ANSI SQL
(tests/test_compaction.py carries the DuckDB oracle; an r11 registry
face needs a driver-window slot).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    small_bytes: int | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Assign every file to a rewrite group.

    Files of at least ``small_bytes`` (default: the target — a file
    already at target size gains nothing from a rewrite) pass through
    untouched: ``compact = false``, ``group_id = -(id rank)`` (negative
    ids keep solo groups disjoint from pack ids without a string key).
    Smaller files order by id and pack greedily: group =
    ``floor(exclusive_cumsum(bytes) / target_bytes)`` — the streaming
    first-fit plan, which overshoots a group by less than one member file
    and never splits a file.

    Returns (id, bytes, compact BOOLEAN, group_id BIGINT) — plus the
    ``partition_cols`` passthrough when given.

    ``partition_cols`` (r12, for the optimize_dataset executor) makes the
    packing HIVE-PARTITION-LOCAL: both windows partition by those columns,
    so no group ever spans two partition directories (rows could not be
    rewritten together anyway) and group ids are unique only within a
    partition — group BY (partition_cols..., group_id).

    Scale shape: the only window orders the SMALL-file subset of one
    table's manifest — bounded by file count, not data; at fleet scale
    plans run per table/partition independently (group ids are local to
    the input frame by design, and partition_cols turns that independence
    into ONE windowed pass instead of a per-partition loop).  The rewrite
    this schedules is the expensive part and it is exactly ``n_small``
    file reads.
    """
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    if small_bytes is None:
        small_bytes = target_bytes
    if not 0 < small_bytes <= target_bytes:
        raise ValueError(
            f"small_bytes must be in (0, target_bytes], got {small_bytes}"
        )
    for reserved in ("compact", "group_id"):
        if reserved in files.columns:
            raise ValueError(f"'{reserved}' is reserved by compaction_plan")
    fid, fbytes = F.col("file_id"), F.col("bytes")
    pcols = list(partition_cols or [])
    small = files.where(fbytes < small_bytes)
    big = files.where(fbytes >= small_bytes)
    w = (
        Window.partitionBy(*pcols).orderBy(fid) if pcols
        else Window.orderBy(fid)
    )
    # integer division end-to-end (SQL `div`): double division would round
    # past 2^53 of cumulative bytes, and DuckDB's // replays BIGINT-exact
    packed = small.select(
        *pcols,
        fid,
        fbytes,
        F.lit(True).alias("compact"),
        (F.coalesce(F.sum(fbytes).over(w), F.lit(0)) - fbytes).alias("_cx"),
    ).select(
        *pcols,
        fid,
        fbytes,
        "compact",
        F.expr(f"_cx div {int(target_bytes)}").cast("bigint").alias("group_id"),
    )
    solo = big.select(
        *pcols,
        fid,
        fbytes,
        F.lit(False).alias("compact"),
        (-F.row_number().over(w)).cast("bigint").alias("group_id"),
    )
    return packed.unionByName(solo)
