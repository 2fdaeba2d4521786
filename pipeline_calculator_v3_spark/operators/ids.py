"""Dense sequential id assignment — global row_number without the global
window.

``Window.orderBy(key)`` with no partitionBy is the classic 100 TB
scale-killer: Catalyst plans Exchange SinglePartition and one task sorts
the entire table.  The scalable spelling of the SAME semantics is the
two-phase pattern every distributed engine uses for zipWithIndex:

1. range-repartition on the order key (a parallel, distributed sort —
   partition i holds strictly lower keys than partition i+1);
2. count rows per partition (tiny frame, <= n_partitions rows) and
   prefix-sum the counts into per-partition OFFSETS — the only
   single-partition window in the plan runs over those counts, never
   the data;
3. broadcast the offsets back and add each row's per-partition
   row_number (windows partitioned by the range-partition id run in
   parallel, one per partition).

The result is value-identical to ``row_number() OVER (ORDER BY key)`` —
range boundaries move with sampling, but offset + local rank always
composes to the global rank — so the operator is oracle-checkable
against the naive window even though the physical plans share nothing.

Contract: ``order_by`` must be a total order (unique key set).  Equal
keys land in one range partition, but their within-partition order would
be nondeterministic — the same caveat as the naive window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_ids(
    df: DataFrame,
    order_by: list[str],
) -> DataFrame:
    """``df`` + a dense BIGINT ``rid`` in [0, N) ordered by
    ``order_by`` — semantics of a global row_number, physical plan of a
    range exchange + parallel per-partition windows."""
    if not order_by:
        raise ValueError("order_by must name at least one column")
    if "_pid" in df.columns or "_off" in df.columns:
        # withColumn/join would duplicate them and the groupBy("_pid") /
        # F.col("_off") references would raise AMBIGUOUS_REFERENCE at plan
        # time instead of a clear error (review r08; same reserved-name
        # contract as interval_bin_join and sample_k_per_key)
        raise ValueError("'_pid' and '_off' are reserved by dense_ids")
    spark = df.sparkSession
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    from ..caching import persist_tracked

    ranged = df.repartitionByRange(parts, *[F.col(c) for c in order_by])
    # pid must be materialized BEFORE any further exchange: it is the
    # range-partition index, which increases with the key by the
    # repartitionByRange contract.  PERSISTED: the counts branch and the
    # id branch both read this frame — unpersisted, the counts subtree
    # re-ran the full scan + range exchange (two parquet scans in the
    # executed plan, a second full pass over the table at 100 TB; caught
    # in the PLANS.md audit, r08)
    staged = persist_tracked(
        ranged.select("*", F.spark_partition_id().alias("_pid"))
    )
    counts = staged.groupBy("_pid").agg(F.count("*").alias("_n"))
    # the ONLY unpartitioned window: a prefix sum over <= n_partitions
    # count rows (bytes, not data)
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
    )
    w_local = Window.partitionBy("_pid").orderBy(
        *[F.col(c) for c in order_by]
    )
    return (
        staged.join(F.broadcast(offsets), "_pid")
        .select(
            "*",
            (F.row_number().over(w_local) + F.col("_off") - 1)
            .cast("bigint")
            .alias("rid"),
        )
        .drop("_pid", "_off")
    )
