"""Invariant gates for operators/ids.py::dense_ids — global row_number
semantics through the range+offset plan (no data-sized single-partition
exchange)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipeline_calculator_v3_spark.operators.ids import dense_ids
from pipeline_calculator_v3_spark.session import scoped_conf


@pytest.mark.parametrize("n,parts", [(1, 4), (7, 3), (1000, 8)])
def test_ids_are_dense_and_ordered(spark, n, parts):
    # keys deliberately NOT in partition order: descending with gaps
    df = spark.range(n).select(
        (F.lit(10_000_000) - F.col("id") * 7).alias("k")
    )
    # dense_ids range-partitions into the session's shuffle partition
    # count, read when the plan is built
    with scoped_conf(spark, "spark.sql.shuffle.partitions", str(parts)):
        ranked = dense_ids(df, ["k"])
    out = ranked.collect()
    assert sorted(r.rid for r in out) == list(range(n))
    by_rank = sorted(out, key=lambda r: r.rid)
    keys = [r.k for r in by_rank]
    assert keys == sorted(keys)


def test_requires_order_key(spark):
    df = spark.range(3)
    with pytest.raises(ValueError):
        dense_ids(df, [])


def test_plan_has_no_data_sized_single_partition(spark, sf_dir):
    from pipeline_calculator_v3_spark.queries import QUERIES

    df = QUERIES["q_dense_ids"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the distributed sort is a range exchange...
    assert "rangepartitioning" in plan
    # ...and the only SinglePartition exchange is the <= n_partitions
    # count-rows prefix sum, never the data
    assert plan.count("SinglePartition") == 1
    single_idx = plan.index("SinglePartition")
    assert "count(1)" in plan[single_idx:] or "count" in plan[single_idx:]


def test_reserved_columns_guard(spark):
    # review r08: a pre-existing _pid/_off would hit AMBIGUOUS_REFERENCE
    # deep in the plan instead of a clear error
    df = spark.range(3).select(F.col("id").alias("k"), F.lit(0).alias("_pid"))
    with pytest.raises(ValueError):
        dense_ids(df, ["k"])
