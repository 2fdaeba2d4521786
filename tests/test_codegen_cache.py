"""get_spark sizes Spark's codegen class cache to the engine's working set:
a second pass over perfbench's ``star`` mix reuses every generated class
the first pass compiled (at Spark's default of 100 entries, the ~150-160
classes of a pass evict each other and every warm pass recompiles ~155)."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

import bench
from pipeline_calculator_v3_spark import release_caches
from pipeline_calculator_v3_spark.queries import QUERIES

# perfbench/star.py MIX
STAR_MIX = [
    "q_tpch_q1_pricing_summary",
    "q_tpch_q3_shipping_priority",
    "q_tpch_q5_local_volume",
    "q_tpch_q9_product_profit",
    "q_tpch_q17_small_qty",
    "q_tpch_q18_large_orders",
    "q_tpch_q21_waiting_supplier",
    "q_join_multi_way",
    "q_join_big_sort_merge",
    "q_agg_hash",
    "q_window_rank",
    "q_sessionize",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _star_pass(spark, sf_dir) -> int:
    """Codegen compiles of one pass over the mix, caches freed per query
    as perfbench does."""
    before = bench.codegen_compiles(spark)
    for name in STAR_MIX:
        _noop(QUERIES[name](spark, sf_dir))
        release_caches(spark)
    return bench.codegen_compiles(spark) - before


def test_warm_star_pass_compiles_no_class(spark, sf_dir):
    _star_pass(spark, sf_dir)
    assert _star_pass(spark, sf_dir) == 0


def test_a_plan_not_seen_before_compiles(spark):
    """Control: the counter moves for generated code this JVM has not
    compiled (a long literal is inlined into the class's source)."""
    before = bench.codegen_compiles(spark)
    _noop(spark.range(100).select(F.col("id") + F.lit(time.time_ns())))
    assert bench.codegen_compiles(spark) - before >= 1
