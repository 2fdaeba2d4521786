"""Declared fixture schemas (sql.SCHEMAS): building a query over the
fixture tables runs no Spark job, and the declared schemas match what the
parquet footers say in every fixture dir."""

from __future__ import annotations

import glob
import os

import pytest

from pipeline_calculator_v3_spark.plans import synth
from pipeline_calculator_v3_spark.queries import QUERIES
from pipeline_calculator_v3_spark.sql import SCHEMAS, read_table, run_sql

from .conftest import SF_DIR

# perfbench's `star` mix
STAR_QUERIES = [
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

_TWO_TABLE_SQL = """
SELECT n.n_name, COUNT(*) AS n_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""

BUILDERS = {
    **{name: QUERIES[name] for name in STAR_QUERIES},
    "run_sql": lambda spark, sf_dir: run_sql(spark, sf_dir, _TWO_TABLE_SQL),
    "pipelines_df": synth.pipelines_df,
}


def _build_jobs(spark, group: str, build) -> list[int]:
    """Ids of the jobs that ``build()`` ran, counted in its own job group
    once the listener bus has delivered every event."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", list(BUILDERS))
def test_build_runs_no_job(spark, sf_dir, name):
    jobs = _build_jobs(
        spark, f"build-jobs:{name}", lambda: BUILDERS[name](spark, sf_dir)
    )
    assert jobs == [], f"{name} ran {len(jobs)} Spark job(s) while built"


def test_job_count_sees_an_inferred_read(spark, sf_dir):
    """The counter itself: a schema-less read is one inference job."""
    jobs = _build_jobs(
        spark, "build-jobs:inferred",
        lambda: spark.read.parquet(f"{sf_dir}/orders.parquet"),
    )
    assert len(jobs) == 1


# the conftest fixture dir, plus every sf* dir beside it
FIXTURE_DIRS = sorted(
    {SF_DIR, *glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*"))}
)


@pytest.mark.parametrize("fixture_dir", FIXTURE_DIRS)
def test_declared_schemas_match_the_footers(spark, fixture_dir):
    drift = {}
    for name in SCHEMAS:
        declared = read_table(spark, fixture_dir, name).schema
        inferred = spark.read.parquet(f"{fixture_dir}/{name}.parquet").schema
        if declared != inferred:
            drift[name] = (declared, inferred)
    assert not drift, drift


def test_missing_path_raises_at_build(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_table(spark, str(tmp_path), "orders")


def test_missing_column_reads_null_and_bad_type_fails_at_scan(
    spark, tmp_path
):
    d = str(tmp_path)
    spark.createDataFrame([(1, "A")], "r_regionkey int, r_other string") \
        .write.parquet(f"{d}/region.parquet")
    rows = read_table(spark, d, "region").collect()
    assert [tuple(r) for r in rows] == [(1, None)]

    spark.createDataFrame([("x", 2)], "n_nationkey string, n_regionkey int") \
        .write.parquet(f"{d}/nation.parquet")
    bad = read_table(spark, d, "nation")  # builds: no footer is read
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        bad.collect()
