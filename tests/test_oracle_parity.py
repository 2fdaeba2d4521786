"""Oracle-differential tests: every registry query with an oracle must match
DuckDB on the shared tables (driver contract, CORRECTNESS_r{N}.json), and
every query without one must run.  Every run checks the full matrix."""

from __future__ import annotations

import pytest

from pipeline_calculator_v3_spark.queries import ORACLE_SQL, QUERIES
from pipeline_calculator_v3_spark.session import scoped_conf

from .compare import (
    assert_driver_hash_match,
    assert_frames_match,
    assert_no_plan_antipatterns,
    assert_scalar_output_schema,
)

ORACLE_NAMES = sorted(ORACLE_SQL)
ROWS_ONLY_NAMES = sorted(set(QUERIES) - set(ORACLE_SQL))


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(name, spark, duck, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    assert_no_plan_antipatterns(df)
    assert_scalar_output_schema(df, name)
    spark_pdf = df.toPandas()
    oracle_pdf = duck.execute(ORACLE_SQL[name]).df()
    assert_frames_match(spark_pdf, oracle_pdf)
    # the driver's bar is quantized-EXACT, which the tolerant matcher
    # above does not enforce (r09; see compare.assert_driver_hash_match)
    assert_driver_hash_match(spark_pdf, oracle_pdf, name)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_runs(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    assert_no_plan_antipatterns(df)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


# The iterative and clustering faces whose partition counts follow the
# session conf, value-checked at 32 shuffle partitions as well as the
# suite's 8: results must not depend on the partition count.  pagerank
# sizes its partitions as min(conf, ceil(n / 65536)), which is 1 at
# sf0.01 either way, so q_graph_pagerank is not covered by this check.
PARTITION_STABLE_NAMES = [
    "q_dedup_best_quality", "q_dedup_clusters", "q_kmeans_embed",
]


@pytest.mark.parametrize("name", PARTITION_STABLE_NAMES)
def test_oracle_parity_at_32_partitions(name, spark, duck, sf_dir):
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "32"):
        spark_pdf = QUERIES[name](spark, sf_dir).toPandas()
    oracle_pdf = duck.execute(ORACLE_SQL[name]).df()
    assert_frames_match(spark_pdf, oracle_pdf)
    assert_driver_hash_match(spark_pdf, oracle_pdf, name)
