"""Raw-SQL entry point: register the star-schema tables as temp views and
run ANSI SQL through Spark's SQL parser.

The engine is DataFrame-first, but a user of the reference switching here
gets a full SQL surface for free (Catalyst parses/plans the same way).  The
`q_sql_*` queries run ONE shared SQL text through BOTH Spark and the DuckDB
oracle — dialect-common ANSI SQL, the strongest possible parity statement.

It also holds the fixture tables' declared schemas and the one reader
(``read_table``) that every query, view and synthetic frame reads them
through.  It imports nothing from the package, so any module can.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

# The fixture tables' schemas (FIXTURES.md §A), exactly as their parquet
# footers declare them: int32 columns are ``int``, and the three
# TIMESTAMP(isAdjustedToUTC=false) columns are ``timestamp_ntz``.
# tests/test_fixture_schemas.py checks them against every fixture dir.
SCHEMAS: dict[str, str] = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    ),
    "supplier": (
        "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"
    ),
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, "
        "o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp_ntz"
    ),
    "events": (
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string"
    ),
    "documents": (
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint"
    ),
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

TABLES = list(SCHEMAS)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture table ``name`` under ``sf_dir``, read with its declared
    schema.

    Spark answers a schema-less ``read.parquet`` with a footer-inference
    job while the DataFrame is being built; with the schema stated, the
    build runs no job.  The contract:

    - a path that does not exist still raises here, at build;
    - a declared column missing from the file reads as NULL;
    - a column whose file type conflicts with the declared one fails
      when the scan runs.
    """
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def register_views(
    spark: SparkSession, sf_dir: str, only: list[str] | None = None
) -> None:
    for name in (only if only is not None else TABLES):
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Register the referenced tables as temp views, then spark.sql.

    Only tables whose name appears in the query text are registered
    (word-boundary match — a CTE shadowing a table name just registers
    one unused view): each registration lists the table's files, and at a
    million files per table that is real per-query cost for tables the
    query never touches (review r12); it also kept every q_sql_* face
    hostage to ALL fixture files existing."""
    referenced = [
        t for t in TABLES if re.search(rf"\b{t}\b", query, re.IGNORECASE)
    ]
    register_views(spark, sf_dir, only=referenced)
    from pyspark.errors import AnalysisException

    try:
        return spark.sql(query)
    except AnalysisException as e:
        # the literal-name scan can miss a table reached through a
        # non-literal spelling (f-string-built name, quoted identifier
        # variants) and the resulting TABLE_OR_VIEW_NOT_FOUND surfaces far
        # from the cause (review r12) — register everything and retry once.
        # Gated on the missing-relation error class: a syntax/type error
        # must not pay a file listing per table and a second plan just to
        # re-raise identically (review r13).
        if "TABLE_OR_VIEW_NOT_FOUND" not in str(e):
            raise
        missing = [t for t in TABLES if t not in referenced]
        if not missing:
            raise
        for t in missing:
            try:
                register_views(spark, sf_dir, only=[t])
            except Exception:
                pass  # fixture absent — keep the q_sql_* faces un-hostaged
        return spark.sql(query)
