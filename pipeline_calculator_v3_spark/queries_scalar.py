"""Scalar-function families (SURVEY.md §2.B rows q_string_funcs …
q_json_funcs).  Per-row, exactly comparable — every expression chosen to have
identical semantics in Spark SQL and DuckDB (e.g. no round(): Spark is
HALF_UP, DuckDB half-away-from-zero differs from banker's only at exact .5
ties, but we avoid the class entirely; floor/ceil cast to BIGINT because
DuckDB returns DOUBLE where Spark returns BIGINT)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import events_t, query, t


@query(
    "q_string_funcs",
    oracle="""
SELECT p_partkey,
       upper(p_name) AS name_u,
       lower(p_brand) AS brand_l,
       CAST(length(p_name) AS BIGINT) AS name_len,
       substring(p_name, 1, 8) AS name_pfx,
       replace(p_type, ' ', '_') AS type_us,
       concat(p_brand, '-', p_type) AS brand_type,
       trim(concat(' ', p_name, ' ')) AS name_trim,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
       reverse(p_brand) AS brand_rev,
       regexp_extract(p_name, '^([a-z]+)', 1) AS first_word
FROM part
""",
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalars (reference ops 4,7 name/coordinate munging,
    src/pipeline_calculator_v3.py:94-102,185-214)."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_u"),
        F.lower("p_brand").alias("brand_l"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.substring("p_name", 1, 8).alias("name_pfx"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_us"),
        F.concat("p_brand", F.lit("-"), "p_type").alias("brand_type"),
        F.trim(F.concat(F.lit(" "), "p_name", F.lit(" "))).alias("name_trim"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.reverse("p_brand").alias("brand_rev"),
        F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("first_word"),
    )


@query(
    "q_date_funcs",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS y,
       CAST(month(o_orderdate) AS BIGINT) AS m,
       CAST(quarter(o_orderdate) AS BIGINT) AS q,
       CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
       CAST(datediff('day', DATE '1994-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
FROM orders
""",
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalars over o_orderdate (ext surface; the reference has no
    temporal analysis — SURVEY.md §1.2)."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("y"),
        F.month("o_orderdate").cast("bigint").alias("m"),
        F.quarter("o_orderdate").cast("bigint").alias("q"),
        F.dayofyear("o_orderdate").cast("bigint").alias("doy"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.add_months(F.col("o_orderdate").cast("date"), 3), "yyyy-MM-dd").alias("plus3m"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1994-01-01").cast("date"))
        .cast("bigint").alias("days_since"),
    )


@query(
    "q_math_funcs",
    oracle="""
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       abs(l_discount - 0.05) AS abs_d,
       sqrt(l_quantity) AS sqrt_q,
       pow(l_quantity, 2.0) AS q2,
       exp(l_discount) AS exp_d,
       ln(l_extendedprice) AS ln_p,
       CAST(l_orderkey % 7 AS BIGINT) AS mod7,
       CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS price_kfloor,
       CAST(ceil(l_quantity / 10.0) AS BIGINT) AS q_ceil10,
       greatest(l_tax, l_discount) AS max_rate,
       least(l_tax, l_discount) AS min_rate,
       atan2(l_quantity, l_discount + 1.0) AS angle,
       radians(l_quantity) AS rad_q
FROM lineitem
""",
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalars (reference ops 9,15,16 unit/geometry arithmetic)."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        F.abs(F.col("l_discount") - 0.05).alias("abs_d"),
        F.sqrt("l_quantity").alias("sqrt_q"),
        F.pow("l_quantity", F.lit(2.0)).alias("q2"),
        F.exp("l_discount").alias("exp_d"),
        F.log(F.col("l_extendedprice")).alias("ln_p"),
        (F.col("l_orderkey") % 7).cast("bigint").alias("mod7"),
        F.floor(F.col("l_extendedprice") / 1000.0).cast("bigint").alias("price_kfloor"),
        F.ceil(F.col("l_quantity") / 10.0).cast("bigint").alias("q_ceil10"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
        F.atan2(F.col("l_quantity"), F.col("l_discount") + 1.0).alias("angle"),
        F.radians("l_quantity").alias("rad_q"),
    )


@query(
    "q_array_funcs",
    oracle="""
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       CAST(list_max(embedding) AS DOUBLE) AS vmax,
       CAST(list_min(embedding) AS DOUBLE) AS vmin,
       CAST(embedding[1] AS DOUBLE) AS first_v,
       CAST(embedding[8] AS DOUBLE) AS eighth_v,
       list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS vsum,
       CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos
FROM embeddings
""",
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions over array<float> (reference op 7's
    coordinate-list manipulation, src/pipeline_calculator_v3.py:185-214).
    Scalar outputs only — list-typed outputs hash differently per engine."""
    e = t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.array_max("embedding").cast("double").alias("vmax"),
        F.array_min("embedding").cast("double").alias("vmin"),
        F.element_at("embedding", 1).cast("double").alias("first_v"),
        F.element_at("embedding", 8).cast("double").alias("eighth_v"),
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x,
        ).alias("vsum"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("bigint").alias("n_pos"),
    )


@query(
    "q_map_funcs",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
       CAST(1 AS BIGINT) AS n_keys
FROM events
""",
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-attribute map projection — the KML ExtendedData model
    (src/pipeline_calculator_v3.py:148-165, SURVEY.md §1.2): parse the props
    JSON into MAP<STRING,BIGINT>, project with element_at/map_keys.

    Reads via events_t: the shared explicit-schema reader is the single
    place that knows the events timestamp encoding (TIMESTAMP(MICROS) ntz —
    see sql.SCHEMAS["events"]), so unit bugs can't fork per query."""
    ev = events_t(spark, sf_dir)
    m = F.from_json("props", "map<string,bigint>")
    return ev.select(
        "event_id",
        F.element_at(m, "k").alias("k_val"),
        F.size(F.map_keys(m)).cast("bigint").alias("n_keys"),
    )


@query(
    "q_json_funcs",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_num,
       json_extract_string(props, '$.k') AS k_str,
       CASE WHEN json_extract(props, '$.missing') IS NULL THEN 1 ELSE 0 END AS miss_null
FROM events
""",
)
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalars on events.props (reference op 24's JSON envelope).
    Reads via events_t (see q_map_funcs on why raw reads are wrong here)."""
    ev = events_t(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_num"),
        F.get_json_object("props", "$.k").alias("k_str"),
        F.when(F.get_json_object("props", "$.missing").isNull(), 1)
        .otherwise(0).alias("miss_null"),
    )


@query(
    "q_variant_extract",
    oracle="""
SELECT CAST(CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS BIGINT) AS k_bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
FROM events
GROUP BY k_bucket
""",
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): props parses ONCE into the
    binary variant encoding (parse_json -> VariantType) and typed paths
    extract via variant_get — the open-schema ingestion pattern that
    replaces per-access get_json_object re-parsing (q_json_funcs covers
    the string-path functions; this is the typed engine path a 100 TB
    semi-structured column actually wants, where shredded variants prune
    like real columns)."""
    ev = events_t(spark, sf_dir)
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "bigint")
    return (
        ev.select(k.alias("k"))
        .groupBy((F.col("k") % 10).cast("bigint").alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("k").cast("bigint").alias("k_sum"),
        )
    )
