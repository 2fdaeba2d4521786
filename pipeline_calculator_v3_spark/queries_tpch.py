"""TPC-H-classic query shapes over the star schema — the lingua-franca
workload proving the relational engine composes (multi-join + agg + sort +
filter pushdown in one plan), plus explicit big-big join strategies."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .caching import persist_tracked
from .operators.joins import merge_join, salted_join
from .queries import query, t


@query(
    "q_tpch_q3_shipping_priority",
    oracle="""
SELECT l.l_orderkey,
       ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 6) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, orderdate
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment filter pushes into the customer scan, date
    filters into orders/lineitem; dims broadcast; one agg shuffle; top-k."""
    c = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1995-03-15")
    li = t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1995-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        # revenue rounded BEFORE ranking (the q15 selection-stability
        # rule, review r06): ordering the LIMIT on a raw multi-row double
        # sum lets cross-engine summation noise flip near-tied rows across
        # the cutoff — a wholesale row-set mismatch no tolerance absorbs
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q_tpch_q5_local_volume",
    oracle="""
SELECT n.n_name,
       SUM(l.l_extendedprice * (1.0 - l.l_discount)) AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with a same-nation residual; every dim
    broadcasts, lineitem streams through exactly one agg shuffle."""
    r = t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).alias("revenue"))
    )


@query(
    "q_tpch_q10_returned",
    oracle="""
SELECT c.c_custkey, c.c_name,
       ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 6) AS revenue,
       n.n_name
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        # rounded before ranking — same selection-stability rule as Q3/Q15
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q_join_big_sort_merge",
    oracle="""
SELECT l.l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines, o.o_totalprice
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY l.l_orderkey, o.o_totalprice
""",
)
def q_join_big_sort_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join pinned to sort-merge (operators/joins.py): the 100 TB
    shape where neither side broadcasts — both shuffle on the key once and
    the aggregation reuses that partitioning."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    return (
        merge_join(
            li.select("l_orderkey"),
            o.select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"),
            on=["l_orderkey"],
        )
        .groupBy("l_orderkey", "o_totalprice")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"))
        .select("l_orderkey", "n_lines", "o_totalprice")
    )


@query(
    "q_join_salted_skew",
    oracle="""
WITH skewed AS (
    SELECT CASE WHEN l_orderkey % 3 = 0 THEN 0 ELSE l_suppkey END AS skey,
           l_extendedprice
    FROM lineitem
)
SELECT s.s_name,
       CAST(COUNT(*) AS BIGINT) AS n,
       SUM(k.l_extendedprice) AS volume
FROM skewed k JOIN supplier s ON s.s_suppkey = k.skey
GROUP BY s.s_name
""",
)
def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join (operators/joins.py): a third of lineitem is
    forced onto one hot key; the salt spreads it over 8 reducers while the
    small side replicates 8x.  Same result as the plain join, skew-proof
    plan."""
    li = t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 3 == 0, 0)
        .otherwise(F.col("l_suppkey"))
        .alias("skey"),
        "l_extendedprice",
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("skey"), "s_name"
    )
    return (
        salted_join(li, s, key="skey")
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("l_extendedprice").alias("volume"),
        )
    )


# ONE SQL text, executed verbatim by BOTH Spark (spark.sql over registered
# views) and DuckDB (oracle) — dialect-common ANSI SQL.
_SHARED_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       SUM(l_extendedprice * (1.0 - l_discount)) AS sum_disc_price,
       SUM(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)) AS sum_charge,
       AVG(l_quantity) AS avg_qty,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_quantity < 45
GROUP BY l_returnflag, l_linestatus
"""

_SHARED_SQL_SUBQUERY = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.5 FROM orders)
  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
"""


@query("q_sql_shared_pricing", oracle=_SHARED_SQL_PRICING)
def q_sql_shared_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-SQL surface (sql.py): the exact oracle text runs through
    spark.sql — parser-level parity, not just semantic parity."""
    from .sql import run_sql

    return run_sql(spark, sf_dir, _SHARED_SQL_PRICING)


@query("q_sql_shared_subquery", oracle=_SHARED_SQL_SUBQUERY)
def q_sql_shared_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar + IN subqueries through the shared-SQL path."""
    from .sql import run_sql

    return run_sql(spark, sf_dir, _SHARED_SQL_SUBQUERY)


_SHARED_SQL_LATERAL = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c, LATERAL (
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 2
) o
"""


@query("q_sql_lateral_topn", oracle=_SHARED_SQL_LATERAL)
def q_sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-2 orders per customer) — the same
    text parses and plans on both engines; Spark rewrites it to a window
    top-N under the hood."""
    from .sql import run_sql

    return run_sql(spark, sf_dir, _SHARED_SQL_LATERAL)


@query(
    "q_tpch_q1_pricing_summary",
    oracle="""
SELECT l_returnflag,
       l_linestatus,
       ROUND(SUM(l_quantity), 3) AS sum_qty,
       ROUND(SUM(l_extendedprice), 3) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 3) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 3)
           AS sum_charge,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_extendedprice), 6) AS avg_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — THE scan-dominated aggregation benchmark:
    one pass over the fact table, map-side partial agg collapses to 4-6
    groups, the exchange carries grouped partials only.  Float sums rounded
    to 3 decimals on both engines (double addition order differs; magnitude
    ~1e8 leaves >= 1e-7 absolute precision, so millis-rounding is stable)."""
    li = t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-02")
    disc = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 3).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 3).alias("sum_base_price"),
        F.round(F.sum(disc), 3).alias("sum_disc_price"),
        F.round(F.sum(disc * (1.0 + F.col("l_tax"))), 3).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).cast("bigint").alias("count_order"),
    )


@query(
    "q_tpch_q4_order_priority",
    oracle="""
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
  AND o.o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o.o_orderpriority
""",
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): correlated EXISTS becomes a
    LEFT SEMI join — the orders side never duplicates however many lineitem
    rows match, so the exchange carries each order at most once.  (The spec's
    commitdate<receiptdate predicate is adapted to shipdate>orderdate; the
    testdata schema has no commit/receipt dates.)"""
    o = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = t(spark, sf_dir, "lineitem")
    sem = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("order_count")
    )


@query(
    "q_tpch_q7_nation_volume",
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 3) AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY supp_nation, cust_nation, l_year
""",
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (bilateral trade volume by year): fact-fact
    lineitem⋈orders shuffles once; supplier/customer/nation all broadcast;
    the nation-pair disjunction is a residual filter after the joins."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))), 3
            ).alias("revenue")
        )
    )


@query(
    "q_tpch_q13_order_distribution",
    oracle="""
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
    SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
)
GROUP BY c_count
""",
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER join
    keeps zero-order customers (COUNT of the nullable key counts non-nulls),
    then a second aggregation histograms the counts — two shuffles total,
    the second over the tiny (c_count) domain."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


@query(
    "q_tpch_q14_promo_share",
    oracle="""
SELECT ROUND(
         100.0 * SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                          THEN l.l_extendedprice * (1.0 - l.l_discount)
                          ELSE 0.0 END)
         / SUM(l.l_extendedprice * (1.0 - l.l_discount)), 6) AS promo_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
  AND l.l_shipdate < TIMESTAMP '1996-04-01'
""",
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion revenue share): conditional aggregation
    ratio in ONE pass — part broadcasts, the month filter pushes into the
    lineitem scan, no second scan for the denominator."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type").like("PROMO%"), disc).otherwise(0.0))
                / F.sum(disc),
                6,
            ).alias("promo_revenue")
        )
    )


@query(
    "q_tpch_q15_top_supplier",
    oracle="""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 3) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
QUALIFY row_number() OVER (ORDER BY r.total_revenue DESC, s.s_suppkey) = 1
""",
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier by quarterly revenue): the spec's
    view + MAX-equality is planned as a rank-1 window over the aggregated
    revenue CTE — one agg shuffle, then a single-partition rank over the
    (tiny) supplier-level rollup.  Revenue rounded to 3 decimals BEFORE
    ranking so cross-engine float summation order cannot flip the winner."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))), 3)
        .alias("total_revenue")
    )
    s = t(spark, sf_dir, "supplier")
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("total_revenue"), F.asc("s_suppkey"))
    return (
        s.join(rev, s.s_suppkey == rev.supplier_no)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q_tpch_q18_large_orders",
    oracle="""
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_totalprice, SUM(l.l_quantity) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
    HAVING SUM(l_quantity) > 210
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
""",
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): the HAVING subquery is a
    self-aggregation of the fact table semi-joined back on the key — both
    lineitem passes shuffle on l_orderkey, so AQE can reuse the exchange;
    qualifying keys are few, the rest of the plan is dim-broadcast."""
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > 210)
        .select("l_orderkey")
    )
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
        )
        .agg(F.sum("l_quantity").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "q_tpch_q6_forecast_revenue",
    oracle="""
SELECT ROUND(SUM(l_extendedprice * l_discount), 3) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24.0
""",
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecast revenue — pure predicate-pushdown showcase: all
    three filters reach the parquet scan (min/max row-group skipping at
    scale), zero joins, single scalar result."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 3).alias("revenue"))
    )


@query(
    "q_tpch_q8_market_share",
    oracle="""
WITH all_lines AS (
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           l.l_extendedprice * (1.0 - l.l_discount) AS volume,
           n2.n_name AS supp_nation
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n1.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'ASIA'
)
SELECT o_year,
       ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END)
             / SUM(volume), 6) AS mkt_share
FROM all_lines
GROUP BY o_year
""",
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (market share by year): NATION_3's share of supply
    volume into ASIA customers — numerator and denominator from ONE pass
    (conditional aggregation), every dim broadcast, lineitem⋈orders the
    only fact shuffle."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    r = t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "q_tpch_q19_disjunctive",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 3) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#33' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 20 AND 40)
""",
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, OR-of-ANDs): the disjunction
    mixes join-side predicates — it can only be applied AFTER the join, but
    each disjunct's single-side conjuncts (brand/size unions, quantity
    envelope) are derivable and push into the scans; part broadcasts."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    d1 = (
        (F.col("p_brand") == "Brand#11")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    d2 = (
        (F.col("p_brand") == "Brand#22")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 30)
    )
    d3 = (
        (F.col("p_brand") == "Brand#33")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 40)
    )
    return j.where(d1 | d2 | d3).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))), 3
        ).alias("revenue"),
    )


@query(
    "q_tpch_q17_small_qty",
    oracle="""
SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 3) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < (
      SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = l.l_partkey)
""",
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): THE correlated scalar
    subquery planner stressor.  Spark plans it decorrelated by hand here —
    the per-part AVG is a self-aggregation of the fact table joined back on
    l_partkey.  Both the filtered fact side and the avg side shuffle on
    l_partkey, so AQE can reuse the exchange; the brand filter pushes into
    the part scan and semi-restricts the fact AFTER the avg join (matching
    the spec: the average is over ALL lineitems of the part, not just the
    brand-filtered ones — a classic decorrelation trap).  (p_container is
    absent from the testdata schema; the brand filter alone selects the
    part subset.)"""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .join(part_avg, li.l_partkey == F.col("pk"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 3).alias("avg_yearly")
        )
    )


@query(
    "q_tpch_q20_excess_supply",
    oracle="""
WITH supply AS (
    SELECT l_suppkey, l_partkey, SUM(l_quantity) AS qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey, l_partkey
),
part_total AS (
    SELECT l_partkey, SUM(qty) AS total_qty FROM supply GROUP BY l_partkey
),
dominant AS (
    SELECT s.l_suppkey
    FROM supply s
    JOIN part_total pt ON pt.l_partkey = s.l_partkey
    WHERE s.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      AND s.qty > 0.5 * pt.total_qty
)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
""",
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): nested semi-join chain —
    supplier SEMI (supply-share SEMI part-name-subset).  The testdata has no
    partsupp, so the spec's `ps_availqty > 0.5 * shipped qty` becomes
    share-of-part dominance (a supplier shipping >50% of a part's 1996
    volume), preserving the planner shape: a correlated aggregate
    decorrelated into two stacked aggregations over the SAME shuffle key
    (l_partkey partials reuse the (l_suppkey, l_partkey) exchange), a
    broadcast semi on the name-filtered part list, then a final semi into
    supplier so no supplier row ever duplicates."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    red = t(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    supply = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    part_total = supply.groupBy("l_partkey").agg(
        F.sum("qty").alias("total_qty")
    )
    dominant = (
        supply.join(F.broadcast(red), supply.l_partkey == red.p_partkey, "left_semi")
        .join(part_total, "l_partkey")
        .where(F.col("qty") > 0.5 * F.col("total_qty"))
        .select("l_suppkey")
    )
    s = t(spark, sf_dir, "supplier")
    return s.join(
        dominant, s.s_suppkey == dominant.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@query(
    "q_tpch_q21_waiting_supplier",
    oracle="""
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey AND l1.l_returnflag = 'R'
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s.s_name
""",
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the EXISTS +
    NOT EXISTS chain — a left-SEMI then left-ANTI join of the fact table
    against itself, each with a non-equi residual (same order, DIFFERENT
    supplier).  All three lineitem branches shuffle on l_orderkey, the
    orders filter semi-restricts, supplier broadcasts at the end.  (The
    spec's receipt-after-commit lateness marker is adapted to
    l_returnflag='R' — the testdata schema carries no commit/receipt
    dates; the sole-failing-supplier logic is unchanged.)"""
    li = t(spark, sf_dir, "lineitem")
    l1 = li.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    o = t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    s = t(spark, sf_dir, "supplier")
    waiting = (
        l1.join(o, l1.l_orderkey == o.o_orderkey, "left_semi")
        .join(
            l2,
            (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )


@query(
    "q_tpch_q22_global_sales",
    oracle="""
WITH avg_bal AS (
    SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0
),
eligible AS (
    SELECT c.c_custkey, c.c_acctbal, n.n_name AS cntrycode
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey, avg_bal
    WHERE n.n_name IN ('NATION_1','NATION_3','NATION_5','NATION_7',
                       'NATION_11','NATION_13','NATION_17')
      AND c.c_acctbal > avg_bal.ab
)
SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
       ROUND(SUM(c_acctbal), 3) AS totacctbal
FROM eligible e
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = e.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-06-01')
GROUP BY cntrycode
""",
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): an uncorrelated scalar
    aggregate (global avg balance — one row, broadcast into the filter) +
    an ANTI join against orders.  Every synthetic customer has at least one
    order, so the spec's never-ordered predicate is adapted to LAPSED
    customers (no order since 2000-06-01, non-empty at every SF) — the
    date filter pushes into the orders scan before the anti join; the
    country-code grouping uses the nation name (the schema has no
    c_phone)."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation").where(
        F.col("n_name").isin(
            "NATION_1", "NATION_3", "NATION_5", "NATION_7",
            "NATION_11", "NATION_13", "NATION_17",
        )
    )
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    recent = t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= "2000-06-01"
    )
    eligible = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .select("c_custkey", "c_acctbal", F.col("n_name").alias("cntrycode"))
    )
    return (
        eligible.join(recent, eligible.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.round(F.sum("c_acctbal"), 3).alias("totacctbal"),
        )
    )


@query(
    "q_tpch_q2_min_cost_supplier",
    oracle="""
WITH cost AS (
    SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS supplycost
    FROM lineitem GROUP BY l_partkey, l_suppkey
),
eu AS (
    SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE'
)
SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_name,
       c.supplycost
FROM part p
JOIN cost c ON c.l_partkey = p.p_partkey
JOIN eu e ON e.s_suppkey = c.l_suppkey
WHERE p.p_type = 'STANDARD' AND p.p_size < 10
  AND c.supplycost = (
      SELECT MIN(c2.supplycost) FROM cost c2
      JOIN eu e2 ON e2.s_suppkey = c2.l_suppkey
      WHERE c2.l_partkey = p.p_partkey)
ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
LIMIT 100
""",
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): the correlated MIN subquery
    over a second copy of the supplier-cost relation, decorrelated into a
    per-part min aggregation joined back on the equality of an aggregate.
    The testdata has no partsupp, so the supplier-part cost relation is
    derived from lineitem; the cost measure is MIN(l_extendedprice) —
    deliberately an order-independent, exact aggregate, so the
    `cost = per-part-min` equality join cannot diverge between engines on
    floating-point summation order.  Region restriction (EUROPE) applies to
    BOTH the outer candidate rows and the inner min (the classic Q2 trap);
    both sides reuse the same region-filtered supplier build, which
    broadcasts (100 rows/25 nations/5 regions at any SF — dims grow far
    slower than the fact)."""
    li = t(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("supplycost")
    )
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # persisted: the region-restricted cost relation feeds BOTH the outer
    # candidate rows and the per-part min — without it the lineitem fact
    # scan + (partkey, suppkey) aggregation runs twice (verified in the
    # pre-fix physical plan: two identical Scan->HashAggregate subtrees)
    eu_cost = persist_tracked(
        cost.join(F.broadcast(eu), cost.l_suppkey == eu.s_suppkey)
    )
    best = eu_cost.groupBy(F.col("l_partkey").alias("bpk")).agg(
        F.min("supplycost").alias("min_cost")
    )
    p = t(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") < 10)
    )
    return (
        eu_cost.join(
            best,
            (eu_cost.l_partkey == best.bpk)
            & (eu_cost.supplycost == best.min_cost),
        )
        .join(F.broadcast(p), eu_cost.l_partkey == p.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            "supplycost",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@query(
    "q_tpch_q9_product_profit",
    oracle="""
SELECT n.n_name AS nation,
       CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS o_year,
       ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)
                 - p.p_retailprice * 0.1 * l.l_quantity), 3) AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%bolt%'
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): the widest join tree in the
    suite — fact x part x supplier x nation with a LIKE-filtered part side
    and a nation/year rollup.  The spec's ps_supplycost (no partsupp in the
    testdata) becomes a retail-price-derived unit cost (p_retailprice*0.1),
    keeping the profit expression a cross-table arithmetic over the join.
    The part filter broadcasts and semi-restricts the fact scan FIRST (the
    LIKE prunes ~1/6 of parts), supplier/nation broadcast after, so the
    only shuffle is the final nation x year hash aggregate."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").where(F.col("p_name").like("%bolt%"))
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
                    - F.col("p_retailprice") * 0.1 * F.col("l_quantity")
                ),
                3,
            ).alias("sum_profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "q_tpch_q11_important_stock",
    oracle="""
WITH nation_value AS (
    SELECT l.l_partkey, SUM(l.l_extendedprice) AS value
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_3'
    GROUP BY l.l_partkey
)
SELECT l_partkey, ROUND(value, 3) AS value
FROM nation_value
WHERE value > (SELECT SUM(value) * 0.002 FROM nation_value)
ORDER BY value DESC, l_partkey
""",
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): a grouped
    aggregate filtered by an UNCORRELATED scalar subquery over the same
    aggregate — the HAVING-vs-global-fraction planner shape.  partsupp
    value becomes per-part revenue through NATION_3's suppliers.  The
    grouped relation is computed once and persisted, feeding both the
    global sum (one row, broadcast back) and the threshold filter, so the
    expensive fact aggregation is not executed twice; the nation-filtered
    supplier side broadcasts into the fact scan."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    nat_supp = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    value = (
        li.join(F.broadcast(nat_supp), li.l_suppkey == nat_supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("value"))
    )
    value = persist_tracked(value)
    total = value.agg((F.sum("value") * 0.002).alias("threshold"))
    out = (
        value.crossJoin(F.broadcast(total))
        .where(F.col("value") > F.col("threshold"))
        .select("l_partkey", F.round("value", 3).alias("value"))
        .orderBy(F.col("value").desc(), "l_partkey")
    )
    return out


@query(
    "q_tpch_q12_shipmode_priority",
    oracle="""
SELECT l.l_returnflag AS shipmode,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 30 DAY
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY shipmode
ORDER BY shipmode
""",
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority): the conditional-aggregate
    pivot — two CASE-sums over o_orderpriority grouped by a line attribute,
    with a cross-table date residual on the join.  The schema has no
    l_shipmode/commitdate/receiptdate: the mode surrogate is l_returnflag
    and the spec's late-delivery chain becomes `shipped >= 30 days after
    order date` — still a non-equi residual the join must evaluate, not a
    pushable scan filter.  The year filter DOES push into the lineitem
    scan; the join shuffles on orderkey, and the tiny 3-row aggregate
    collapses map-side."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    o = t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate >= o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        )
        .groupBy(F.col("l_returnflag").alias("shipmode"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias(
                "low_line_count"
            ),
        )
        .orderBy("shipmode")
    )


@query(
    "q_tpch_q16_supplier_cnt",
    oracle="""
SELECT p.p_brand, p.p_size,
       CAST(COUNT(DISTINCT sp.l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) sp
JOIN part p ON p.p_partkey = sp.l_partkey
WHERE p.p_brand <> 'Brand#45'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND sp.l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0)
GROUP BY p.p_brand, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
""",
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): DISTINCT pairs ->
    negated-attribute part filter -> NOT IN anti join -> COUNT DISTINCT
    rollup.  The supplier-part relation is the lineitem distinct projection
    (no partsupp); the spec's complaint-comment exclusion becomes a low
    account balance (s_acctbal has no negatives in the testdata, so the
    threshold keeps the NOT IN list non-empty and the anti join load-
    bearing).  Distinct-pairs and the final count-distinct both shuffle;
    the part and complaint sides broadcast."""
    li = t(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    p = t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    complaints = t(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 1000.0
    )
    return (
        pairs.join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .join(
            F.broadcast(complaints),
            pairs.l_suppkey == complaints.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(
            F.count_distinct(F.col("l_suppkey")).cast("bigint").alias(
                "supplier_cnt"
            )
        )
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
    )


@query(
    "q_sql_recursive_tree",
    oracle="""
WITH RECURSIVE up(start, node, depth, bal) AS (
    SELECT c_custkey, c_custkey, 0, c_acctbal FROM customer
    UNION ALL
    SELECT u.start, c.c_custkey, u.depth + 1, u.bal + c.c_acctbal
    FROM up u JOIN customer c ON c.c_custkey = u.node // 2
    WHERE u.node > 0
)
SELECT start AS c_custkey, depth AS chain_len, ROUND(bal, 3) AS path_bal
FROM up WHERE node = 0
""",
)
def q_sql_recursive_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, Spark 4's UnionLoop execution):
    ancestor-chain walk over the key-halving tree (parent(k) = k DIV 2),
    accumulating the account-balance sum along each customer's path to the
    root.  Exercises the iterative-plan machinery no other query touches —
    the anchor seeds every customer, each step joins the frontier back to
    the dimension, and the path aggregation is carried state the optimizer
    cannot close-form.  Both engines accumulate leaf-to-root in the same
    recursion order, so the double path sums are bit-identical (ROUND(3)
    is display, not a tolerance).

    Scale shape: O(log N) recursive steps, each a key-equi join of the
    frontier against a broadcastable dimension; the frontier never exceeds
    the seed size — the same bounded-iteration discipline as the
    connected-components operator (operators/clusters.py), but expressed
    declaratively."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer_rc")
    return spark.sql("""
WITH RECURSIVE up(start, node, depth, bal) AS (
    SELECT c_custkey, c_custkey, 0, c_acctbal FROM customer_rc
    UNION ALL
    SELECT u.start, c.c_custkey, u.depth + 1, u.bal + c.c_acctbal
    FROM up u JOIN customer_rc c ON c.c_custkey = u.node DIV 2
    WHERE u.node > 0
)
SELECT start AS c_custkey, depth AS chain_len, ROUND(bal, 3) AS path_bal
FROM up WHERE node = 0
""")
