"""Relational surface batch 2: join flavors, distinct/approx aggregates,
grouping sets, windows, sessionization, set ops, pivot (SURVEY.md §2.B)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.asof import asof_join
from .queries import events_t, query, t


@query(
    "q_join_left_semi",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_extendedprice > 40000)
""",
)
def q_join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: existence probe without row multiplication — the
    build side only ships keys, never payloads."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").where(F.col("l_extendedprice") > 40000)
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


@query(
    "q_join_left_anti",
    oracle="""
SELECT o_orderkey, o_orderstatus
FROM orders o
WHERE NOT EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
)
""",
)
def q_join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_anti").select(
        "o_orderkey", "o_orderstatus"
    )


@query(
    "q_join_outer",
    oracle="""
WITH c AS (
    SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust
    FROM customer GROUP BY c_nationkey
),
s AS (
    SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_supp
    FROM supplier GROUP BY s_nationkey
)
SELECT CAST(COALESCE(c.nk, s.nk) AS BIGINT) AS nationkey, c.n_cust, s.n_supp
FROM c FULL OUTER JOIN s ON c.nk = s.nk
""",
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join of two aggregates; NULL sides preserved."""
    c = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cust"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_supp"))
    )
    return c.join(s, "nk", "full_outer").select(
        F.col("nk").cast("bigint").alias("nationkey"), "n_cust", "n_supp"
    )


@query(
    "q_join_theta_range",
    oracle="""
SELECT p.p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       SUM(l.l_extendedprice) AS sum_price
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
           AND l.l_extendedprice BETWEEN p.p_retailprice * 10 AND p.p_retailprice * 40
GROUP BY p.p_brand
""",
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-key + range residual (op 12's predicate class): the equi key does
    the shuffle/broadcast, the BETWEEN stays a cheap post-filter — never a
    cartesian range join."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    cond = (
        (p.p_partkey == li.l_partkey)
        & (li.l_extendedprice >= p.p_retailprice * 10)
        & (li.l_extendedprice <= p.p_retailprice * 40)
    )
    return (
        li.join(F.broadcast(p), cond)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("l_extendedprice").alias("sum_price"),
        )
    )


@query(
    "q_join_asof",
    oracle="""
SELECT e1.event_id, MAX(epoch_us(e2.ts)) AS view_ts_us
FROM events e1
LEFT JOIN events e2
  ON e2.user_id = e1.user_id AND e2.event_type = 'view' AND e2.ts <= e1.ts
WHERE e1.event_type = 'purchase'
GROUP BY e1.event_id
""",
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via the union+window operator (operators/asof.py): each
    purchase paired with the user's most recent prior view.  Microsecond epoch
    longs keep both engines at identical precision (DuckDB truncates the
    ns parquet to us)."""
    ev = events_t(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts_us", F.col("ts_us").alias("view_ts_us")
    )
    joined = asof_join(
        purchases, views, on=["user_id"], left_ts="ts_us", right_ts="ts_us",
        payload=["view_ts_us"], suffix="",
    )
    return joined.select("event_id", "view_ts_us")


@query(
    "q_agg_distinct",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_part,
       SUM(DISTINCT l_quantity) AS sum_dist_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates (op 18's set semantics): Spark expands to a
    two-phase partial-distinct plan — no driver-side sets."""
    return t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").cast("bigint").alias("n_supp"),
        F.countDistinct("l_partkey").cast("bigint").alias("n_part"),
        F.sum_distinct(F.col("l_quantity")).alias("sum_dist_qty"),
    )


@query("q_agg_approx_distinct")  # rows-only: HLL sketch is engine-specific
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++): the 100 TB path for cardinality — fixed
    sketch size instead of a distinct shuffle.  Oracle omitted (sketch values
    are engine-specific); driver records rows-only."""
    return t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.count(F.lit(1)).cast("bigint").alias("exact_rows"),
    )


@query(
    "q_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
    )


@query(
    "q_cube",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       SUM(o_totalprice) AS total,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("o_totalprice").alias("total"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
    )


@query(
    "q_grouping_sets",
    oracle="""
SELECT l_returnflag, l_linestatus,
       SUM(l_extendedprice) AS sum_price,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               SUM(l_extendedprice) AS sum_price,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        FROM parquet.`{sf_dir}/lineitem.parquet`
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "q_window_rank",
    oracle="""
SELECT c_custkey, c_mktsegment, c_acctbal,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(rank()       OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
QUALIFY rn <= 10
""",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking windows + top-N-per-group (ops 19,27).  c_custkey tiebreak
    makes row_number deterministic across engines."""
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        t(spark, sf_dir, "customer")
        .select(
            "c_custkey", "c_mktsegment", "c_acctbal",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.rank().over(w).cast("bigint").alias("rnk"),
            F.dense_rank().over(w).cast("bigint").alias("drnk"),
        )
        .where(F.col("rn") <= 10)
    )


@query(
    "q_window_lag_lead",
    oracle="""
SELECT event_id, user_id, value,
       lag(value)  OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       value - lag(value) OVER w AS delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
""",
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics (the op-8/op-14 window pattern)."""
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    ev = events_t(spark, sf_dir)
    return ev.select(
        "event_id", "user_id", "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@query(
    "q_window_frame",
    oracle="""
SELECT event_id, user_id, value,
       SUM(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_sum,
       AVG(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg3,
       MAX(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                        ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS peak3
FROM events
""",
)
def q_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit ROWS frames (op 15's running stats)."""
    base = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    ev = events_t(spark, sf_dir)
    return ev.select(
        "event_id", "user_id", "value",
        F.sum("value").over(base.rowsBetween(Window.unboundedPreceding, 0)).alias("running_sum"),
        F.avg("value").over(base.rowsBetween(-2, 0)).alias("moving_avg3"),
        F.max("value").over(base.rowsBetween(-1, 1)).alias("peak3"),
    )


def _with_session_seq(ev: DataFrame, gap_us: int, cols: list[str]) -> DataFrame:
    """Gaps-and-islands session ids over events: lag -> new-session flag ->
    running sum, partitioned by user_id and totally ordered by
    (ts_us, event_id).  THE single definition of the session contract —
    q_sessionize and q_first_touch_attribution both build on it, so the
    gap threshold and tie-break cannot silently fork."""
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = ev.select(
        *cols,
        F.when(
            (F.col("ts_us") - F.lag("ts_us").over(w) > gap_us)
            | F.lag("ts_us").over(w).isNull(),
            1,
        ).otherwise(0).alias("is_new"),
    )
    return flagged.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).drop("is_new")


@query(
    "q_sessionize",
    oracle="""
WITH flagged AS (
    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                     > 1800000000
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM events
),
sess AS (
    SELECT user_id, event_id, ts_us,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
    FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts_us) AS session_start_us,
       MAX(ts_us) AS session_end_us
FROM sess
GROUP BY user_id, session_seq
""",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization — the exact pattern of the reference's
    parallel-section grouping (src/pipeline_calculator_v3.py:412-430): lag →
    new-session flag → running sum → groupBy.  30-min gap on events
    (the session contract itself lives in _with_session_seq, shared with
    q_first_touch_attribution)."""
    ev = events_t(spark, sf_dir)
    sess = _with_session_seq(ev, 1_800_000_000, ["user_id", "event_id", "ts_us"])
    return sess.groupBy("user_id", F.col("session_seq").cast("bigint").alias("session_seq")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
    )


@query(
    "q_set_union",
    oracle="""
SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
UNION
SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
""",
)
def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("bigint").alias("nationkey")
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("bigint").alias("nationkey")
    )
    return c.union(s).distinct()


@query(
    "q_set_intersect",
    oracle="""
SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
INTERSECT
SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
""",
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("bigint").alias("nationkey")
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("bigint").alias("nationkey")
    )
    return c.intersect(s)


@query(
    "q_set_except",
    oracle="""
SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
EXCEPT
SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
""",
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("bigint").alias("nationkey")
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("bigint").alias("nationkey")
    )
    return c.subtract(s)


@query(
    "q_pivot",
    oracle="""
SELECT l_returnflag,
       SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS F,
       SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS O
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (the GUI's T3/T6 matrix views): explicit value list so the plan
    is a single pass — no values-discovery job."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum("l_quantity"))
    )


@query(
    "q_agg_stats",
    oracle="""
SELECT l_returnflag,
       ROUND(stddev_samp(l_extendedprice), 4) AS sd_price,
       ROUND(var_samp(l_extendedprice), 2) AS var_price,
       ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(covar_samp(l_quantity, l_extendedprice), 3) AS covar_qty_price,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/corr/covar plus exact
    interpolated percentiles (Spark `percentile` == DuckDB `quantile_cont`
    semantics).

    Both sides ROUND each float aggregate — precision scaled to each
    statistic's magnitude (variance ~5e6 coarser than corr ~1) — so engine
    summation-order divergence stays inside the driver's value hash.
    """
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_extendedprice"), 2).alias("var_price"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 3).alias("covar_qty_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"),
    )


@query(
    "q_window_dist",
    oracle="""
SELECT c_custkey, c_mktsegment, c_acctbal,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       first_value(c_custkey) OVER w AS top_cust,
       nth_value(c_custkey, 2) OVER w AS second_cust
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
""",
)
def q_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile/percent_rank/cume_dist +
    first/nth value (deterministic tiebreak ordering)."""
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("c_custkey").over(w).alias("top_cust"),
        F.nth_value("c_custkey", 2).over(w).alias("second_cust"),
    )


@query(
    "q_string_agg",
    oracle="""
SELECT n_regionkey AS regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       CAST(COUNT(*) AS BIGINT) AS n
FROM nation
GROUP BY n_regionkey
""",
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: sort-then-join makes collect_list
    deterministic (collect_list alone is partition-order dependent)."""
    return (
        t(spark, sf_dir, "nation")
        .groupBy(F.col("n_regionkey").alias("regionkey"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )


@query(
    "q_unpivot",
    oracle="""
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       'l_quantity' AS metric, l_quantity AS value
FROM lineitem WHERE l_orderkey < 1000
UNION ALL
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       'l_extendedprice' AS metric, l_extendedprice AS value
FROM lineitem WHERE l_orderkey < 1000
UNION ALL
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       'l_discount' AS metric, l_discount AS value
FROM lineitem WHERE l_orderkey < 1000
""",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide -> long): Spark's native unpivot vs the oracle's
    dialect-safe UNION ALL expansion."""
    li = t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1000).select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        "l_quantity", "l_extendedprice", "l_discount",
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric", "value",
    )


@query(
    "q_null_semantics",
    oracle="""
SELECT o_orderkey,
       COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_mapped,
       CASE WHEN NULLIF(o_totalprice, 0.0) IS NULL THEN -1.0
            ELSE o_totalprice END AS price_guarded,
       CAST(o_orderstatus IS NOT DISTINCT FROM 'F' AS INTEGER) AS is_f_nullsafe,
       CAST(NULLIF(o_orderpriority, o_orderpriority) IS NULL AS INTEGER) AS self_nullif
FROM orders
""",
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling corners: coalesce/nullif and null-safe equality
    (Spark's <=> == SQL IS NOT DISTINCT FROM)."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias("status_mapped"),
        F.when(F.nullif("o_totalprice", F.lit(0.0)).isNull(), -1.0)
        .otherwise(F.col("o_totalprice")).alias("price_guarded"),
        F.col("o_orderstatus").eqNullSafe("F").cast("int").alias("is_f_nullsafe"),
        F.nullif("o_orderpriority", F.col("o_orderpriority")).isNull().cast("int").alias("self_nullif"),
    )


@query(
    "q_join_range_binned",
    oracle="""
SELECT n.n_nationkey AS band,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       ROUND(SUM(l.l_extendedprice), 3) AS sum_price
FROM lineitem l
JOIN nation n
  ON l.l_extendedprice >= n.n_nationkey * 2500.0
 AND l.l_extendedprice <= n.n_nationkey * 2500.0 + 3000.0
GROUP BY band
""",
)
def q_join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE interval join (no equi key) via the binned plan
    (operators/intervals.py): price points ⋈ overlapping price bands.  The
    naive plan is a broadcast-nested-loop scanning every (point, interval)
    pair; binning turns it into an EQUI-join on a dense integer — the 1-D
    version of the spatial grid join, and the shape that survives when BOTH
    sides are too big to broadcast.  The oracle is the naive BETWEEN join,
    so the rewrite is value-checked equivalent."""
    from .operators.intervals import interval_bin_join

    li = t(spark, sf_dir, "lineitem").select("l_extendedprice")
    bands = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("band"),
        (F.col("n_nationkey") * 2500.0).alias("lo"),
        (F.col("n_nationkey") * 2500.0 + 3000.0).alias("hi"),
    )
    joined = interval_bin_join(li, bands, "l_extendedprice", "lo", "hi", 1000.0)
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.round(F.sum("l_extendedprice"), 3).alias("sum_price"),
    )


@query(
    "q_cdc_upsert",
    oracle="""
WITH base AS (
    SELECT o_orderkey, o_orderstatus, 1 AS version, 0 AS seq FROM orders
),
updates AS (
    SELECT o_orderkey, 'X' AS o_orderstatus, 2 AS version, 1 AS seq
    FROM orders WHERE o_orderkey % 7 = 0
),
merged AS (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                 ORDER BY version DESC, seq DESC) AS rn
    FROM (SELECT * FROM base UNION ALL SELECT * FROM updates)
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM merged WHERE rn = 1
GROUP BY o_orderstatus
""",
)
def q_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-wins merge (operators/cdc.py::upsert_latest): a change
    stream (every 7th order flips to status 'X' at version 2) upserts into
    the base snapshot; exactly one row per key survives, highest version
    wins, ties deterministic.  The engine-portable MERGE INTO: union +
    window rank, one shuffle on the key."""
    from .operators.cdc import upsert_latest

    o = t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_orderstatus",
        F.lit(1).alias("version"), F.lit(0).alias("seq"),
    )
    updates = (
        o.where(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey", F.lit("X").alias("o_orderstatus"),
            F.lit(2).alias("version"), F.lit(1).alias("seq"),
        )
    )
    merged = upsert_latest(base, updates, "o_orderkey", "version", "seq")
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )


@query(
    "q_window_time_range",
    oracle="""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_5min,
       ROUND(SUM(value) OVER w, 6) AS sum_5min
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)
""",
)
def q_window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: per user, the rolling 5-minute count
    and value sum ending at each event — the frame boundary is a VALUE
    offset on epoch-micros, not a row count (q_window_frame covers ROWS
    frames; this is the other frame type, and the one streaming-adjacent
    analytics actually use).  Events sharing a timestamp are frame peers in
    both engines, so the frame SET is deterministic even under ties; the
    double sum is rounded 6 dp to absorb within-frame summation order.

    Scale shape: one exchange on user_id feeds the sort + running frame —
    same plan family as sessionization; no self-join materializes the
    O(rows x frame) pairs the naive formulation would."""
    ev = events_t(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-300_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_5min"),
        F.round(F.sum("value").over(w), 6).alias("sum_5min"),
    )


@query(
    "q_scd2_history",
    oracle="""
WITH ordered AS (
    SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id) AS prev_type
    FROM events
),
changes AS (
    SELECT user_id, event_type, ts_us, event_id FROM ordered
    WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type,
       ts_us AS valid_from_us,
       lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           AS valid_to_us,
       (lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           IS NULL) AS is_current
FROM changes
""",
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: each user's
    event_type stream collapses consecutive duplicates (lag), then each
    surviving change row gets [valid_from, valid_to) from the next change
    (lead) — the standard CDC-to-dimension-history derivation, fully
    deterministic under the (ts_us, event_id) total order.

    Scale shape: both windows and the filter key on user_id — ONE exchange
    serves the lag, the change filter, and the lead (the filter preserves
    child ordering, so Catalyst reuses the sort)."""
    ev = events_t(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes = (
        ev.select(
            "user_id", "event_type", "ts_us", "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
    )
    valid_to = F.lead("ts_us").over(w)
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts_us").alias("valid_from_us"),
        valid_to.alias("valid_to_us"),
        valid_to.isNull().alias("is_current"),
    )


@query(
    "q_funnel_conversion",
    oracle="""
WITH v AS (
    SELECT user_id, MIN(epoch_us(ts)) AS tv FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, MIN(epoch_us(e.ts)) AS tc
    FROM events e JOIN v ON v.user_id = e.user_id
    WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.tv
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(epoch_us(e.ts)) AS tp
    FROM events e JOIN c ON c.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.tc
    GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase,
       CAST((SELECT SUM(p.tp - v.tv) FROM p JOIN v ON v.user_id = p.user_id)
            AS BIGINT) AS total_lag_us
""",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (view -> click -> purchase): each stage is
    the user's FIRST qualifying event strictly after their previous stage
    — the sequential-pattern query product analytics runs constantly, and
    a three-deep chain of order-dependent aggregations the planner must
    keep as stacked semi-dependent joins (a naive per-type MIN ignores
    ordering and overcounts).

    Scale shape: every stage keys on user_id — the per-stage aggregates
    and the stage-to-stage joins all reuse one exchange family; stage
    frames only shrink, and the final counts are single-row broadcasts."""
    from .caching import persist_tracked

    ev = events_t(spark, sf_dir)
    # each stage frame feeds TWO consumers (its count + the next stage's
    # join, and v additionally the lag join) — persisted, the events scan
    # runs once per stage instead of once per consumer subtree
    v = persist_tracked(
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("tv"))
    )
    c = persist_tracked(
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts_us") > F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("tc"))
    )
    p = persist_tracked(
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts_us") > F.col("tc"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("tp"))
    )
    lag = p.join(v, "user_id").agg(
        F.sum(F.col("tp") - F.col("tv")).cast("bigint").alias("total_lag_us")
    )
    counts = (
        v.agg(F.count(F.lit(1)).cast("bigint").alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).cast("bigint").alias("n_click")))
        .crossJoin(
            p.agg(F.count(F.lit(1)).cast("bigint").alias("n_purchase"))
        )
        .crossJoin(lag)
    )
    return counts


@query(
    "q_graph_triangles",
    oracle="""
WITH edges AS (
    SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
    FROM lineitem a
    JOIN lineitem b ON a.l_partkey = b.l_partkey
                   AND a.l_suppkey < b.l_suppkey
)
SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*)
             FROM edges e1
             JOIN edges e2 ON e2.s1 = e1.s2
             JOIN edges e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2) AS BIGINT)
           AS n_triangles
""",
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the supplier co-supply graph (edge = two
    suppliers shipped the same part): the canonical distributed-graph
    join workload — a three-way self-join where the ordering convention
    (s1 < s2 everywhere, wedges closed by the s1<s2<s3 orientation) counts
    each triangle exactly once with no post-hoc dedup.

    Scale shape: edge generation aggregates each part's DISTINCT supplier
    set first (one shuffle with map-side combine — the fact table never
    self-joins), then explodes the per-part pair combinations with a HOF
    over the sorted set, quadratic only in per-part degree, which the
    supply chain bounds (a genuinely hot part would cap/salt its set like
    every other blocked self-join here).  Measured at sf0.1 this replaces
    an 18M-row join-then-distinct with a 20k-set aggregate + map-side
    explode.  The wedge join keys on the shared vertex and the closing
    join on the (s1, s2) pair — standard node-iterator triangle counting,
    shuffles keyed on vertices, never an unblocked N^2.

    Cost honesty: the synthetic co-supply graph is COMPLETE at sf0.1
    (1000 suppliers, 499,500 edges), so the true answer is C(1000,3) =
    166,167,000 triangles and the wedge enumeration is output-bound
    (~12M closed wedges/s measured) — that is the workload, not a plan
    defect; real co-supply graphs are sparse and the same plan scales
    with Sum(deg^2), the node-iterator bound."""
    from .operators.joins import cooccurrence_edges

    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    edges = cooccurrence_edges(li, "l_partkey", "l_suppkey")
    from .caching import persist_tracked

    edges = persist_tracked(edges)
    e1 = edges
    e2 = edges.select(F.col("s1").alias("t1"), F.col("s2").alias("t2"))
    e3 = edges.select(F.col("s1").alias("u1"), F.col("s2").alias("u2"))
    tri = (
        e1.join(e2, F.col("t1") == F.col("s2"))
        .join(e3, (F.col("u1") == F.col("s1")) & (F.col("u2") == F.col("t2")))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return n_edges.crossJoin(tri)


@query(
    "q_snapshot_diff",
    oracle="""
WITH old AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE o_orderdate < TIMESTAMP '1998-01-01'
),
new AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
           o_totalprice
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1999-01-01'
),
d AS (
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_orderstatus <> n.o_orderstatus
                  OR o.o_totalprice <> n.o_totalprice THEN 'changed'
                ELSE 'unchanged' END AS verdict
    FROM old o FULL OUTER JOIN new n ON n.o_orderkey = o.o_orderkey
)
SELECT verdict, CAST(COUNT(*) AS BIGINT) AS n
FROM d GROUP BY verdict
""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the incremental-refresh primitive: two snapshots of
    the same table (an older date cut vs a newer one with planted status
    mutations) full-outer-joined on the key and classified added / removed
    / changed / unchanged.  This is how a 100 TB pipeline decides what to
    reprocess without a CDC feed; the CDC path proper is q_cdc_upsert.

    Scale shape: both snapshots shuffle once on the key (the full outer
    join cannot broadcast and should not — both sides are table-scale);
    the classification is a post-join projection and the rollup is four
    groups.  In production the two sides would be bucketed on the key
    (``DataFrameWriter.bucketBy``), making the diff shuffle-free."""
    o = t(spark, sf_dir, "orders")
    old = o.where(F.col("o_orderdate") < "1998-01-01").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = o.where(F.col("o_orderdate") < "1999-01-01").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 11 == 0, "X")
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_totalprice",
    )
    j = old.alias("o").join(
        new.alias("n"),
        F.col("o.o_orderkey") == F.col("n.o_orderkey"),
        "full_outer",
    )
    verdict = (
        F.when(F.col("o.o_orderkey").isNull(), "added")
        .when(F.col("n.o_orderkey").isNull(), "removed")
        .when(
            (F.col("o.o_orderstatus") != F.col("n.o_orderstatus"))
            | (F.col("o.o_totalprice") != F.col("n.o_totalprice")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        j.select(verdict.alias("verdict"))
        .groupBy("verdict")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@query(
    "q_interval_union",
    oracle="""
WITH iv AS (
    SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
    FROM events
),
flagged AS (
    SELECT user_id, s, e,
           CASE WHEN s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM iv
),
islands AS (
    SELECT user_id, s, e,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM flagged
),
merged AS (
    SELECT user_id, island, MIN(s) AS ms, MAX(e) AS me
    FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(me - ms) AS BIGINT) AS covered_us
FROM merged GROUP BY user_id
""",
)
def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union length (coverage): each event opens a 5-minute
    activity interval; overlapping intervals merge and the union length is
    summed per user — the utilization/coverage primitive (machine uptime,
    sensor coverage, ad exposure).  Classic gaps-and-islands: an interval
    starts a new island exactly when its start exceeds the running MAX of
    all previous ends (MAX, not lag — an earlier long interval can swallow
    several later ones, the trap that makes the lag formulation wrong).
    All arithmetic on epoch-micro longs — exact in both engines.

    Scale shape: one exchange on user_id serves both windows, the island
    rollup, and the final per-user aggregate — the same single-exchange
    family as sessionization."""
    ev = events_t(spark, sf_dir)
    iv = ev.select(
        "user_id",
        F.col("ts_us").alias("s"),
        (F.col("ts_us") + 300_000_000).alias("e"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max_end = F.max("e").over(w)
    flagged = iv.select(
        "user_id", "s", "e",
        F.when(
            prev_max_end.isNull() | (F.col("s") > prev_max_end), 1
        ).otherwise(0).alias("is_new"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "user_id", "s", "e", F.sum("is_new").over(w2).alias("island")
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum(F.col("me") - F.col("ms")).cast("bigint").alias("covered_us"),
    )


def _pagerank_oracle_sql(iterations: int) -> str:
    """DuckDB replay of operators/pagerank.py: the damped power iteration
    UNROLLED into one MATERIALIZED CTE per round (aggregation over the recursive
    reference is not legal in a recursive CTE, and the iteration count is a
    fixed parameter of the query, so unrolling is the faithful spelling;
    MATERIALIZED is load-bearing — each round references its predecessor
    twice, and DuckDB's default CTE inlining would re-expand the whole
    chain 2^iterations times).
    Every arithmetic step mirrors the Spark expression shape —
    ``(1.0 - 0.85) + 0.85 * (inflow + dm / n)`` on doubles — so both
    engines accumulate the same rounding behaviour to well below the
    ROUND(6) output precision."""
    parts = [
        """
WITH e AS MATERIALIZED (
    SELECT DISTINCT o_custkey AS src, -(l_suppkey + 1) AS dst
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
params AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM v),
deg AS MATERIALIZED (
    SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM e GROUP BY src),
r0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM v)"""
    ]
    for k in range(1, iterations + 1):
        parts.append(f""",
r{k} AS MATERIALIZED (
    SELECT v.id,
           (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
             + CAST(0.85 AS DOUBLE)
               * (COALESCE(i.inflow, CAST(0.0 AS DOUBLE)) + d.dm / p.n)
             AS rank
    FROM v
    LEFT JOIN (
        SELECT e.dst AS id, SUM(r.rank / deg.deg) AS inflow
        FROM e JOIN deg USING (src) JOIN r{k - 1} r ON r.id = e.src
        GROUP BY e.dst
    ) i USING (id)
    CROSS JOIN (
        SELECT COALESCE(SUM(rank), CAST(0.0 AS DOUBLE)) AS dm
        FROM r{k - 1} WHERE id NOT IN (SELECT src FROM e)
    ) d
    CROSS JOIN params p
)""")
    parts.append(f"""
SELECT id, ROUND(rank, 6) AS rank FROM r{iterations}
ORDER BY ROUND(rank, 6) DESC, id LIMIT 20
""")
    return "".join(parts)


@query("q_graph_pagerank", oracle=_pagerank_oracle_sql(10))
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (10 damped power iterations, operators/pagerank.py) over
    the customer -> supplier purchase graph (an edge per distinct buying
    relationship via orders x lineitem).  Customers have out-edges only
    and suppliers none, so the dangling-mass redistribution is
    load-bearing, not decorative.  Output: top-20 vertices by rank with a
    deterministic id tiebreak; the conservation invariant
    (sum(rank) == n_vertices) and the closed-form/regular-graph checks
    live in tests/test_pagerank.py.

    Scale shape: each of the 10 rounds is one vertex-keyed join + one
    aggregate over the SAME exchange family; per-round localCheckpoint
    frees its predecessor (O(1) pinned state, operators/clusters.py
    lifecycle); the dangling term is a one-row broadcast."""
    from .operators.pagerank import pagerank

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            # suppliers live on the NEGATIVE axis: collision-free against
            # the non-negative customer key space at EVERY scale factor (a
            # fixed positive offset silently merges vertices once custkeys
            # outgrow it)
            (-(F.col("l_suppkey") + 1)).alias("dst"),
        )
        .distinct()
    )
    ranks = pagerank(edges, iterations=10)
    # order by the ROUNDED rank (the comparison-visible value) with an id
    # tiebreak, so the top-20 SET is selection-stable across engines even
    # when sub-ulp summation noise reorders raw ranks near the cutoff
    return (
        ranks.select("id", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "id")
        .limit(20)
    )


@query(
    "q_first_touch_attribution",
    oracle="""
WITH flagged AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  OR lag(epoch_us(ts)) OVER w IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
sess AS (
    SELECT user_id, event_id, event_type, ts_us,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM flagged
),
first_touch AS (
    SELECT user_id, sid, event_type AS channel
    FROM (SELECT user_id, sid, event_type,
                 row_number() OVER (PARTITION BY user_id, sid
                     ORDER BY ts_us, event_id) AS rn
          FROM sess)
    WHERE rn = 1
)
SELECT f.channel,
       CAST(COUNT(DISTINCT (s.user_id, s.sid)) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN s.event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases
FROM sess s JOIN first_touch f ON f.user_id = s.user_id AND f.sid = s.sid
GROUP BY f.channel
""",
)
def q_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped first-touch attribution: sessionize on a 30-minute
    gap (the same gaps-and-islands contract as q_sessionize), take each
    session's FIRST event type as its acquisition channel, and credit the
    session's purchases to that channel — the standard marketing
    attribution rollup, and a composite that chains sessionization, a
    per-session rank-1 window, and a keyed re-join.  Distinct from
    q_funnel_conversion: that is user-scoped ordered stages; this is
    session-scoped credit assignment.

    Scale shape: sessionize, the rank-1 window, and the re-join all key
    on user_id (the sid is derived within the partition) — one exchange
    family end to end; the rollup is |event_type| groups."""
    ev = events_t(spark, sf_dir)
    sess = _with_session_seq(
        ev, 1_800_000_000, ["user_id", "event_id", "event_type", "ts_us"]
    ).withColumnRenamed("session_seq", "sid")
    from .caching import persist_tracked

    sess = persist_tracked(sess)
    first_touch = (
        sess.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "sid").orderBy("ts_us", "event_id")
            ),
        )
        .where(F.col("rn") == 1)
        .select("user_id", "sid", F.col("event_type").alias("channel"))
    )
    return (
        sess.join(first_touch, ["user_id", "sid"])
        .groupBy("channel")
        .agg(
            F.countDistinct("user_id", "sid").cast("bigint").alias(
                "n_sessions"
            ),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("bigint").alias("n_purchases"),
        )
    )


@query(
    "q_retention_cohorts",
    oracle="""
WITH weekly AS (
    SELECT DISTINCT user_id,
           CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS week
    FROM events
),
cohort AS (
    SELECT user_id, MIN(week) AS cohort_week FROM weekly GROUP BY user_id
)
SELECT c.cohort_week,
       CAST(w.week - c.cohort_week AS BIGINT) AS weeks_since,
       CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_active
FROM weekly w JOIN cohort c ON c.user_id = w.user_id
GROUP BY c.cohort_week, weeks_since
""",
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their first
    activity, counted distinct in every later week offset — the retention
    matrix every product-analytics stack derives.  Week = integer epoch-us
    division with TRUNCATION semantics on BOTH sides (Spark `div` ==
    DuckDB `//`; a floor-vs-truncate mix diverges on pre-1970 timestamps,
    and double-routed floor() is only exact below 2^53) — no
    calendar/timezone functions whose week-numbering conventions differ.

    Scale shape: the distinct (user, week) projection collapses the event
    table first (map-side combine), the cohort assignment is a MIN over
    that already-small frame, and the matrix rollup joins on user_id —
    every shuffle keyed on the user."""
    ev = events_t(spark, sf_dir)
    weekly = (
        ev.select(
            "user_id",
            F.expr("ts_us div 604800000000").cast("bigint").alias("week"),
        )
        .distinct()
    )
    from .caching import persist_tracked

    weekly = persist_tracked(weekly)
    cohort = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weekly.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).cast("bigint").alias(
                "weeks_since"
            ),
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# Bloom-pruned join: the runtime-filter pattern, value-gated by identity
# ---------------------------------------------------------------------------
@query(
    "q_join_bloom_pruned",
    oracle="""
SELECT p.p_partkey,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       SUM(l.l_quantity) AS sum_qty,
       SUM(l.l_extendedprice * (1.0 - l.l_discount)) AS revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_partkey % 20 = 0
GROUP BY p.p_partkey
""",
)
def q_join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective fact⋈dim join executed through the bloom runtime filter
    (operators/bloom.py): the dim keys build a bitmap, broadcast as one
    array row, and shed non-matching lineitem rows map-side BEFORE the
    join's exchange.

    The oracle is deliberately the PLAIN join — result identity IS the
    operator's no-false-negatives guarantee, so the driver's value hash
    gates the bloom pipeline end-to-end (bitmap build, canonical key
    hashing, bit probe), not a re-spelling of it.

    Scale shape: at 5% dim selectivity ~95% of the fact side never enters
    the join exchange; the bitmap is m/8 bytes broadcast once.  On this
    harness the dim also broadcasts (so the join itself is map-side too);
    at 100 TB with a non-broadcastable dim the shed is what keeps the
    shuffle small — that regime is where the operator earns its place."""
    from .operators.bloom import bloom_prefilter_join

    li = t(spark, sf_dir, "lineitem")
    dim = (
        t(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 20 == 0)
        .select("p_partkey")
    )
    joined = bloom_prefilter_join(li, dim, "l_partkey", "p_partkey")
    return joined.groupBy("p_partkey").agg(
        F.count("*").alias("n_lines"),
        F.sum("l_quantity").alias("sum_qty"),
        F.sum(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).alias(
            "revenue"
        ),
    )


# ---------------------------------------------------------------------------
# Dense sequential ids (r08): row_number() OVER (ORDER BY ...) semantics
# through the two-phase range-partition + offset pattern — the oracle runs
# the naive global window, the Spark face never materializes a
# single-partition exchange over the data (operators/ids.py).
# ---------------------------------------------------------------------------
@query(
    "q_dense_ids",
    oracle="""
SELECT l_orderkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber,
       CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1
            AS BIGINT) AS rid
FROM lineitem
""",
)
def q_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0..N-1 id assignment over lineitem ordered by its unique
    (l_orderkey, l_linenumber) key — the shard/sample/train-index
    numbering primitive.  The oracle is the naive global window; the
    Spark plan is the scalable two-phase spelling (range exchange +
    per-partition parallel windows + broadcast offsets), value-identical
    by construction: offset + local rank composes to the global rank
    wherever the sampled range boundaries land.

    Scale shape: one distributed range exchange + one pid-keyed exchange
    over the data; the only single-partition window in the plan runs
    over the <= n_partitions COUNT rows.  The naive spelling funnels the
    whole table through one sort task — the difference between this
    query finishing and not at 100 TB."""
    from .operators.ids import dense_ids

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_linenumber").cast("bigint").alias("l_linenumber")
    )
    return dense_ids(li, ["l_orderkey", "l_linenumber"], id_col="rid")
