"""Event-analytics operators: sequence models, outlier detection, smoothing,
statistical profiling, and data-quality rules.

These round out the behavioral-analytics family (funnel / attribution /
retention in queries_rel.py and queries_spatial.py cousins) with the
*statistical* layer a production event pipeline runs next: first-order
Markov transition matrices over user journeys, per-segment z-score outlier
flagging, finite-kernel exponential smoothing, declarative data-quality
rule evaluation, single-pass per-column table profiling, and RFM quartile
segmentation.

Every query here is oracle-checkable: the math is written once as plain
arithmetic over deterministic inputs (exact binary kernel weights,
custkey-tiebroken ntiles, calibrated rule bounds) and replayed verbatim
in the DuckDB SQL, so values — not just shapes — are gated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import query, events_t, t


# ---------------------------------------------------------------------------
# First-order Markov transition matrix over user event sequences
# ---------------------------------------------------------------------------
@query(
    "q_markov_transitions",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS prev_type
    FROM events
), c AS (
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
)
SELECT prev_type, next_type, n_transitions,
       CAST(n_transitions AS DOUBLE)
           / SUM(n_transitions) OVER (PARTITION BY prev_type) AS p_transition
FROM c
""",
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov chain over per-user event sequences: for every
    ordered (prev, next) event-type pair, the transition count and the
    row-normalized probability P(next | prev).

    The sequence order is (ts_us, event_id) — the shared session contract
    (same tie-break as sessionize/funnel/attribution), so simultaneous
    events order identically in Spark and DuckDB.

    Scale shape: ONE wide shuffle (the per-user lag window; users are the
    natural partition key and sequences are short).  The transition rollup
    reduces to |event_types|^2 rows, and the normalizing window runs on
    that tiny aggregate — cost is the user window, everything after is
    map-scale."""
    ev = events_t(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w))
    counts = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_transitions"))
    )
    wp = Window.partitionBy("prev_type")
    return counts.withColumn(
        "p_transition",
        F.col("n_transitions").cast("double")
        / F.sum("n_transitions").over(wp),
    )


# ---------------------------------------------------------------------------
# Per-segment z-score outlier detection
# ---------------------------------------------------------------------------
def zscore_anomaly_rollup(
    frame: DataFrame, segment_col: str, value_col: str
) -> DataFrame:
    """Reusable z-score rollup over any (segment, value) frame — the query
    below binds it to events(event_type, value); tests drive it directly
    with degenerate segments (zero variance, single row)."""
    w = Window.partitionBy(segment_col)
    # nullif guard: sigma=0 (constant segment) must score NULL, matching
    # DuckDB's null-on-zero-divide — under Spark's default ANSI mode a bare
    # division would instead raise DIVIDE_BY_ZERO
    scored = frame.select(
        segment_col,
        (
            F.abs(
                (F.col(value_col) - F.avg(value_col).over(w))
                / F.nullif(F.stddev_pop(value_col).over(w), F.lit(0.0))
            )
        ).alias("abs_z"),
    )
    return scored.groupBy(segment_col).agg(
        F.count("*").alias("n_events"),
        # when/otherwise, not a bare cast: a zero-variance segment makes
        # abs_z NULL for every row, and summing all-NULL must yield 0 (as
        # the oracle's CASE does), not NULL
        F.sum(
            F.when(F.col("abs_z") > 3.0, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_anomalies"),
        F.max("abs_z").alias("max_abs_z"),
    )


@query(
    "q_anomaly_zscore",
    oracle="""
WITH st AS (
    SELECT event_type, value,
           avg(value)        OVER (PARTITION BY event_type) AS mu,
           NULLIF(stddev_pop(value) OVER (PARTITION BY event_type), 0.0)
               AS sd
    FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN abs((value - mu) / sd) > 3.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       MAX(abs((value - mu) / sd)) AS max_abs_z
FROM st
GROUP BY event_type
""",
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population z-score outlier flagging per event type: every value is
    scored against its segment's (mu, sigma_pop); the rollup reports how
    many rows exceed |z| > 3 and the worst offender per segment.

    Scale shape: the stats are computed with an unbounded window over
    event_type — ONE shuffle keyed on the (low-cardinality, potentially
    skewed) segment; AQE skew-split handles a hot type.  The final groupBy
    is on the SAME key, so the exchange is reused — the whole query is one
    shuffle end-to-end.  No join-back: the window form keeps the row and
    its segment stats co-located."""
    return zscore_anomaly_rollup(
        events_t(spark, sf_dir), "event_type", "value"
    )


# ---------------------------------------------------------------------------
# Finite-kernel exponential smoothing (8-tap FIR EWMA)
# ---------------------------------------------------------------------------
# alpha = 0.5: every kernel weight 0.5^(k+1) is an exact binary double, so
# Spark and DuckDB compute bit-identical weighted sums (no libm involved).
_EWMA_TAPS = 8


def _ewma_terms(lag_fmt: str) -> tuple[str, str]:
    """(numerator, denominator) SQL fragments for the 8-tap kernel.

    ``lag_fmt`` renders the k-th lagged value (k=0 is the current row) —
    the caller supplies the engine's window syntax; the arithmetic shape is
    shared verbatim so both engines sum in the same order."""
    num = " + ".join(
        f"coalesce({lag_fmt.format(k=k)}, 0.0) * {0.5 ** (k + 1)!r}"
        for k in range(_EWMA_TAPS)
    )
    den = " + ".join(
        f"(CASE WHEN {lag_fmt.format(k=k)} IS NOT NULL"
        f" THEN {0.5 ** (k + 1)!r} ELSE 0.0 END)"
        for k in range(_EWMA_TAPS)
    )
    return num, den


_EWMA_NUM_DUCK, _EWMA_DEN_DUCK = _ewma_terms(
    "lag(value, {k}) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)"
)
_EWMA_NUM_SPARK, _EWMA_DEN_SPARK = _ewma_terms(
    "lag(value, {k}) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)"
)


@query(
    "q_ewma_smooth",
    oracle=f"""
WITH sm AS (
    SELECT user_id, value,
           ({_EWMA_NUM_DUCK}) / NULLIF(({_EWMA_DEN_DUCK}), 0.0) AS ewma,
           row_number() OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC
           ) AS rn
    FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MAX(CASE WHEN rn = 1 THEN ewma END) AS ewma_last,
       AVG(ewma) AS ewma_mean
FROM sm
GROUP BY user_id
""",
)
def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of event values per user — an
    8-tap FIR kernel (alpha=0.5, weights renormalized over the taps that
    exist near sequence start), reported as the per-user trailing value and
    mean smoothed level.

    A finite kernel is the scale-honest form of EWMA on an engine without
    ordered per-row recursion: the infinite-horizon recurrence needs either
    a sequential scan per key or pow() terms that overflow at sequence
    length ~10^3, while the 8-tap truncation (residual weight 0.5^8 < 0.4%)
    is a bounded ROWS-frame computation any engine executes as one window
    pass.  alpha=0.5 makes every weight an exact binary double — the two
    engines' weighted sums are bit-identical, not merely close.

    Scale shape: one shuffle (per-user window) and ONE in-partition sort
    (the 8 lags); the trailing value comes from max_by over the ordering
    struct inside the rollup aggregation, not a second desc-sorted
    window.  The per-user rollup reuses the partitioning."""
    ev = events_t(spark, sf_dir)
    sm = ev.select(
        "user_id",
        "ts_us",
        "event_id",
        # nullif: a row whose 8 taps are ALL NULL (possible once value is
        # nullable) has den exactly 0.0 — ANSI raises where DuckDB NULLs
        # (review r06; the same guard zscore's sigma already carries)
        (
            F.expr(_EWMA_NUM_SPARK)
            / F.expr(f"nullif(({_EWMA_DEN_SPARK}), 0.0)")
        ).alias("ewma"),
    )
    # max_by on the (ts_us, event_id) struct picks the trailing value
    # inside the SAME aggregation — a desc row_number window would force a
    # second in-partition sort of the full events table (review finding)
    return sm.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max_by("ewma", F.struct("ts_us", "event_id")).alias("ewma_last"),
        F.avg("ewma").alias("ewma_mean"),
    )


# ---------------------------------------------------------------------------
# Declarative data-quality rule evaluation
# ---------------------------------------------------------------------------
@query(
    "q_data_quality",
    oracle="""
WITH a AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                         THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
           CAST(SUM(CASE WHEN l_extendedprice <= 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
           CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                         THEN 1 ELSE 0 END) AS BIGINT) AS v_flag,
           CAST(SUM(CASE WHEN l_shipdate <  TIMESTAMP '1995-01-01'
                           OR l_shipdate >= TIMESTAMP '2002-01-01'
                         THEN 1 ELSE 0 END) AS BIGINT) AS v_ship,
           CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
                AS BIGINT) AS v_dup
    FROM lineitem
), fk AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS v_fk
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
), r AS (
    SELECT 'quantity_in_range'  AS rule_name, a.n, a.v_qty   AS v FROM a
    UNION ALL SELECT 'discount_in_range',  a.n, a.v_disc  FROM a
    UNION ALL SELECT 'price_positive',     a.n, a.v_price FROM a
    UNION ALL SELECT 'returnflag_domain',  a.n, a.v_flag  FROM a
    UNION ALL SELECT 'shipdate_window',    a.n, a.v_ship  FROM a
    UNION ALL SELECT 'line_key_unique',    a.n, a.v_dup   FROM a
    UNION ALL SELECT 'order_fk_exists',    a.n, fk.v_fk   FROM a, fk
)
SELECT rule_name, n AS n_checked, v AS n_violations,
       CAST(v AS DOUBLE) / NULLIF(n, 0) AS violation_rate
FROM r
""",
)
def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rule evaluation over ``lineitem``: seven
    rules (range, domain, positivity, date-window, key-uniqueness and
    referential-integrity checks) reported as one row each with checked /
    violation counts and the violation rate.

    The expectation-suite shape (a la deequ/great-expectations): rules are
    declared as predicates, and the engine's job is to fold ALL of them
    into as few passes as possible rather than one scan per rule.

    Scale shape: the six predicate rules and the duplicate-key rule fold
    into ONE aggregation over one lineitem scan (the distinct-count adds an
    Expand, still a single shuffle-reduce); referential integrity is a
    LEFT ANTI join to orders (shuffle-keyed on l_orderkey, AQE-eligible)
    reduced to a single count.  The two 1-row aggregates cross-join (free)
    and ``stack`` unpivots to rule rows — 7 rows out, so everything after
    the two aggregates is driver-trivial."""
    li = t(spark, sf_dir, "lineitem")
    od = t(spark, sf_dir, "orders")

    def viol(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    a = li.agg(
        F.count("*").alias("n"),
        viol((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias(
            "v_qty"
        ),
        viol(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
        ).alias("v_disc"),
        viol(F.col("l_extendedprice") <= 0).alias("v_price"),
        viol(~F.col("l_returnflag").isin("A", "N", "R")).alias("v_flag"),
        viol(
            (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            | (
                F.col("l_shipdate")
                >= F.lit("2002-01-01").cast("timestamp")
            )
        ).alias("v_ship"),
        # struct-wrapped distinct: a struct with a NULL field is itself
        # non-null, so NULL-keyed rows count as distinct values — matching
        # DuckDB's COUNT(DISTINCT (a, b)) row-struct semantics (bare
        # count_distinct(a, b) would DROP those rows and report them as
        # duplicates)
        (
            F.count("*")
            - F.count_distinct(
                F.struct(F.col("l_orderkey"), F.col("l_linenumber"))
            )
        )
        .cast("long")
        .alias("v_dup"),
    )
    fk = (
        li.join(od, li["l_orderkey"] == od["o_orderkey"], "left_anti")
        .agg(F.count("*").cast("long").alias("v_fk"))
    )
    rules = a.crossJoin(fk).selectExpr(
        """stack(7,
            'quantity_in_range', v_qty,
            'discount_in_range', v_disc,
            'price_positive',    v_price,
            'returnflag_domain', v_flag,
            'shipdate_window',   v_ship,
            'line_key_unique',   v_dup,
            'order_fk_exists',   v_fk
        ) AS (rule_name, n_violations)""",
        "n AS n_checked",
    )
    return rules.select(
        "rule_name",
        "n_checked",
        "n_violations",
        # NULLIF: an empty table must report NULL rates, not raise ANSI
        # DIVIDE_BY_ZERO (DuckDB nulls silently — same alignment as the
        # z-score and cosine guards)
        (
            F.col("n_violations").cast("double")
            / F.nullif(F.col("n_checked"), F.lit(0))
        ).alias("violation_rate"),
    )


# ---------------------------------------------------------------------------
# Per-column table profiler (deequ/great-expectations "analyze" shape)
# ---------------------------------------------------------------------------
_PROFILE_NUMERIC = ["o_orderkey", "o_custkey", "o_totalprice"]
_PROFILE_OTHER = ["o_orderstatus", "o_orderdate", "o_orderpriority"]


@query(
    "q_profile_table",
    oracle="""
WITH a AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_orderkey) AS BIGINT)            AS nn_o_orderkey,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)   AS nd_o_orderkey,
           CAST(MIN(o_orderkey) AS DOUBLE)              AS mn_o_orderkey,
           CAST(MAX(o_orderkey) AS DOUBLE)              AS mx_o_orderkey,
           AVG(o_orderkey)                              AS av_o_orderkey,
           CAST(COUNT(o_custkey) AS BIGINT)             AS nn_o_custkey,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT)    AS nd_o_custkey,
           CAST(MIN(o_custkey) AS DOUBLE)               AS mn_o_custkey,
           CAST(MAX(o_custkey) AS DOUBLE)               AS mx_o_custkey,
           AVG(o_custkey)                               AS av_o_custkey,
           CAST(COUNT(o_totalprice) AS BIGINT)          AS nn_o_totalprice,
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS nd_o_totalprice,
           CAST(MIN(o_totalprice) AS DOUBLE)            AS mn_o_totalprice,
           CAST(MAX(o_totalprice) AS DOUBLE)            AS mx_o_totalprice,
           AVG(o_totalprice)                            AS av_o_totalprice,
           CAST(COUNT(o_orderstatus) AS BIGINT)           AS nn_o_orderstatus,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)  AS nd_o_orderstatus,
           CAST(COUNT(o_orderdate) AS BIGINT)             AS nn_o_orderdate,
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT)    AS nd_o_orderdate,
           CAST(COUNT(o_orderpriority) AS BIGINT)         AS nn_o_orderpriority,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd_o_orderpriority
    FROM orders
)
SELECT col AS column_name, n_rows,
       n_rows - nn AS n_nulls, nd AS n_distinct,
       mn AS min_num, mx AS max_num, av AS avg_num
FROM (
    SELECT 'o_orderkey' AS col, n_rows, nn_o_orderkey AS nn,
           nd_o_orderkey AS nd, mn_o_orderkey AS mn, mx_o_orderkey AS mx,
           av_o_orderkey AS av FROM a
    UNION ALL SELECT 'o_custkey', n_rows, nn_o_custkey, nd_o_custkey,
           mn_o_custkey, mx_o_custkey, av_o_custkey FROM a
    UNION ALL SELECT 'o_totalprice', n_rows, nn_o_totalprice,
           nd_o_totalprice, mn_o_totalprice, mx_o_totalprice,
           av_o_totalprice FROM a
    UNION ALL SELECT 'o_orderstatus', n_rows, nn_o_orderstatus,
           nd_o_orderstatus, NULL, NULL, NULL FROM a
    UNION ALL SELECT 'o_orderdate', n_rows, nn_o_orderdate,
           nd_o_orderdate, NULL, NULL, NULL FROM a
    UNION ALL SELECT 'o_orderpriority', n_rows, nn_o_orderpriority,
           nd_o_orderpriority, NULL, NULL, NULL FROM a
)
""",
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column profile of ``orders`` — one output row per
    column with row/null/exact-distinct counts, plus min/max/mean for the
    numeric columns (NULL for the rest).  The deequ/great-expectations
    "analyze" shape: profile-before-train is the first step of any
    training-data ingestion.

    Scale shape: ONE aggregation over one scan.  The six exact distincts
    make Catalyst plan an Expand (one replicated row per distinct group,
    6x map-side fan-out) — the standard multi-distinct strategy; partial
    aggregation collapses each expanded stream before the single shuffle,
    so the exchange carries per-partition partials, not 6x the data.  The
    unpivot to column rows happens on a 1-row aggregate — free."""
    od = t(spark, sf_dir, "orders")
    aggs: list[F.Column] = [F.count("*").cast("long").alias("n_rows")]
    for c in _PROFILE_NUMERIC + _PROFILE_OTHER:
        aggs.append(F.count(c).cast("long").alias(f"nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).cast("long").alias(f"nd_{c}"))
    for c in _PROFILE_NUMERIC:
        aggs.append(F.min(c).cast("double").alias(f"mn_{c}"))
        aggs.append(F.max(c).cast("double").alias(f"mx_{c}"))
        aggs.append(F.avg(c).alias(f"av_{c}"))
    a = od.agg(*aggs)

    def _row(c: str) -> str:
        if c in _PROFILE_NUMERIC:
            return f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}, av_{c}"
        return (
            f"'{c}', nn_{c}, nd_{c}, CAST(NULL AS DOUBLE),"
            f" CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
        )

    cols = _PROFILE_NUMERIC + _PROFILE_OTHER
    stacked = a.selectExpr(
        f"""stack({len(cols)}, {", ".join(_row(c) for c in cols)})
            AS (column_name, nn, n_distinct, min_num, max_num, avg_num)""",
        "n_rows",
    )
    return stacked.select(
        "column_name",
        "n_rows",
        (F.col("n_rows") - F.col("nn")).alias("n_nulls"),
        "n_distinct",
        "min_num",
        "max_num",
        "avg_num",
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (quartile scores via ntile)
# ---------------------------------------------------------------------------
@query(
    "q_rfm_segmentation",
    oracle="""
WITH cust AS (
    SELECT o_custkey AS custkey,
           date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                     DATE '2002-01-01')               AS recency_days,
           CAST(COUNT(*) AS BIGINT)                   AS frequency,
           SUM(o_totalprice)                          AS monetary
    FROM orders
    GROUP BY o_custkey
), scored AS (
    SELECT custkey, recency_days, frequency, monetary,
           ntile(4) OVER (ORDER BY recency_days ASC, custkey ASC)
               AS r_score,
           ntile(4) OVER (ORDER BY frequency DESC, custkey ASC)
               AS f_score,
           ntile(4) OVER (ORDER BY monetary DESC, custkey ASC)
               AS m_score
    FROM cust
)
SELECT CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       SUM(monetary) AS total_monetary,
       MIN(recency_days) AS best_recency_days,
       MAX(frequency) AS max_frequency
FROM scored
GROUP BY r_score, f_score, m_score
""",
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation: per
    customer, days since last order (vs the fixed 2002-01-01 anchor —
    chosen past the generator's max order date 2001-08-01 so recency is
    non-negative),
    order count, and total spend; each dimension scored 1-4 with ntile
    and rolled up to the 4x4x4 segment grid.

    Determinism contract: ntile over a non-unique metric is
    order-dependent, so every ORDER BY carries custkey as the tiebreak —
    both engines assign identical tiles (1 = most recent / most frequent /
    highest spend).

    Scale shape: the per-customer rollup is one hash-agg shuffle on
    custkey.  The three ntiles are GLOBAL windows — a single-partition
    sort each — which is the honest cost of exact global quantile ranks;
    they run on the already-aggregated per-customer frame (|customers|
    rows, not |orders|), and three windows over the same frame pipeline
    within one stage.  At 100 TB you'd swap exact ntile for
    approx_percentile cutpoints (the q_quantile_* family shows that
    shape); this query pins the exact semantics."""
    od = t(spark, sf_dir, "orders")
    cust = od.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(
            F.lit("2002-01-01").cast("date"),
            F.max("o_orderdate").cast("date"),
        )
        .cast("long")
        .alias("recency_days"),
        F.count("*").cast("long").alias("frequency"),
        F.sum("o_totalprice").alias("monetary"),
    )
    scored = cust.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4)
        .over(Window.orderBy(F.asc("recency_days"), F.asc("custkey")))
        .alias("r_score"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("frequency"), F.asc("custkey")))
        .alias("f_score"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("monetary"), F.asc("custkey")))
        .alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("monetary").alias("total_monetary"),
        F.min("recency_days").alias("best_recency_days"),
        F.max("frequency").alias("max_frequency"),
    )


# ---------------------------------------------------------------------------
# Lloyd k-means over the embedding corpus
# ---------------------------------------------------------------------------
from .functions.vectors import sqdist_sql as _sqdist_sql  # noqa: E402


@query(
    "q_kmeans_embed",
    oracle=f"""
WITH seeds AS MATERIALIZED (
    -- the operator contract is "k LOWEST-id vectors", not "id < k"
    -- (equivalent on contiguous fixtures only — review r07)
    SELECT vec_id AS cid, embedding AS cvec
    FROM embeddings ORDER BY vec_id LIMIT 8
),
s1 AS MATERIALIZED (
    SELECT e.vec_id, s.cid,
           {_sqdist_sql('e.embedding', 's.cvec')} AS sqd
    FROM embeddings e, seeds s
),
a1 AS MATERIALIZED (
    SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sqd, cid) AS rn
        FROM s1) WHERE rn = 1
),
u1 AS MATERIALIZED (
    SELECT cid, list(m ORDER BY d) AS cvec FROM (
        SELECT a1.cid, e.d,
               ROUND(AVG(CAST(e.x AS DOUBLE)), 9) AS m
        FROM a1
        JOIN (SELECT vec_id, unnest(embedding) AS x,
                     unnest(range(len(embedding))) AS d
              FROM embeddings) e USING (vec_id)
        GROUP BY a1.cid, e.d)
    GROUP BY cid
),
c1 AS MATERIALIZED (
    -- empty-cluster carry-forward: a centroid with no members keeps its
    -- previous vector (classical Lloyd; mirrors operators/kmeans.py)
    SELECT s.cid, COALESCE(u.cvec, s.cvec) AS cvec
    FROM seeds s LEFT JOIN u1 u USING (cid)
),
s2 AS MATERIALIZED (
    SELECT e.vec_id, c.cid,
           {_sqdist_sql('e.embedding', 'c.cvec')} AS sqd
    FROM embeddings e, c1 c
),
a2 AS (
    SELECT vec_id, cid, sqd FROM (
        SELECT vec_id, cid, sqd,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sqd, cid) AS rn
        FROM s2) WHERE rn = 1
)
SELECT cid AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ROUND(AVG(sqd), 6) AS avg_sqdist
FROM a2
GROUP BY cid
""",
)
def q_kmeans_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (k=8, one update iteration + final assignment) over
    the embedding corpus: per-cluster sizes and mean squared distance —
    the oracle-checkable face of iterative vector clustering
    (operators/kmeans.py; the IVF coarse quantizer's refinement loop is
    the rows-only throughput cousin).  Deterministic contract: lowest-id
    seeds, (sqdist, cid) tie-break, centroid means rounded to 9 dp on
    both engines so summation-order noise cannot propagate into
    assignments.  The oracle unrolls the iteration as MATERIALIZED CTEs
    (the pagerank-oracle pattern — non-materialized CTEs re-inline
    exponentially).

    Scale shape: centroids broadcast; per-iteration cost is one map-side
    scoring pass (min_by partial agg — vectors cross one exchange for
    the (cid, dim) mean, never k times) — no vector state on the driver,
    state O(k x dim) per executor."""
    from .operators.kmeans import kmeans_assign

    e = t(spark, sf_dir, "embeddings")
    return (
        kmeans_assign(e, k=8, iters=1)
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.round(F.avg("sqd"), 6).alias("avg_sqdist"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series gap fill + LOCF (r08): densify each user's event series onto a
# regular 6-hour bucket grid and forward-fill missing buckets with the last
# observation carried forward — the TimescaleDB time_bucket_gapfill/locf
# analog, and the resampling step an ML feature pipeline runs before
# training on regular windows.
# ---------------------------------------------------------------------------
_GAPFILL_BUCKET_US = 21_600_000_000  # 6 h in microseconds


@query(
    "q_gap_fill",
    oracle=f"""
WITH b AS (
    SELECT user_id,
           CAST(floor(epoch_us(ts) / {_GAPFILL_BUCKET_US}) AS BIGINT)
               AS bucket,
           value
    FROM events
),
agg AS (
    SELECT user_id, bucket, ROUND(AVG(value), 6) AS v
    FROM b GROUP BY user_id, bucket
),
span AS (
    SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
    FROM agg GROUP BY user_id
),
dense AS (
    SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket FROM span
),
j AS (
    SELECT d.user_id, d.bucket, a.v
    FROM dense d LEFT JOIN agg a USING (user_id, bucket)
),
w AS (
    SELECT user_id, bucket, v,
           last_value(v IGNORE NULLS) OVER wp AS vp,
           last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
               OVER wp AS bp,
           first_value(v IGNORE NULLS) OVER wn AS vn,
           first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
               OVER wn AS bn
    FROM j
    WINDOW wp AS (PARTITION BY user_id ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wn AS (PARTITION BY user_id ORDER BY bucket
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, bucket,
       vp AS value_filled,
       CASE WHEN v IS NOT NULL THEN v
            WHEN vn IS NULL THEN vp
            -- floor-quantize, NOT ROUND: the interpolated double can land
            -- exactly on a .5 tie of the 6th decimal, and the engines'
            -- ROUND tie rules differ (caught at sf0.01); floor(x*1e6+0.5)
            -- is the same IEEE ops on both sides
            ELSE floor((vp + (vn - vp) * (bucket - bp) / (bn - bp))
                       * 1000000 + 0.5) / 1000000
       END AS value_interp,
       v IS NULL AS is_gap
FROM w
""",
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap fill with BOTH standard resamplers: per-user 6-hour mean
    buckets, densified from each user's first to last bucket
    (explode(sequence)), missing buckets filled with (a) the running
    ``last(value, ignorenulls)`` LOCF window and (b) linear interpolation
    between the bracketing observations (trailing gaps, which have no
    next observation, fall back to LOCF) — the time_bucket_gapfill
    locf/interpolate pair, regular-grid resampling for downstream
    feature windows.  Bucket means are rounded BEFORE the fill so
    carried/interpolated values replay exactly in the oracle; the first
    bucket per user is an observation by construction (span comes from
    the data), so no leading NULL survives.

    Scale shape: one (user, bucket) hash aggregate, a per-user span
    aggregate whose sequence explode regenerates the grid WITHOUT a
    second scan of events, and user-partitioned ordered windows (the
    preceding and following frames share one sort) — the windows and
    both aggregates share the user_id key, so at 100 TB this is one
    exchange family (AQE coalesces the reuse), never a global sort.
    Grid size is bounded by span/bucket (~120 rows per user over the
    30-day corpus), not by event count."""
    e = events_t(spark, sf_dir)
    b = e.select(
        "user_id",
        F.floor(F.col("ts_us") / _GAPFILL_BUCKET_US).cast("bigint").alias("bucket"),
        "value",
    )
    agg = b.groupBy("user_id", "bucket").agg(
        F.round(F.avg("value"), 6).alias("v")
    )
    span = agg.groupBy("user_id").agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    dense = span.select(
        "user_id", F.explode(F.sequence("b0", "b1")).alias("bucket")
    )
    j = dense.join(agg, ["user_id", "bucket"], "left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v = F.col("v")
    obs_bucket = F.when(v.isNotNull(), F.col("bucket"))
    vp = F.last(v, ignorenulls=True).over(wp)
    bp = F.last(obs_bucket, ignorenulls=True).over(wp)
    vn = F.first(v, ignorenulls=True).over(wn)
    bn = F.first(obs_bucket, ignorenulls=True).over(wn)
    # floor-quantize instead of round(): see the oracle comment — round()
    # tie rules diverge between engines on exact .5 of the 6th decimal
    lerp = (
        F.floor(
            (vp + (vn - vp) * (F.col("bucket") - bp) / (bn - bp))
            * 1000000
            + 0.5
        )
        / 1000000
    )
    return j.select(
        "user_id", "bucket",
        vp.alias("value_filled"),
        F.when(v.isNotNull(), v)
        .when(vn.isNull(), vp)
        .otherwise(lerp)
        .alias("value_interp"),
        v.isNull().alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# OHLC time-bucket downsampling (r09): the classic time-series reduction —
# open/high/low/close/count/mean per (event_type, 1-hour bucket) — shaped as
# ONE hash/sort aggregate via min_by/max_by (operators/resample.py), never
# the naive two-window-sorts-plus-aggregate spelling.
# ---------------------------------------------------------------------------
_OHLC_BUCKET_US = 3_600_000_000  # 1 h in microseconds

# ONE oracle spelling for both OHLC faces — the batch operator
# (q_resample_ohlc below) and its streaming twin (q_ohlc_candles in
# queries_stream.py, the window(ts) path): same candles, same text, so the
# two faces cannot fork on the bucket/tiebreak contract.
OHLC_ORACLE = f"""
WITH ev AS (
    SELECT event_id, event_type, epoch_us(ts) AS ts_us, value FROM events
),
ranked AS (
    SELECT event_type,
           CAST(ts_us - ((ts_us % {_OHLC_BUCKET_US} + {_OHLC_BUCKET_US})
                         % {_OHLC_BUCKET_US}) AS BIGINT) AS bucket_start_us,
           value,
           first_value(value) OVER w AS open,
           last_value(value) OVER
               (w RANGE BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING) AS close
    FROM ev
    WINDOW w AS (PARTITION BY event_type,
                 ts_us - ((ts_us % {_OHLC_BUCKET_US} + {_OHLC_BUCKET_US})
                          % {_OHLC_BUCKET_US})
                 ORDER BY ts_us, event_id)
)
SELECT event_type, bucket_start_us,
       any_value(open) AS open,
       max(value) AS high,
       min(value) AS low,
       any_value(close) AS close,
       CAST(count(*) AS BIGINT) AS n_rows,
       ROUND(avg(value), 6) AS mean_value
FROM ranked GROUP BY 1, 2
"""


@query("q_resample_ohlc", oracle=OHLC_ORACLE)
def q_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, hour) OHLC candles over the events stream
    (operators/resample.py::ohlc_downsample): open/close are the values at
    the min/max (ts, event_id) ordering — the tiebreak makes rows sharing
    a timestamp resolve identically on every engine — high/low/count/mean
    are plain aggregates.  The mean is rounded to 6 dp on both faces
    (summation-order noise); open/high/low/close are exact value picks.

    Scale shape: ONE aggregate exchange keyed on (event_type, bucket) with
    map-side min_by/max_by partials carrying open/close through the merge
    tree — the naive first_value/last_value window spelling (which the
    ORACLE uses, deliberately naive) needs a per-bucket sort plus a second
    aggregate.  Bucket edges are pure integer arithmetic
    (ts - pmod(ts, w)): floor-aligned over the full BIGINT range, where
    ts/w would promote to DOUBLE and round past 2^53 and engines disagree
    on negative integer division (oracle spells it
    ts - ((ts % w + w) % w) — DuckDB's % truncates toward zero)."""
    from .operators.resample import ohlc_downsample

    e = events_t(spark, sf_dir)
    out = ohlc_downsample(
        e, "ts_us", "value", _OHLC_BUCKET_US,
        key_cols=["event_type"], tiebreak_col="event_id",
    )
    return out.withColumn("mean_value", F.round("mean_value", 6))


# ---------------------------------------------------------------------------
# k-anonymity audit + enforcement (r13; operators/anonymity.py staged r11) —
# the governance face beside q_scrub_pii: scrubbing redacts direct
# identifiers INSIDE text, k-anonymity bounds what a row's attribute
# COMBINATION reveals.  Quasi-identifiers: (event_type, props-k decile
# bucket).  The face runs audit -> drop-mode enforcement -> re-audit, so
# the hash gates both the class-size profile AND the invariant that
# enforcement leaves no risky class.
# ---------------------------------------------------------------------------
@query(
    "q_k_anonymity",
    oracle="""
WITH q AS (
    SELECT event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_bucket
    FROM events
),
classes AS (
    SELECT event_type, k_bucket, CAST(count(*) AS BIGINT) AS class_size
    FROM q GROUP BY 1, 2
),
enforced AS (
    SELECT q.event_type, q.k_bucket
    FROM q JOIN classes c
      ON q.event_type IS NOT DISTINCT FROM c.event_type
     AND q.k_bucket IS NOT DISTINCT FROM c.k_bucket
    WHERE c.class_size >= 5
),
eclasses AS (
    SELECT event_type, k_bucket, CAST(count(*) AS BIGINT) AS class_size
    FROM enforced GROUP BY 1, 2
)
SELECT 'audit' AS phase, class_size,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(class_size) AS BIGINT) AS n_rows,
       class_size < 5 AS risky
FROM classes GROUP BY class_size
UNION ALL
SELECT 'enforced' AS phase, class_size,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(class_size) AS BIGINT) AS n_rows,
       class_size < 5 AS risky
FROM eclasses GROUP BY class_size
""",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity over the events table (Sweeney 2002): class-size
    profile of the quasi-identifier combinations, then drop-mode
    suppression of classes below k=5, then the post-enforcement profile
    (every surviving class must be >= k — the audit-after-enforcement
    invariant, also pytest-gated in tests/test_anonymity.py).

    Scale shape: audit is ONE hash aggregate with map-side partials plus
    a <= |distinct-class-size| rollup; enforcement joins the class sizes
    back on the SAME tuple the aggregate grouped by (null-safe, so NULL
    quasi patterns stay one class), reusing the shuffle partitioning —
    nothing row-sized crosses a second exchange."""
    from .operators.anonymity import k_anonymity_audit, suppress_below_k

    quasi = ["event_type", "k_bucket"]
    # FLOOR division, matching the oracle's BIGINT // 10 — a bare
    # double-divide cast truncates toward zero and diverges on negative
    # k values (review r13; fixture k is non-negative today, so values
    # are unchanged)
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(
            F.get_json_object("props", "$.k").cast("bigint") / 10
        ).cast("bigint").alias("k_bucket"),
    )
    audit = k_anonymity_audit(ev, quasi, k=5)
    post = k_anonymity_audit(
        suppress_below_k(ev, quasi, k=5, mode="drop"), quasi, k=5
    )
    return (
        audit.withColumn("phase", F.lit("audit"))
        .unionByName(post.withColumn("phase", F.lit("enforced")))
        .select("phase", "class_size", "n_classes", "n_rows", "risky")
    )


# ---------------------------------------------------------------------------
# Day-cohort retention matrix (operators/retention.py, staged r11 — r14
# face): the activity-over-time matrix behind every engagement
# dashboard, at DAY grain with cohort sizes and ratios (the weekly
# count-only face is q_retention_cohorts in queries_rel.py).
# ---------------------------------------------------------------------------
@query(
    "q_cohort_retention",
    oracle="""
WITH active AS (
    SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
cohorts AS (SELECT u, min(day) AS cohort_day FROM active GROUP BY u),
sizes AS (
    SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_cohort
    FROM cohorts GROUP BY 1
),
cells AS (
    SELECT c.cohort_day,
           CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT)
               AS day_offset,
           CAST(count(DISTINCT a.u) AS BIGINT) AS n_active
    FROM active a JOIN cohorts c USING (u)
    GROUP BY 1, 2
)
SELECT CAST(cells.cohort_day AS VARCHAR) AS cohort_day, day_offset,
       n_active, sizes.n_cohort,
       round(CAST(n_active AS DOUBLE) / sizes.n_cohort, 6) AS retention
FROM cells JOIN sizes USING (cohort_day)
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-grain cohort retention: users grouped by the date of their
    first activity; each (cohort_day, day_offset) cell reports distinct
    active members, cohort size, and the retention ratio (6 dp).  The
    offset-0 == 1.0 invariant and NULL exclusion are pytest-gated
    (operators/retention.py, tests/test_retention.py).

    Scale shape: the activity log deduplicates to (user, day) with
    map-side partials absorbing within-day event bursts; cohort
    assignment is a MIN over that small frame; the matrix rollup is
    user-keyed; cohort sizes broadcast back onto the <= days^2 matrix —
    nothing event-sized crosses more than one exchange."""
    from .operators.retention import cohort_retention

    from .queries import events_t

    # cohort_day serializes as an ISO string: no registry face returns a
    # raw DATE column — Spark dates arrive as datetime.date objects and
    # DuckDB dates as datetime64, which the driver's typed value hash
    # distinguishes even when every value is the same calendar day
    return cohort_retention(events_t(spark, sf_dir)).withColumn(
        "cohort_day", F.col("cohort_day").cast("string")
    )


# ---------------------------------------------------------------------------
# l-diversity (operators/anonymity.py, staged r13 — r14 face): privacy
# beyond k-anonymity — a big-but-uniform quasi-identifier class still
# leaks its sensitive value to anyone who can place a person in it (the
# homogeneity attack; Machanavajjhala et al. 2007).  Same quasi spelling
# as q_k_anonymity, sensitive attribute = props-k mod 7.
# ---------------------------------------------------------------------------
@query(
    "q_l_diversity",
    oracle="""
WITH q AS (
    SELECT event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_bucket,
           CAST(json_extract(props, '$.k') AS BIGINT) % 7 AS sensitive
    FROM events
),
classes AS (
    SELECT event_type, k_bucket,
           CAST(count(DISTINCT sensitive) AS BIGINT) AS diversity,
           CAST(count(*) AS BIGINT) AS class_size
    FROM q GROUP BY 1, 2
),
audit AS (
    SELECT diversity, CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(class_size) AS BIGINT) AS n_rows,
           diversity < 3 AS risky
    FROM classes GROUP BY diversity
),
kept AS (
    SELECT q.* FROM q
    JOIN (SELECT event_type, k_bucket FROM classes WHERE diversity >= 3) s
      ON q.event_type IS NOT DISTINCT FROM s.event_type
     AND q.k_bucket IS NOT DISTINCT FROM s.k_bucket
),
eclasses AS (
    SELECT event_type, k_bucket,
           CAST(count(DISTINCT sensitive) AS BIGINT) AS diversity,
           CAST(count(*) AS BIGINT) AS class_size
    FROM kept GROUP BY 1, 2
),
post AS (
    SELECT diversity, CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(class_size) AS BIGINT) AS n_rows,
           diversity < 3 AS risky
    FROM eclasses GROUP BY diversity
)
SELECT 'audit' AS phase, * FROM audit
UNION ALL
SELECT 'enforced' AS phase, * FROM post
""",
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity over the events table: per-diversity-level
    profile of the quasi-identifier classes (how many classes expose
    fewer than l=3 distinct sensitive values), then suppression of
    under-diverse classes, then the post-enforcement profile — every
    surviving class must satisfy l (the audit-after-enforcement
    invariant, pytest-gated in tests/test_anonymity.py).

    Scale shape: audit is ONE hash aggregate per phase (count distinct
    sensitive within class, then a <= |distinct-diversity| rollup);
    enforcement joins the class diversities back on the SAME tuple the
    aggregate grouped by (null-safe, so NULL quasi patterns stay one
    class), reusing the shuffle partitioning."""
    from .operators.anonymity import l_diversity_audit, suppress_below_l

    quasi = ["event_type", "k_bucket"]
    k = F.get_json_object("props", "$.k").cast("bigint")
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(k / 10).cast("bigint").alias("k_bucket"),
        (k % 7).alias("sensitive"),
    )
    audit = l_diversity_audit(ev, quasi, "sensitive", l=3)
    post = l_diversity_audit(
        suppress_below_l(ev, quasi, "sensitive", l=3), quasi, "sensitive",
        l=3,
    )
    return (
        audit.withColumn("phase", F.lit("audit"))
        .unionByName(post.withColumn("phase", F.lit("enforced")))
        .select("phase", "diversity", "n_classes", "n_rows", "risky")
    )
