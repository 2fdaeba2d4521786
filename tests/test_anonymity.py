"""operators/anonymity.py — k-anonymity audit + suppression (staged
r11): hand-counted planted classes, the events-table oracle replay, both
enforcement modes with the audit-after-enforcement invariant, NULL-class
grouping, and arg guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipeline_calculator_v3_spark.operators.anonymity import (
    k_anonymity_audit,
    suppress_below_k,
)

QUASI = ["event_type", "k_bucket"]

# The intended face oracle over events: quasi = (event_type, props-k
# decile bucket); one hash aggregate -> class-size profile.
AUDIT_ORACLE = f"""
WITH q AS (
    SELECT event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_bucket
    FROM events
),
classes AS (
    SELECT event_type, k_bucket, CAST(count(*) AS BIGINT) AS class_size
    FROM q GROUP BY 1, 2
)
SELECT class_size, CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(class_size) AS BIGINT) AS n_rows,
       class_size < 5 AS risky
FROM classes GROUP BY class_size ORDER BY class_size
"""

PLANTED = [
    # class (a, 1): 3 rows; class (a, 2): 1 row; class (b, 1): 5 rows;
    # class (NULL, 1): 2 rows — NULLs group together
    ("a", 1, 10), ("a", 1, 11), ("a", 1, 12),
    ("a", 2, 13),
    ("b", 1, 20), ("b", 1, 21), ("b", 1, 22), ("b", 1, 23), ("b", 1, 24),
    (None, 1, 30), (None, 1, 31),
]

# A NULL-pattern class of size >= k: the audit calls it safe, so
# enforcement must KEEP it.  A null-unsafe equi-join (the r11 bug, ADVICE
# r11) matches no NULL key, assigns _n = NULL, and silently suppresses the
# whole class — divergence between audit and enforcement.
PLANTED_SAFE_NULLS = PLANTED + [
    (None, None, 40), (None, None, 41), (None, None, 42),
    (None, None, 43), (None, None, 44),
]


@pytest.fixture(scope="module")
def planted(spark):
    return spark.createDataFrame(
        PLANTED, "event_type string, k_bucket long, payload long"
    )


def test_planted_audit(planted):
    got = {
        r.class_size: (r.n_classes, r.n_rows, r.risky)
        for r in k_anonymity_audit(planted, QUASI, k=5).collect()
    }
    assert got == {
        1: (1, 1, True), 2: (1, 2, True), 3: (1, 3, True), 5: (1, 5, False)
    }


def test_suppress_drop(planted):
    kept = suppress_below_k(planted, QUASI, k=5, mode="drop")
    assert kept.columns == planted.columns
    assert {r.payload for r in kept.collect()} == {20, 21, 22, 23, 24}


def test_suppress_null_then_audit_is_k_anonymous(planted):
    nulled = suppress_below_k(planted, QUASI, k=5, mode="null")
    assert nulled.count() == len(PLANTED)  # nothing dropped
    # the 6 suppressed rows collapse into ONE all-NULL class of size 6,
    # so the post-enforcement audit has no risky class at k=5
    audit = k_anonymity_audit(nulled, QUASI, k=5).collect()
    assert all(not r.risky for r in audit)
    assert {r.class_size for r in audit} == {5, 6}


def test_events_audit_oracle(spark, duck, sf_dir):
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.floor(
            F.get_json_object("props", "$.k").cast("bigint") / 10
        ).cast("bigint").alias("k_bucket"),
    )
    got = [
        (r.class_size, r.n_classes, r.n_rows, r.risky)
        for r in k_anonymity_audit(ev, QUASI, k=5).collect()
    ]
    want = [tuple(r) for r in duck.execute(AUDIT_ORACLE).fetchall()]
    assert got == want and len(got) > 3


def test_null_class_of_size_k_survives_enforcement(spark):
    df = spark.createDataFrame(
        PLANTED_SAFE_NULLS, "event_type string, k_bucket long, payload long"
    )
    # audit: the (NULL, NULL) class has 5 rows -> not risky at k=5
    audit = {
        r.class_size: r.risky for r in k_anonymity_audit(df, QUASI, k=5).collect()
    }
    assert audit[5] is False
    # drop mode keeps BOTH safe classes, including the all-NULL one
    kept = {r.payload for r in suppress_below_k(df, QUASI, k=5, mode="drop").collect()}
    assert kept == {20, 21, 22, 23, 24, 40, 41, 42, 43, 44}
    # null mode leaves the safe NULL class's quasi values untouched (still
    # NULL) and the result is k-anonymous: classes {5 (b,1), 5 (NULL,NULL),
    # 6 suppressed-all-NULL}... the suppressed rows join the (NULL, NULL)
    # class, so sizes are {5, 11}
    nulled = suppress_below_k(df, QUASI, k=5, mode="null")
    assert nulled.count() == len(PLANTED_SAFE_NULLS)
    post = k_anonymity_audit(nulled, QUASI, k=5).collect()
    assert all(not r.risky for r in post)
    assert {r.class_size for r in post} == {5, 11}


def test_arg_guards(planted):
    with pytest.raises(ValueError):
        k_anonymity_audit(planted, [], k=5)
    with pytest.raises(ValueError):
        k_anonymity_audit(planted, QUASI, k=1)
    with pytest.raises(ValueError):
        suppress_below_k(planted, QUASI, mode="generalize")
    with pytest.raises(ValueError):
        suppress_below_k(planted, QUASI, k=0)


def test_single_aggregate_plan(planted):
    plan = (
        k_anonymity_audit(planted, QUASI)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# l-diversity (staged r13 for an r14 face) — privacy beyond k-anonymity:
# the homogeneity attack a big-but-uniform class permits.
# ---------------------------------------------------------------------------
LDIV_ORACLE = f"""
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
)
SELECT diversity, CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(class_size) AS BIGINT) AS n_rows,
       diversity < 3 AS risky
FROM classes GROUP BY diversity ORDER BY diversity
"""

# classes: (a,1) 3 rows 1 distinct sensitive -> diversity 1 (homogeneous!)
#          (b,1) 5 rows {x,y,z} -> diversity 3
#          (c,1) 2 rows {x, NULL} -> diversity 1 (NULL doesn't count)
#          (NULL,1) 2 rows {x,y} -> diversity 2
LDIV_PLANTED = [
    ("a", 1, "x"), ("a", 1, "x"), ("a", 1, "x"),
    ("b", 1, "x"), ("b", 1, "y"), ("b", 1, "z"), ("b", 1, "x"), ("b", 1, "y"),
    ("c", 1, "x"), ("c", 1, None),
    (None, 1, "x"), (None, 1, "y"),
]


@pytest.fixture(scope="module")
def ldiv_planted(spark):
    return spark.createDataFrame(
        LDIV_PLANTED, "event_type string, k_bucket long, sensitive string"
    )


def test_ldiv_planted_audit(ldiv_planted):
    from pipeline_calculator_v3_spark.operators.anonymity import (
        l_diversity_audit,
    )

    got = {
        r.diversity: (r.n_classes, r.n_rows, r.risky)
        for r in l_diversity_audit(
            ldiv_planted, QUASI, "sensitive", l=2
        ).collect()
    }
    assert got == {1: (2, 5, True), 2: (1, 2, False), 3: (1, 5, False)}


def test_ldiv_suppress_drops_homogeneous_classes(ldiv_planted):
    from pipeline_calculator_v3_spark.operators.anonymity import (
        l_diversity_audit,
        suppress_below_l,
    )

    kept = suppress_below_l(ldiv_planted, QUASI, "sensitive", l=2)
    assert kept.count() == 7  # (b,1) x5 + (NULL,1) x2 survive
    assert kept.columns == ldiv_planted.columns
    post = l_diversity_audit(kept, QUASI, "sensitive", l=2).collect()
    assert all(not r.risky for r in post)
    # the safe NULL-quasi class survives the null-safe join
    assert kept.where(F.col("event_type").isNull()).count() == 2


def test_ldiv_events_oracle(spark, duck, sf_dir):
    from pipeline_calculator_v3_spark.operators.anonymity import (
        l_diversity_audit,
    )

    k = F.get_json_object("props", "$.k").cast("bigint")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.floor(k / 10).cast("bigint").alias("k_bucket"),
        (k % 7).alias("sensitive"),
    )
    got = [
        (r.diversity, r.n_classes, r.n_rows, r.risky)
        for r in l_diversity_audit(ev, QUASI, "sensitive", l=3).collect()
    ]
    want = [tuple(r) for r in duck.execute(LDIV_ORACLE).fetchall()]
    assert got == want and len(got) >= 2


def test_ldiv_arg_guards(ldiv_planted):
    from pipeline_calculator_v3_spark.operators.anonymity import (
        l_diversity_audit,
        suppress_below_l,
    )

    with pytest.raises(ValueError):
        l_diversity_audit(ldiv_planted, [], "sensitive")
    with pytest.raises(ValueError):
        l_diversity_audit(ldiv_planted, QUASI, "sensitive", l=1)
    with pytest.raises(ValueError):
        suppress_below_l(ldiv_planted, QUASI, "sensitive", l=0)


# ---------------------------------------------------------------------------
# t-closeness (staged r14 for an r15 face) — privacy beyond l-diversity:
# the skewness attack a diverse-but-skewed class permits.  Distances are
# exact integer fractions (tvd_num / tvd_den), so every assertion below
# is integer-exact; only the display division is floating.
# ---------------------------------------------------------------------------
from pipeline_calculator_v3_spark.operators.anonymity import (  # noqa: E402
    suppress_above_t,
    t_closeness_audit,
)

# global: x=7 y=5 N=12.  hand-computed TVDs (common denominator 2*n*N):
#   (a,1) 4x         -> 40/96 = 5/12  (skew: all-x vs 7/12 global)
#   (b,1) 2x 2y      ->  8/96 = 1/12  (near-global: safe)
#   (c,1) 1x 3y      -> 32/96 = 1/3
TCLO_PLANTED = [
    ("a", 1, "x"), ("a", 1, "x"), ("a", 1, "x"), ("a", 1, "x"),
    ("b", 1, "x"), ("b", 1, "x"), ("b", 1, "y"), ("b", 1, "y"),
    ("c", 1, "x"), ("c", 1, "y"), ("c", 1, "y"), ("c", 1, "y"),
]

TCLO_ORACLE = """
WITH q AS (
    SELECT event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_bucket,
           CAST(json_extract(props, '$.k') AS BIGINT) % 7 AS sens
    FROM events
),
cells AS (
    SELECT event_type, k_bucket, sens, count(*) AS cc
    FROM q GROUP BY 1, 2, 3
),
gl AS (SELECT sens, count(*) AS gg FROM q GROUP BY 1),
tot AS (SELECT count(*) AS bign FROM q),
wn AS (
    SELECT cells.*, gg, bign,
           sum(cc) OVER (PARTITION BY event_type, k_bucket) AS clsn
    FROM cells
    JOIN gl ON cells.sens IS NOT DISTINCT FROM gl.sens
    CROSS JOIN tot
),
cl AS (
    SELECT event_type, k_bucket,
           CAST(max(clsn) AS BIGINT) AS class_size,
           CAST(sum(abs(cc * bign - gg * clsn))
                + (max(bign) - sum(gg)) * max(clsn) AS BIGINT) AS tvd_num,
           CAST(2 * max(clsn) * max(bign) AS BIGINT) AS tvd_den
    FROM wn GROUP BY 1, 2
)
SELECT event_type, k_bucket, class_size, tvd_num, tvd_den,
       tvd_num / tvd_den AS t_distance,
       tvd_num / tvd_den > 0.2 AS risky
FROM cl
"""


@pytest.fixture(scope="module")
def tclo_planted(spark):
    return spark.createDataFrame(
        TCLO_PLANTED, "event_type string, k_bucket long, sensitive string"
    )


def test_tclo_planted_audit_exact_fractions(tclo_planted):
    got = {
        r.event_type: (r.class_size, r.tvd_num, r.tvd_den, r.risky)
        for r in t_closeness_audit(
            tclo_planted, QUASI, "sensitive", t=0.2
        ).collect()
    }
    assert got == {
        "a": (4, 40, 96, True),
        "b": (4, 8, 96, False),
        "c": (4, 32, 96, True),
    }


def test_tclo_distance_is_the_fraction(tclo_planted):
    for r in t_closeness_audit(tclo_planted, QUASI, "sensitive").collect():
        assert r.t_distance == r.tvd_num / r.tvd_den


def test_tclo_null_sensitive_is_a_category_and_null_quasi_survives(spark):
    # global: x=7 NULL=1 N=8.  (a,1)={x,NULL} -> 12/32=0.375 risky;
    # (b,1)={x,x} -> 4/32=0.125 safe; (NULL,1)=4x -> 8/64=0.125 safe.
    rows = [
        ("a", 1, "x"), ("a", 1, None),
        ("b", 1, "x"), ("b", 1, "x"),
        (None, 1, "x"), (None, 1, "x"), (None, 1, "x"), (None, 1, "x"),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, k_bucket long, sensitive string"
    )
    audit = {
        r.event_type: (r.tvd_num, r.tvd_den, r.risky)
        for r in t_closeness_audit(df, QUASI, "sensitive", t=0.2).collect()
    }
    assert audit == {
        "a": (12, 32, True), "b": (4, 32, False), None: (8, 64, False)
    }
    kept = suppress_above_t(df, QUASI, "sensitive", t=0.2)
    assert kept.columns == df.columns
    assert kept.count() == 6
    # the null-QUASI class survives the null-safe semi join
    assert kept.where(F.col("event_type").isNull()).count() == 4


def test_tclo_suppress_is_one_pass_report(tclo_planted):
    # dropping (a,1)+(c,1) leaves only (b,1): its post-suppression audit
    # is distance 0 against the NEW global (it IS the new global) — the
    # one-pass contract, not a fixed-point guarantee
    kept = suppress_above_t(tclo_planted, QUASI, "sensitive", t=0.2)
    assert {r.event_type for r in kept.collect()} == {"b"}
    post = t_closeness_audit(kept, QUASI, "sensitive", t=0.2).collect()
    assert len(post) == 1 and post[0].tvd_num == 0


def test_tclo_events_oracle(spark, duck, sf_dir):
    k = F.get_json_object("props", "$.k").cast("bigint")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.floor(k / 10).cast("bigint").alias("k_bucket"),
        (k % 7).alias("sens"),
    )
    got = {
        (r.event_type, r.k_bucket): (
            r.class_size, r.tvd_num, r.tvd_den, r.risky
        )
        for r in t_closeness_audit(ev, QUASI, "sens", t=0.2).collect()
    }
    want = {
        (r[0], r[1]): (r[2], r[3], r[4], r[6])
        for r in duck.execute(TCLO_ORACLE).fetchall()
    }
    assert got == want and len(got) > 3


def test_tclo_arg_guards(tclo_planted):
    with pytest.raises(ValueError):
        t_closeness_audit(tclo_planted, [], "sensitive")
    with pytest.raises(ValueError):
        t_closeness_audit(tclo_planted, QUASI, "sensitive", t=0.0)
    with pytest.raises(ValueError):
        t_closeness_audit(tclo_planted, QUASI, "sensitive", t=1.0)
    with pytest.raises(ValueError):
        suppress_above_t(tclo_planted, QUASI, "sensitive", t=1.5)


def test_tclo_plan_has_no_cartesian(tclo_planted):
    plan = (
        t_closeness_audit(tclo_planted, QUASI, "sensitive")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# ordered-EMD t-closeness (numeric sensitive attributes — Li et al. §3).
# Planted global: v10=6, v20=2, v30=4, N=12, m=3 -> q=(1/2, 1/6, 1/3).
#   A = 4x10          -> EMD (|24|+|16|)/96  = 40/96 = 5/12
#   B = 2x10 + 2x30   -> EMD (|0|+|-8|)/96  =  8/96 = 1/12
#   C = 2x20 + 2x30   -> EMD (|-24|+|-8|)/96 = 32/96 = 1/3
# ---------------------------------------------------------------------------
from pipeline_calculator_v3_spark.operators.anonymity import (  # noqa: E402
    t_closeness_audit_ordered,
)

TCLO_ORD_PLANTED = [
    ("A", 1, 10), ("A", 1, 10), ("A", 1, 10), ("A", 1, 10),
    ("B", 1, 10), ("B", 1, 10), ("B", 1, 30), ("B", 1, 30),
    ("C", 1, 20), ("C", 1, 20), ("C", 1, 30), ("C", 1, 30),
]

TCLO_ORD_ORACLE = """
WITH q AS (
    SELECT event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_bucket,
           CAST(json_extract(props, '$.k') AS BIGINT) % 7 AS sens
    FROM events
    WHERE json_extract(props, '$.k') IS NOT NULL
),
cells AS (
    SELECT event_type, k_bucket, sens, count(*) AS cc
    FROM q GROUP BY 1, 2, 3
),
gl AS (SELECT sens, count(*) AS gg FROM q GROUP BY 1),
dom AS (
    SELECT sens, gg, row_number() OVER (ORDER BY sens) AS i,
           sum(gg) OVER () AS bign, count(*) OVER () AS m
    FROM gl
),
sizes AS (
    SELECT event_type, k_bucket, count(*) AS csz FROM q GROUP BY 1, 2
),
grid AS (
    SELECT s.event_type, s.k_bucket, s.csz, d.gg, d.i, d.bign, d.m,
           COALESCE(c.cc, 0) AS c0
    FROM sizes s CROSS JOIN dom d
    LEFT JOIN cells c
      ON c.event_type IS NOT DISTINCT FROM s.event_type
     AND c.k_bucket IS NOT DISTINCT FROM s.k_bucket
     AND c.sens = d.sens
),
cum AS (
    SELECT *, sum(c0 * bign - gg * csz)
              OVER (PARTITION BY event_type, k_bucket ORDER BY i) AS cm
    FROM grid
)
SELECT event_type, k_bucket,
       CAST(max(csz) AS BIGINT) AS class_size,
       CAST(sum(abs(cm)) AS BIGINT) AS emd_num,
       CAST(max(csz) * max(bign) * greatest(max(m) - 1, 1) AS BIGINT)
           AS emd_den
FROM cum WHERE i < m GROUP BY 1, 2
"""


@pytest.fixture(scope="module")
def tclo_ord_planted(spark):
    return spark.createDataFrame(
        TCLO_ORD_PLANTED, "event_type string, k_bucket long, salary long"
    )


def test_tclo_ordered_planted_exact_fractions(tclo_ord_planted):
    got = {
        r.event_type: (r.class_size, r.emd_num, r.emd_den, r.risky)
        for r in t_closeness_audit_ordered(
            tclo_ord_planted, QUASI, "salary", t=0.2
        ).collect()
    }
    assert got == {
        "A": (4, 40, 96, True),
        "B": (4, 8, 96, False),
        "C": (4, 32, 96, True),
    }


def test_tclo_ordered_sees_distance_tvd_ignores(spark):
    # two classes, both all-mass-on-one-value, SAME TVD to the global —
    # but one sits at the global's near end, the other at the far end:
    # only the ordered EMD separates them.
    # global: v1=8, v2=2, v3=2, N=12, m=3; q=(2/3, 1/6, 1/6)
    rows = (
        [("near", 1, 1)] * 4          # all on v1 (the global mode)
        + [("far", 1, 3)] * 4         # all on v3 (the tail)
        + [("mix", 1, 1)] * 4
    )
    # recompute: v1 = 4+4 = 8, v3 = 4, v2 = 0 -> drop v2, m=2
    # keep a v2 presence so m=3:
    rows = rows[:-1] + [("mix", 1, 2)]
    df = spark.createDataFrame(
        rows, "event_type string, k_bucket long, salary long"
    )
    got = {
        r.event_type: r.emd_num / r.emd_den
        for r in t_closeness_audit_ordered(df, QUASI, "salary").collect()
    }
    assert got["far"] > got["near"]


def test_tclo_ordered_null_sensitive_excluded(spark):
    # the NULL salary row vanishes from BOTH distributions: remaining
    # global v1=2, v2=2, N=4, m=2; class (a,1) = {v1} n=2:
    # cum1 = 2*4 - 2*2 = 4 -> num 4, den 2*4*1 = 8 -> 1/2
    rows = [("a", 1, 1), ("a", 1, 1), ("a", 1, None),
            ("b", 1, 2), ("b", 1, 2)]
    df = spark.createDataFrame(
        rows, "event_type string, k_bucket long, salary long"
    )
    got = {
        r.event_type: (r.class_size, r.emd_num, r.emd_den)
        for r in t_closeness_audit_ordered(df, QUASI, "salary").collect()
    }
    assert got == {"a": (2, 4, 8), "b": (2, 4, 8)}


def test_tclo_ordered_single_value_domain_is_distance_zero(spark):
    rows = [("a", 1, 7), ("a", 1, 7), ("b", 1, 7)]
    df = spark.createDataFrame(
        rows, "event_type string, k_bucket long, salary long"
    )
    got = t_closeness_audit_ordered(df, QUASI, "salary").collect()
    assert len(got) == 2
    assert all(r.emd_num == 0 and not r.risky for r in got)


def test_tclo_ordered_null_quasi_class_scores_correctly(spark):
    # the NULL-quasi class must match its own cells (null-safe grid
    # join); if it scored against all-zero cells its distance would be
    # the maximal mean-abs-cumulative, not its true 0-ish one.
    # global: v1=4, v2=4, N=8, m=2.  (NULL,1) = 2+2 -> exactly global:
    # cum1 = 2*8 - 4*4 = 0 -> distance 0.  (a,1) same -> 0.
    rows = [(None, 1, 1), (None, 1, 1), (None, 1, 2), (None, 1, 2),
            ("a", 1, 1), ("a", 1, 1), ("a", 1, 2), ("a", 1, 2)]
    df = spark.createDataFrame(
        rows, "event_type string, k_bucket long, salary long"
    )
    got = {
        r.event_type: r.emd_num
        for r in t_closeness_audit_ordered(df, QUASI, "salary").collect()
    }
    assert got == {None: 0, "a": 0}


def test_tclo_ordered_events_oracle(spark, duck, sf_dir):
    k = F.get_json_object("props", "$.k").cast("bigint")
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(k.isNotNull())
        .select(
            "event_type",
            F.floor(k / 10).cast("bigint").alias("k_bucket"),
            (k % 7).alias("sens"),
        )
    )
    got = {
        (r.event_type, r.k_bucket): (r.class_size, r.emd_num, r.emd_den)
        for r in t_closeness_audit_ordered(ev, QUASI, "sens").collect()
    }
    want = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in duck.execute(TCLO_ORD_ORACLE).fetchall()
    }
    assert got == want and len(got) > 3


# ---------------------------------------------------------------------------
# property gates: the folded/cumulative integer fractions equal the
# brute-force distance over the EXPLICIT domain on random small corpora.
# ---------------------------------------------------------------------------
from fractions import Fraction  # noqa: E402

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_ROW = st.tuples(
    st.sampled_from(["a", "b", "c", None]),          # quasi
    st.sampled_from(["x", "y", "z", "w", None]),     # sensitive
)


def _brute_tvd(rows):
    """Exact-Fraction TVD per quasi class over the full global domain
    (NULL sensitive = its own category, mirroring the operator)."""
    from collections import Counter

    glob = Counter(s for _, s in rows)
    n_tot = sum(glob.values())
    out = {}
    for q in {q for q, _ in rows}:
        cls = Counter(s for qq, s in rows if qq == q)
        n = sum(cls.values())
        tvd = sum(
            abs(Fraction(cls.get(v, 0), n) - Fraction(g, n_tot))
            for v, g in glob.items()
        ) / 2
        out[q] = (n, tvd)
    return out


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_ROW, min_size=1, max_size=30))
def test_tvd_fraction_matches_brute_force(spark, rows):
    df = spark.createDataFrame(
        [(q, 1, s) for q, s in rows],
        "event_type string, k_bucket long, sensitive string",
    )
    want = _brute_tvd(rows)
    got = t_closeness_audit(df, QUASI, "sensitive", t=0.2).collect()
    assert len(got) == len(want)
    for r in got:
        n, tvd = want[r.event_type]
        assert r.class_size == n
        assert Fraction(int(r.tvd_num), int(r.tvd_den)) == tvd, (
            r.event_type, rows
        )


def _brute_emd(rows):
    """Exact-Fraction ordered EMD per class (NULL sensitive excluded)."""
    from collections import Counter

    alive = [(q, s) for q, s in rows if s is not None]
    glob = Counter(s for _, s in alive)
    domain = sorted(glob)
    n_tot = sum(glob.values())
    m = len(domain)
    out = {}
    for q in {q for q, _ in alive}:
        cls = Counter(s for qq, s in alive if qq == q)
        n = sum(cls.values())
        if m <= 1:
            out[q] = (n, Fraction(0))
            continue
        cum, acc = Fraction(0), []
        for v in domain:
            cum += Fraction(cls.get(v, 0), n) - Fraction(glob[v], n_tot)
            acc.append(abs(cum))
        out[q] = (n, sum(acc[:-1]) / (m - 1))
    return out


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_ROW, min_size=1, max_size=30))
def test_emd_fraction_matches_brute_force(spark, rows):
    df = spark.createDataFrame(
        [(q, 1, s) for q, s in rows],
        "event_type string, k_bucket long, sensitive string",
    )
    want = _brute_emd(rows)
    got = t_closeness_audit_ordered(df, QUASI, "sensitive", t=0.2).collect()
    assert len(got) == len(want)
    for r in got:
        n, emd = want[r.event_type]
        assert r.class_size == n
        assert Fraction(int(r.emd_num), int(r.emd_den)) == emd, (
            r.event_type, rows
        )


# ---------------------------------------------------------------------------
# seeded DP group-count release (staged r14) — the publishing step after
# the k/l/t audits; noise stream shared verbatim with the SQL oracle.
# ---------------------------------------------------------------------------
from pipeline_calculator_v3_spark.operators.anonymity import (  # noqa: E402
    dp_group_counts,
    group_key_sql,
    laplace_noise_sql,
)


def _dp_oracle(epsilon: float, seed: str) -> str:
    key = group_key_sql(["event_type", "k_bucket"])
    noise = laplace_noise_sql(key, 1.0 / epsilon, seed)
    return f"""
WITH q AS (
    SELECT event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_bucket
    FROM events
),
c AS (
    SELECT event_type, k_bucket, CAST(count(*) AS BIGINT) AS _n
    FROM q GROUP BY 1, 2
)
SELECT event_type, k_bucket, round(_n + {noise}, 6) AS noisy_count
FROM c
"""


@pytest.fixture(scope="module")
def dp_events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.floor(
            F.get_json_object("props", "$.k").cast("bigint") / 10
        ).cast("bigint").alias("k_bucket"),
    )


def test_dp_deterministic_and_partitioning_invariant(dp_events):
    a = dp_group_counts(dp_events, QUASI, epsilon=0.5, seed="s1").collect()
    b = dp_group_counts(
        dp_events.repartition(7), QUASI, epsilon=0.5, seed="s1"
    ).collect()
    ka = {(r.event_type, r.k_bucket): r.noisy_count for r in a}
    kb = {(r.event_type, r.k_bucket): r.noisy_count for r in b}
    assert ka == kb and len(ka) > 3


def test_dp_seed_changes_noise_but_not_groups(dp_events):
    a = {(r.event_type, r.k_bucket): r.noisy_count
         for r in dp_group_counts(dp_events, QUASI, seed="s1").collect()}
    b = {(r.event_type, r.k_bucket): r.noisy_count
         for r in dp_group_counts(dp_events, QUASI, seed="s2").collect()}
    assert set(a) == set(b)
    assert any(a[k] != b[k] for k in a)


def test_dp_noise_bounded_and_centered(dp_events):
    eps = 1.0
    true = {(r.event_type, r.k_bucket): r.n for r in
            dp_events.groupBy(*QUASI).agg(
                F.count(F.lit(1)).alias("n")).collect()}
    noisy = {(r.event_type, r.k_bucket): r.noisy_count for r in
             dp_group_counts(dp_events, QUASI, epsilon=eps).collect()}
    devs = [noisy[k] - true[k] for k in true]
    # md5-uniform through the inverse CDF: |noise| <= ~ln(2^32)/eps
    assert all(abs(d) <= 22.2 / eps for d in devs)
    # not all on one side (a sign bug would shift every group)
    assert any(d > 0 for d in devs) and any(d < 0 for d in devs)


def test_dp_true_count_never_in_output(dp_events):
    out = dp_group_counts(dp_events, QUASI)
    assert set(out.columns) == {"event_type", "k_bucket", "noisy_count"}


def test_dp_threshold_suppresses(dp_events):
    full = dp_group_counts(dp_events, QUASI, epsilon=1.0, seed="s1")
    kept = dp_group_counts(
        dp_events, QUASI, epsilon=1.0, seed="s1", threshold=50.0
    )
    n_full, n_kept = full.count(), kept.count()
    assert n_kept < n_full
    assert kept.where(F.col("noisy_count") < 50.0).count() == 0


def test_dp_oracle_replay(spark, duck, dp_events):
    got = {(r.event_type, r.k_bucket): r.noisy_count for r in
           dp_group_counts(dp_events, QUASI, epsilon=0.5,
                           seed="pub-7").collect()}
    want = {(r[0], r[1]): r[2]
            for r in duck.execute(_dp_oracle(0.5, "pub-7")).fetchall()}
    assert set(got) == set(want)
    for k in got:
        assert got[k] == pytest.approx(want[k], abs=1e-6), k


def test_dp_arg_guards(dp_events):
    with pytest.raises(ValueError):
        dp_group_counts(dp_events, [], epsilon=1.0)
    with pytest.raises(ValueError):
        dp_group_counts(dp_events, QUASI, epsilon=0.0)
    with pytest.raises(ValueError):
        laplace_noise_sql("x", 0.0, "s")
