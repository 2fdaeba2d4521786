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
