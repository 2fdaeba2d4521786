"""The privacy ladder: k-anonymity / l-diversity audits and suppression
enforcement — the re-identification checks a training corpus with
user-derived rows needs before release (Sweeney,
"k-Anonymity: A Model for Protecting Privacy", 2002): a row is k-anonymous
iff at least k rows share its full quasi-identifier combination, so an
attacker who knows those attributes cannot narrow a person below k
candidates.  Complements functions/scrub.py (which redacts direct
identifiers INSIDE text): scrubbing handles what a row says, k-anonymity
handles what a row's attribute combination reveals.

Both faces are pure counting over equivalence classes:

- audit: ONE hash aggregate on the quasi-identifier tuple (map-side
  partials absorb hot combinations) + a <= |distinct-class-size| rollup —
  nothing row-sized crosses a second exchange;
- enforcement (suppression): the risky-class keys join back onto the
  rows — an equi-join on the same tuple the aggregate grouped by, so the
  shuffle partitioning is reusable; rows in classes below k either drop
  (``mode="drop"``) or keep the row with the quasi columns nulled
  (``mode="null"``, the generalize-to-missing fallback).

Everything is exact integer counting — ANSI-SQL-replayable verbatim
(staged r11; oracle in tests/test_anonymity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """Class-size profile of the quasi-identifier combinations.

    Returns one row per distinct equivalence-class SIZE: ``class_size``
    BIGINT, ``n_classes`` BIGINT, ``n_rows`` BIGINT, ``risky`` BOOLEAN
    (class_size < k).  The dataset's achieved k-anonymity is the minimum
    class_size; the risky rows total is the enforcement workload.
    NULL quasi values form their own class per SQL grouping (two rows
    with the same NULL pattern ARE mutually indistinguishable, which is
    exactly the anonymity question)."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if k < 2:
        raise ValueError("k must be >= 2 (k=1 is the no-op policy)")
    classes = df.groupBy(*quasi_cols).agg(F.count("*").alias("class_size"))
    return (
        classes.groupBy("class_size")
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            F.sum("class_size").cast("bigint").alias("n_rows"),
        )
        .select(
            F.col("class_size").cast("bigint").alias("class_size"),
            "n_classes", "n_rows",
            (F.col("class_size") < k).alias("risky"),
        )
        .orderBy("class_size")
    )


def suppress_below_k(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
    mode: str = "drop",
) -> DataFrame:
    """Enforce k-anonymity on the quasi columns.

    ``mode="drop"`` removes rows in classes smaller than k;
    ``mode="null"`` keeps them with every quasi column nulled (all
    suppressed rows then share ONE all-NULL class — k-anonymous again as
    long as at least k rows were suppressed or the class is empty; the
    audit after enforcement is the check, and the round-trip invariant
    is pytest-gated).  Column order and types are preserved."""
    if mode not in ("drop", "null"):
        raise ValueError(f"unknown mode {mode!r}")
    if k < 2:
        raise ValueError("k must be >= 2 (k=1 is the no-op policy)")
    classes = df.groupBy(*quasi_cols).agg(F.count("*").alias("_n"))
    # Null-SAFE equi-join: groupBy buckets NULL quasi values into one class
    # (the audit's documented semantics), but a plain equi-join would never
    # match those keys back — a NULL-pattern class of size >= k would get
    # _n = NULL and be suppressed despite the audit calling it safe.  The
    # null-safe comparison keeps audit and enforcement on the same class
    # definition and still hash-partitions on the same tuple.
    cond = None
    for c in quasi_cols:
        eq = df[c].eqNullSafe(classes[c])
        cond = eq if cond is None else cond & eq
    joined = df.join(classes, cond, "left").drop(*[classes[c] for c in quasi_cols])
    if mode == "drop":
        return joined.where(F.col("_n") >= k).select(*df.columns)
    return joined.select(
        *[
            (
                F.when(F.col("_n") >= k, F.col(c))
                .otherwise(F.lit(None))
                .alias(c)
                if c in quasi_cols
                else F.col(c)
            )
            for c in df.columns
        ]
    )


def l_diversity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """Distinct-l-diversity profile (Machanavajjhala et al., "l-Diversity:
    Privacy Beyond k-Anonymity", 2006): k-anonymity bounds how many rows
    share a quasi-identifier combination, but a class where every row has
    the SAME sensitive value still leaks it outright (the homogeneity
    attack).  A class is l-diverse iff it contains at least l distinct
    non-NULL sensitive values.

    Returns one row per distinct DIVERSITY level: ``diversity`` BIGINT
    (distinct sensitive values in the class; all-NULL classes score 0),
    ``n_classes`` BIGINT, ``n_rows`` BIGINT, ``risky`` BOOLEAN
    (diversity < l).  Same single-hash-aggregate shape as
    :func:`k_anonymity_audit` — one groupBy on the quasi tuple with a
    count-distinct partial, then a <= |distinct-diversity| rollup."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if l < 2:
        raise ValueError("l must be >= 2 (l=1 is the no-op policy)")
    classes = df.groupBy(*quasi_cols).agg(
        F.countDistinct(sensitive_col).alias("diversity"),
        F.count(F.lit(1)).alias("class_size"),
    )
    return (
        classes.groupBy("diversity")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum("class_size").cast("bigint").alias("n_rows"),
        )
        .select(
            F.col("diversity").cast("bigint").alias("diversity"),
            "n_classes", "n_rows",
            (F.col("diversity") < l).alias("risky"),
        )
        .orderBy("diversity")
    )


def suppress_below_l(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """Enforce distinct-l-diversity: DROP rows whose quasi class carries
    fewer than l distinct non-NULL sensitive values (nulling the
    sensitive column would set diversity to 0 — generalization hierarchies
    are a policy layer above this operator).  Column order and types are
    preserved.  Null-safe class join, the suppress_below_k rule."""
    if l < 2:
        raise ValueError("l must be >= 2 (l=1 is the no-op policy)")
    classes = df.groupBy(*quasi_cols).agg(
        F.countDistinct(sensitive_col).alias("_ldiv")
    )
    cond = None
    for c in quasi_cols:
        eq = df[c].eqNullSafe(classes[c])
        cond = eq if cond is None else cond & eq
    joined = df.join(classes, cond, "left").drop(
        *[classes[c] for c in quasi_cols]
    )
    return joined.where(F.col("_ldiv") >= l).select(*df.columns)
