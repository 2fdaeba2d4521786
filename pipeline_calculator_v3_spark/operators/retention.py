"""Cohort retention — the activity-over-time matrix behind every
engagement dashboard: users are grouped by the period of their FIRST
activity (their cohort), and each (cohort, offset) cell counts what
fraction of that cohort was active ``offset`` periods later.  Joins the
analytics layer beside funnel conversion, first-touch attribution, and
Markov transitions (queries_analytics.py) — the classic missing member.

Scale shape: ONE (user) aggregate finds each user's cohort period
(map-side min), the activity log deduplicates to (user, period) —
partial aggregation absorbs within-period event bursts, so the shuffle
carries distinct pairs — then an equi-join on user attaches the cohort
and one (cohort, offset) aggregate counts distinct users.  Cohort sizes
broadcast back onto the <= periods^2 matrix.  Nothing event-sized
crosses more than one exchange.

Determinism: periods are integer day numbers (``datediff`` from the
epoch via date_trunc), offsets exact integers, retention a ratio of
exact BIGINTs rounded to 6 dp — ANSI-SQL-replayable verbatim (staged
r11; oracle in tests/test_retention.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cohort_retention(
    events: DataFrame,
    max_offset: int | None = None,
) -> DataFrame:
    """The day-cohort retention matrix.

    Returns one row per observed (``cohort_day`` DATE, ``day_offset``
    BIGINT >= 0) pair: ``n_active`` BIGINT distinct cohort members active
    that day, ``n_cohort`` BIGINT cohort size, ``retention`` DOUBLE
    (n_active / n_cohort, 6 dp).  ``day_offset`` 0 always exists with
    retention 1.0 (every member is active on their first day by
    definition — pytest-gated).  ``max_offset`` truncates the matrix
    (None keeps every observed offset).  NULL users/timestamps are
    excluded: they identify no cohort member."""
    base = events.where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select(
        F.col("user_id").alias("user"),
        F.to_date(F.col("ts")).alias("day"),
    )
    from ..caching import persist_tracked

    # persisted: cohort derivation and the activity join both read the
    # deduplicated (user, day) pairs
    active = persist_tracked(base.distinct())
    cohorts = active.groupBy("user").agg(F.min("day").alias("cohort_day"))
    sizes = cohorts.groupBy("cohort_day").agg(
        F.count("*").cast("bigint").alias("n_cohort")
    )
    cells = (
        active.join(cohorts, "user")
        .select(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).cast("bigint")
            .alias("day_offset"),
            "user",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user").cast("bigint").alias("n_active"))
    )
    if max_offset is not None:
        cells = cells.where(F.col("day_offset") <= max_offset)
    return (
        cells.join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day", "day_offset", "n_active", "n_cohort",
            F.round(
                F.col("n_active").cast("double") / F.col("n_cohort"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_day", "day_offset")
    )
