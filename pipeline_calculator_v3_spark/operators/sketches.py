"""Mergeable heavy-hitters sketch: Misra-Gries summaries + exact recount.

The two-pass heavy-hitters pattern for 100 TB frequency questions where a
full distinct aggregation is too wide to shuffle:

1. Each partition builds a bounded Misra-Gries summary (``capacity``
   counters) in one streaming pass — an Arrow-batched ``mapInPandas``
   kernel, the sanctioned imperative-sketch path (SURVEY §4) since the
   decrement-all update has no Column-expression form.  The exchange then
   carries at most ``capacity`` rows per partition, NOT one row per
   distinct value.
2. The merged summaries nominate candidates; a second pass recounts ONLY
   the candidates exactly (broadcast semi-restriction, map-side).

Misra-Gries guarantee: a partition summary undercounts any value by at
most n_p/capacity, and summing summaries keeps the bound additive — so
every value with true count > n/capacity survives SOMEWHERE in the merged
summaries REGARDLESS of partitioning.  ALL summary survivors are
recounted (never an est-ranked cut — the estimates are undercounts, and
truncating on them can drop true top-k members), so whenever the k-th
true count exceeds n/capacity the exact top-k is deterministic.  The
operator CHECKS that precondition against the recounted values and
raises instead of returning a silently partitioning-dependent answer —
which is what makes q_heavy_hitters oracle-checkable despite the
approximate middle (tests/test_sketches.py pins both the invariance and
the loud failure).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import persist_tracked, unpersist_tracked


def mg_kernel(capacity: int):
    """Partition-local Misra-Gries pass: one bounded summary frame per
    partition (<= ``capacity`` rows; empty partitions yield nothing).
    Module-level so tests exercise THIS kernel, not a copy."""

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            for v in pdf["value"]:
                if v in counters:
                    counters[v] += 1
                elif len(counters) < capacity:
                    counters[v] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        # the partition row count rides on the FIRST summary row (review
        # r06: a separate values.count() was a third full scan of the
        # input).  A non-empty partition whose counters all decremented to
        # zero still must report its count: carry it on a null-value row
        # with est=0 (never a candidate — candidates filter on est > 0).
        if counters:
            vals = list(counters.keys())
            ests = list(counters.values())
            yield pd.DataFrame(
                {
                    "value": vals,
                    "est": ests,
                    "n_part": [n_part] + [0] * (len(vals) - 1),
                }
            )
        elif n_part:
            yield pd.DataFrame({"value": [None], "est": [0], "n_part": [n_part]})

    return mg


def misra_gries_topk(
    df: DataFrame, col: str, k: int = 20, capacity: int = 256
) -> DataFrame:
    """Exact top-``k`` (value, n) of ``df[col]`` via MG candidates + exact
    recount.  Ties at the k-boundary break by value, so the result set is
    deterministic.  Raises ValueError when the distribution violates the
    determinism precondition (k-th count <= n/capacity: the sketch cannot
    promise its candidates cover the true top-k — raise, don't guess)."""
    if k <= 0 or capacity <= k:
        raise ValueError("need capacity > k > 0")
    values = df.select(F.col(col).alias("value"))
    value_type = values.schema["value"].dataType.simpleString()
    summaries = persist_tracked(values.mapInPandas(
        mg_kernel(capacity), f"value {value_type}, est bigint, n_part bigint"
    ))
    try:
        # ALL survivors are candidates: at most capacity rows per
        # partition, so the candidate table is bounded by capacity x
        # partitions and broadcastable — an est-ranked limit here would
        # break the guarantee.  est > 0 excludes the count-carrier rows.
        candidates = summaries.where(F.col("est") > 0).select("value").distinct()
        # candidate recounts are bounded (capacity x partitions), so the
        # FULL exact table collects: top-k, coverage, and the guarantee
        # check all come from one action instead of three
        exact = (
            values.join(F.broadcast(candidates), "value")
            .groupBy("value")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .collect()
        )
        n_total = summaries.agg(F.sum("n_part")).first()[0] or 0
    finally:
        unpersist_tracked(summaries)
    exact.sort(key=lambda r: (-r["n"], r["value"]))
    top = exact[:k]
    covered = sum(r["n"] for r in exact)
    if len(top) < k:
        # fewer candidates than k is fine ONLY when the candidates cover
        # the whole input (the data simply has < k distinct values) —
        # otherwise the MG decrements wiped true members and the result
        # would be partition-dependent (review r06: this case previously
        # slipped past the guarantee check and returned silently)
        if covered < n_total:
            raise ValueError(
                f"capacity {capacity} cannot guarantee a deterministic "
                f"top-{k}: only {len(top)} candidates survived and they "
                f"cover {covered}/{n_total} rows"
            )
    elif top[-1]["n"] * capacity <= n_total:
        raise ValueError(
            f"capacity {capacity} cannot guarantee a deterministic top-{k}: "
            f"k-th count {top[-1]['n']} <= n/capacity = {n_total / capacity:.1f}"
        )
    return df.sparkSession.createDataFrame(top, f"value {value_type}, n bigint")
