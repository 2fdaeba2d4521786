"""Token-distribution entropy — the lexical-diversity signal of a
pre-training curation funnel (low-entropy documents are keyword stuffing,
log dumps, and template spam; the Shannon entropy of the within-document
token distribution separates them from prose far more robustly than the
distinct-token ratio alone, which a long repetitive tail can still game).

The per-document computation is a ZERO-SHUFFLE scan: entropy needs each
token's within-document frequency, but instead of exploding to a
(doc, term) aggregate (an exchange carrying one row per distinct pair),
the token array is sorted per document and folded over its equal-token
RUNS with one `F.aggregate` HOF — O(n log n) per document inside
whole-stage codegen, embarrassingly parallel over any partitioning, and
nothing corpus-sized ever leaves its scan task.  With

    S = sum over distinct terms of (tf * ln tf),  n = token count,

the entropy in nats is `ln(n) - S/n` — the fold accumulates S and the
run count (distinct types) in one pass over the sorted array.

Determinism: the fold visits runs in sorted-token order, and the oracle's
unnest+GROUP BY replay sums in engine order; the two agree to ~1 ulp and
both report ROUNDED values (6 dp), the repo-standard grain for
cross-engine libm/summation noise.  Staged r11 for an r12 registry face;
the DuckDB oracle lives in tests/test_entropy.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def _run_fold(tok: Column) -> Column:
    """Fold the SORTED token array into (S, types): one struct
    accumulator, one pass.  ``prev`` tracks the current run's token
    (empty-string sentinel is safe — the tokenizer drops empties),
    ``run`` its length so far; a run closes by adding run*ln(run) to S."""
    def closed(run: Column) -> Column:
        return F.when(run > 0, run * F.log(run)).otherwise(F.lit(0.0))
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0.0).alias("run"),
        F.lit(0.0).alias("s"),
        F.lit(0).cast("bigint").alias("types"),
    )
    return F.aggregate(
        F.array_sort(tok),
        acc0,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1.0)
            .otherwise(F.lit(1.0))
            .alias("run"),
            F.when(x == acc.prev, acc.s)
            .otherwise(acc.s + closed(acc.run))
            .alias("s"),
            F.when(x == acc.prev, acc.types)
            .otherwise(acc.types + F.lit(1).cast("bigint"))
            .alias("types"),
        ),
        lambda acc: F.struct(
            (acc.s + closed(acc.run)).alias("s"), acc.types.alias("types")
        ),
    )


def token_entropy(
    docs: DataFrame, extra_cols: list[str] | None = None
) -> DataFrame:
    """Per-document token-distribution statistics of ``text``.

    Returns ``doc_id``, any ``extra_cols`` passed through, ``n_tokens``
    BIGINT, ``n_types`` BIGINT (distinct tokens), ``entropy`` DOUBLE
    (nats, 6 dp, NULL for empty documents), ``ttr`` DOUBLE (type-token
    ratio, 6 dp, NULL for empty documents).
    """
    # NULL text is an empty document, not a dropped row (review r08:
    # NULL-propagating array ops silently lose the document).
    tok = tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    st = _run_fold(tok)
    n = F.size(tok).cast("double")
    out = docs.select(
        F.col("doc_id"),
        *[F.col(c) for c in (extra_cols or [])],
        n.cast("bigint").alias("n_tokens"),
        st.alias("_st"),
    )
    nn = F.col("n_tokens").cast("double")
    return out.select(
        "doc_id",
        *(extra_cols or []),
        "n_tokens",
        F.col("_st.types").alias("n_types"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.log(nn) - F.col("_st.s") / nn, 6),
        ).alias("entropy"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.col("_st.types").cast("double") / nn, 6),
        ).alias("ttr"),
    )


def entropy_profile(docs: DataFrame) -> DataFrame:
    """Corpus diversity profile: document counts and mean diversity per
    (lang, entropy bucket) — the curation dashboard that decides where
    the low-entropy filter cut goes.

    Buckets are ``floor(entropy / 0.5) * 0.5`` over the
    ROUNDED per-document entropy (both engines bucket the same 6-dp
    value, so a boundary flip needs the true value within 5e-7 of a
    bucket edge AND cross-engine noise past the rounding grain — two
    independent coincidences).  Empty documents land in a NULL bucket.

    Scale shape: the per-document pass is the zero-shuffle scan above;
    the profile is ONE hash aggregate on (group, bucket) — cardinality
    ~languages x ~dozens of buckets, partial-aggregated map-side.
    """
    per_doc = token_entropy(docs, extra_cols=["lang"])
    bucket = (
        F.floor(F.col("entropy") / 0.5) * F.lit(0.5)
    ).alias("entropy_bucket")
    return (
        per_doc.groupBy(F.col("lang"), bucket)
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("entropy"), 6).alias("avg_entropy"),
            F.round(F.avg("ttr"), 6).alias("avg_ttr"),
            F.round(F.avg(F.col("n_tokens").cast("double")), 6).alias(
                "avg_tokens"
            ),
        )
        .orderBy("lang", F.asc_nulls_first("entropy_bucket"))
    )
