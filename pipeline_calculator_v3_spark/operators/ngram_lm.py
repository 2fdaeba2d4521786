"""Interpolated Kneser-Ney bigram probabilities — the smoothing that
perplexity-based quality filters actually ship (CCNet's KenLM scorer is
modified KN): Lidstone add-k (the q_lm_perplexity face) over-weights
frequent unigrams in unseen contexts, while KN backs off to the
CONTINUATION probability — how many distinct contexts a word follows —
so "Francisco" (frequent, but only ever after "San") stops outranking
genuinely versatile words.

With a fixed discount D (classic 0.75):

    P_KN(w | v) = max(c(v,w) - D, 0) / c(v)
                  + D * N1+(v,*) / c(v) * P_cont(w)
    P_cont(w)   = N1+(*,w) / N1+(*,*)

where N1+(v,*) counts distinct observed successors of v, N1+(*,w)
distinct observed predecessors of w, and N1+(*,*) the distinct bigram
total.  Every piece is a counting aggregate over the (ctx, nxt) bigram
table — no iteration, no UDFs, ANSI-SQL-replayable (the r11 staging
contract for an r12 registry face; oracle in tests/test_ngram_lm.py).

Scale shape: ONE (ctx, nxt) hash aggregate over the exploded bigrams
(map-side partials absorb within-document repetition) feeds three
bounded derivations — a ctx-keyed aggregate, a nxt-keyed aggregate, and
a one-row distinct-bigram total that broadcasts back.  The model table
is vocab-pair-bounded, never corpus-bounded; the two join-backs are
equi-joins on ctx / nxt over that bounded table.

Determinism: counts are exact integers; the probability arithmetic is
a fixed-shape double expression per row (no summation-order freedom),
so both engines agree to the last ulp and the 6-dp rounding is pure
formality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def kn_bigram_probs(docs: DataFrame, discount: float = 0.75) -> DataFrame:
    """Train the interpolated-KN bigram model over ``docs``.

    Returns one row per OBSERVED bigram: ``ctx``, ``nxt``, ``c`` BIGINT
    (bigram count), ``c_ctx`` BIGINT (context total), ``n1p_ctx`` BIGINT
    (distinct successors of ctx), ``p_cont`` DOUBLE (continuation
    probability of nxt, 6 dp), ``p_kn`` DOUBLE (the interpolated
    probability, 6 dp).  Unseen-bigram mass is implied:
    P_KN(w|v) = D * n1p_ctx/c_ctx * p_cont(w) for any unobserved (v, w)
    — the sum-to-one invariant over the full vocabulary is pytest-gated.
    """
    if not 0.0 < discount < 1.0:
        # D >= 1 could clip max(c - D, 0) at singleton bigrams and break
        # the closed-form normalization; D <= 0 is no smoothing at all
        raise ValueError("discount must be in (0, 1)")
    tok = tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    bigrams = docs.select(tok.alias("tok")).where(F.size("tok") > 1).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tok") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("tok"), i).alias("ctx"),
                    F.element_at(F.col("tok"), i + 1).alias("nxt"),
                ),
            )
        ).alias("b")
    ).select(F.col("b.ctx").alias("ctx"), F.col("b.nxt").alias("nxt"))
    from ..caching import persist_tracked

    # persisted: the ctx aggregate, the nxt aggregate, and the global
    # total all derive from this one vocab-pair-bounded table
    counts = persist_tracked(
        bigrams.groupBy("ctx", "nxt").agg(F.count("*").alias("c"))
    )
    ctx_stats = counts.groupBy("ctx").agg(
        F.sum("c").alias("c_ctx"), F.count("*").alias("n1p_ctx")
    )
    cont = counts.groupBy("nxt").agg(F.count("*").alias("n1p_w"))
    total = counts.agg(F.count("*").alias("n1p_all"))
    d = F.lit(float(discount))
    p_cont = F.col("n1p_w").cast("double") / F.col("n1p_all").cast("double")
    p_kn = (
        F.greatest(F.col("c").cast("double") - d, F.lit(0.0))
        / F.col("c_ctx").cast("double")
        + d
        * F.col("n1p_ctx").cast("double")
        / F.col("c_ctx").cast("double")
        * p_cont
    )
    return (
        counts.join(ctx_stats, "ctx")
        .join(cont, "nxt")
        .crossJoin(F.broadcast(total))
        .select(
            "ctx", "nxt", "c", "c_ctx", "n1p_ctx",
            F.round(p_cont, 6).alias("p_cont"),
            F.round(p_kn, 6).alias("p_kn"),
        )
    )
