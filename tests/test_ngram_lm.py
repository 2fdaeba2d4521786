"""operators/ngram_lm.py — interpolated Kneser-Ney bigrams (staged r11
for an r12 registry face): hand-computed planted model, the sum-to-one
closed form over the full vocabulary, the continuation-vs-frequency
separation KN exists for, and the DuckDB oracle replay over documents."""

from __future__ import annotations

import pytest

from pipeline_calculator_v3_spark.functions.text import TOKENS_SQL
from pipeline_calculator_v3_spark.operators.ngram_lm import kn_bigram_probs

D = 0.75

# The intended r12 face oracle: the same counting aggregates in ANSI SQL.
ORACLE_SQL = f"""
WITH t AS (
    SELECT {TOKENS_SQL} AS tok FROM documents
    WHERE len({TOKENS_SQL}) > 1
),
bg AS (
    SELECT split_part(b, ' ', 1) AS ctx, split_part(b, ' ', 2) AS nxt
    FROM (SELECT unnest(list_transform(
                     range(1, greatest(len(tok) - 1, 0) + 1),
                     i -> tok[i] || ' ' || tok[i + 1])) AS b
          FROM t)
),
counts AS (
    SELECT ctx, nxt, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2
),
ctx_stats AS (
    SELECT ctx, CAST(sum(c) AS BIGINT) AS c_ctx,
           CAST(count(*) AS BIGINT) AS n1p_ctx
    FROM counts GROUP BY 1
),
cont AS (
    SELECT nxt, CAST(count(*) AS BIGINT) AS n1p_w FROM counts GROUP BY 1
),
total AS (SELECT CAST(count(*) AS BIGINT) AS n1p_all FROM counts)
SELECT c.ctx, c.nxt, c.c, s.c_ctx, s.n1p_ctx,
       round(CAST(w.n1p_w AS DOUBLE) / t2.n1p_all, 6) AS p_cont,
       round(greatest(CAST(c.c AS DOUBLE) - {D!r}, 0.0) / s.c_ctx
             + {D!r} * s.n1p_ctx / s.c_ctx
               * (CAST(w.n1p_w AS DOUBLE) / t2.n1p_all), 6) AS p_kn
FROM counts c
JOIN ctx_stats s USING (ctx)
JOIN cont w USING (nxt)
CROSS JOIN total t2
"""

# "san francisco" x3, "san diego" x1, "a francisco" never: francisco is
# frequent (3 occurrences) but follows only ONE distinct context, while
# "b" follows two — continuation probability must rank b over francisco.
PLANTED = [
    (1, "san francisco san francisco"),
    (2, "san francisco san diego"),
    (3, "a b c b"),
]


@pytest.fixture(scope="module")
def planted(spark):
    df = spark.createDataFrame(PLANTED, "doc_id long, text string")
    return {
        (r.ctx, r.nxt): r for r in kn_bigram_probs(df, discount=D).collect()
    }


def test_planted_counts(planted):
    # bigrams: san->francisco x3, francisco->san x2, san->diego x1,
    # a->b, b->c, c->b
    assert planted[("san", "francisco")].c == 3
    assert planted[("san", "francisco")].c_ctx == 4
    assert planted[("san", "francisco")].n1p_ctx == 2
    assert planted[("francisco", "san")].c == 2
    assert len(planted) == 6


def test_planted_kn_value(planted):
    # P_KN(francisco | san): (3 - D)/4 + D * 2/4 * P_cont(francisco);
    # N1+(*, francisco) = 1 of 6 distinct bigrams
    p_cont = 1 / 6
    want = (3 - D) / 4 + D * (2 / 4) * p_cont
    assert planted[("san", "francisco")].p_kn == round(want, 6)
    assert planted[("san", "francisco")].p_cont == round(p_cont, 6)


def test_continuation_beats_raw_frequency(planted):
    # francisco occurs 3x but always after "san"; b occurs 2x after TWO
    # distinct contexts — the KN separation: P_cont(b) > P_cont(francisco)
    assert (
        planted[("a", "b")].p_cont > planted[("san", "francisco")].p_cont
    )


def test_sum_to_one_closed_form(planted):
    # sum over the FULL vocab V of P_KN(w | v) = 1 for every context v:
    # observed terms contribute (c - D)/c_ctx + mass * p_cont(w); unseen
    # w contribute mass * p_cont(w); sum of p_cont over V is 1.
    # Recompute from the exact integer columns (rounded p_kn would
    # drift).  Sum of p_cont over the full vocab is exactly 1: tokens
    # never seen as a nxt carry zero continuation mass by definition,
    # and the observed nxt's n1p_w counts partition the n1p_all total.
    n1p_all = len(planted)
    from collections import Counter

    n1p_w = Counter(nxt for (_, nxt) in planted)
    assert sum(n1p_w.values()) == n1p_all
    for v in {ctx for (ctx, _) in planted}:
        rows = [r for (c, _), r in planted.items() if c == v]
        c_ctx, n1p_ctx = rows[0].c_ctx, rows[0].n1p_ctx
        mass = D * n1p_ctx / c_ctx
        seen = sum((r.c - D) / c_ctx for r in rows)
        total = seen + mass * 1.0
        assert total == pytest.approx(1.0, abs=1e-12), v


def test_discount_guard(spark):
    df = spark.createDataFrame(PLANTED, "doc_id long, text string")
    with pytest.raises(ValueError):
        kn_bigram_probs(df, discount=1.0)
    with pytest.raises(ValueError):
        kn_bigram_probs(df, discount=0.0)


def test_documents_oracle_replay(spark, duck, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r.ctx, r.nxt): (r.c, r.c_ctx, r.n1p_ctx, r.p_cont, r.p_kn)
        for r in kn_bigram_probs(docs, discount=D).collect()
    }
    want = {
        (r[0], r[1]): (r[2], r[3], r[4], r[5], r[6])
        for r in duck.execute(ORACLE_SQL).fetchall()
    }
    assert len(got) == len(want) > 500
    assert got == want


def test_plan_lints(spark):
    df = spark.createDataFrame(PLANTED, "doc_id long, text string")
    from tests.compare import assert_no_plan_antipatterns

    assert_no_plan_antipatterns(kn_bigram_probs(df))
