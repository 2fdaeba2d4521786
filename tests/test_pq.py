"""operators/pq.py — product quantization + IVF-PQ ADC scan (staged r11
for an r12 registry face): deterministic codebooks, the DuckDB oracle
replay of the IVF-PQ top-k, its recall floor, and plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipeline_calculator_v3_spark.operators.pq import (
    pq_ivf_adc_topk,
    pq_train,
)

M, KSUB, DSUB = 8, 16, 8  # 64-dim embeddings -> 8 subspaces of 8 dims


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def books(emb):
    return pq_train(emb, m=M, ksub=KSUB, iters=0)


# The intended r12 registry oracle, shared CTE prefix: seeds -> per-
# subspace codebooks (list_slice) -> per-(vector, subspace, code) squared
# L2 -> argmin codes.  SUM(... ORDER BY subspace) makes the ADC sum's
# fold order match Spark's subspace-ordered aggregate exactly.
PQ_CTES = f"""
ev AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
seeds AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v
    FROM (SELECT vec_id, v FROM ev ORDER BY vec_id LIMIT {KSUB})
),
books AS (
    SELECT s.subspace, seeds.code,
           seeds.v[s.subspace * {DSUB} + 1 : s.subspace * {DSUB} + {DSUB}]
               AS cent
    FROM seeds CROSS JOIN (SELECT unnest(range({M})) AS subspace) s
),
dists AS (
    SELECT e.vec_id, b.subspace, b.code,
           list_sum(list_transform(
               list_zip(e.v[b.subspace * {DSUB} + 1
                            : b.subspace * {DSUB} + {DSUB}], b.cent),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d
    FROM ev e CROSS JOIN books b
),
codes AS (
    SELECT vec_id, subspace, code FROM (
        SELECT vec_id, subspace, code,
               row_number() OVER (PARTITION BY vec_id, subspace
                                  ORDER BY d, code) AS r
        FROM dists) WHERE r = 1
)
"""


def test_train_guard(emb):
    with pytest.raises(ValueError):
        pq_train(emb, m=7)  # 64 % 7 != 0


def test_train_rejects_corpus_smaller_than_ksub(spark):
    """A corpus with < ksub vectors seeds a SPARSE codebook, and the
    Lloyd loop's positional _codes_expr slice would silently read the
    next subspace's centroids (advice r13) — pq_train must refuse."""
    rows = [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="ksub"):
        pq_train(df, m=2, ksub=4, iters=1)
    with pytest.raises(ValueError, match="ksub"):
        pq_train(df, m=2, ksub=4, iters=0)  # contract holds at iters=0 too


def test_lloyd_empty_cluster_keeps_codebook_dense(spark):
    """Duplicate seed vectors tie every assignment to the lower code, so
    the higher code's Lloyd cluster is EMPTY — it must keep its previous
    centroid rather than vanish: the ADC lookup table indexes the
    (subspace, code)-sorted array positionally, and a dropped row would
    silently shift every later entry (review r11)."""
    rows = [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0, 3.0, 4.0])] + [
        (i, [float(i), float(i + 1), float(2 * i), float(i % 3)])
        for i in range(2, 12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    m, ksub = 2, 4
    books = pq_train(df, m=m, ksub=ksub, iters=1)
    got = {(r.subspace, r.code): list(r.cent) for r in books.collect()}
    assert len(got) == m * ksub  # dense: no (subspace, code) gap
    # code 1 duplicates code 0's seed subvectors, loses every tie, and
    # keeps its seed centroid verbatim
    assert got[(0, 1)] == [1.0, 2.0] and got[(1, 1)] == [3.0, 4.0]
    # the winning cluster DID move (it absorbed both duplicate members);
    # one list probed, so ADC scores every corpus vector
    adc = pq_ivf_adc_topk(
        df.where(F.col("vec_id") < 2), df, books, k=3, n_lists=1, nprobe=1
    ).collect()
    assert adc and all(r.approx_sqdist is not None for r in adc)


# ---------------------------------------------------------------------------
# IVF-PQ composition (FAISS IndexIVFPQ, by_residual=false)
# ---------------------------------------------------------------------------
NLISTS, NPROBE, KCOARSE = 16, 4, 60

# Coarse-quantizer CTEs appended to PQ_CTES: seed centroids (lowest-id
# rule), squared-L2 list assignment (ties -> lowest list), query probes.
IVF_CTES = f"""
cents AS (
    SELECT row_number() OVER (ORDER BY vec_id) AS list_id, v AS cent
    FROM (SELECT vec_id, v FROM ev ORDER BY vec_id LIMIT {NLISTS})
),
cdist AS (
    SELECT e.vec_id, c.list_id,
           list_sum(list_transform(list_zip(e.v, c.cent),
                                   z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d
    FROM ev e CROSS JOIN cents c
),
assigned AS (
    SELECT vec_id, list_id FROM (
        SELECT vec_id, list_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d, list_id) AS r
        FROM cdist) WHERE r = 1
),
probes AS (
    SELECT vec_id AS qid, list_id FROM (
        SELECT vec_id, list_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d, list_id) AS r
        FROM cdist WHERE vec_id < 8) WHERE r <= {NPROBE}
)
"""

IVFPQ_SQL = f"""
WITH {PQ_CTES},
{IVF_CTES},
adc AS (
    SELECT p.qid, a.vec_id AS cid,
           SUM(qd.d ORDER BY qd.subspace) AS approx_sqdist
    FROM probes p
    JOIN assigned a USING (list_id)
    JOIN codes cc ON cc.vec_id = a.vec_id
    JOIN dists qd ON qd.vec_id = p.qid
                 AND qd.subspace = cc.subspace AND qd.code = cc.code
    WHERE a.vec_id <> p.qid
    GROUP BY 1, 2
),
coarse AS (
    SELECT qid, cid, approx_sqdist,
           row_number() OVER (PARTITION BY qid
                              ORDER BY approx_sqdist, cid) AS r
    FROM adc QUALIFY r <= {KCOARSE}
),
refined AS (
    SELECT c.qid, c.cid, c.approx_sqdist,
           list_sum(list_transform(list_zip(q.v, e.v),
                                   z -> (z[1] - z[2]) * (z[1] - z[2])))
               AS sqdist
    FROM coarse c
    JOIN ev q ON q.vec_id = c.qid
    JOIN ev e ON e.vec_id = c.cid
)
SELECT qid, cid, approx_sqdist, sqdist,
       CAST(row_number() OVER (PARTITION BY qid
                               ORDER BY sqdist, cid) AS BIGINT) AS rank
FROM refined QUALIFY rank <= 10
"""


@pytest.fixture(scope="module")
def ivfpq(emb, books):
    return pq_ivf_adc_topk(
        emb.where(F.col("vec_id") < 8), emb, books,
        k=10, k_coarse=KCOARSE, n_lists=NLISTS, nprobe=NPROBE,
    )


def test_ivfpq_matches_duckdb_oracle(duck, ivfpq):
    got = {
        (r.qid, r.cid): (r.rank, r.approx_sqdist, r.sqdist)
        for r in ivfpq.collect()
    }
    want = {
        (int(r[0]), int(r[1])): (int(r[4]), float(r[2]), float(r[3]))
        for r in duck.execute(IVFPQ_SQL).fetchall()
    }
    assert set(got) == set(want)
    for key in got:
        assert got[key][0] == want[key][0], (key, got[key], want[key])
        assert got[key][1] == pytest.approx(want[key][1], rel=1e-12), key
        assert got[key][2] == pytest.approx(want[key][2], rel=1e-12), key


def test_ivfpq_recall_floor(emb, ivfpq):
    """Probing 4/16 lists then refining the ADC top-60 must stay close to
    the full-scan refine: measured recall@10 0.8625 at sf0.001 / 0.8875
    at sf0.01 vs 0.8875 for the unpruned refine — the probe prune costs
    almost nothing here while scanning a quarter of the corpus at
    8 B/vector.  Floor with margin below both measurements."""
    q = emb.where(F.col("vec_id") < 8)
    from pipeline_calculator_v3_spark.operators.pq import _sqdist

    exact = (
        q.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
        .crossJoin(
            F.broadcast(
                emb.select(
                    F.col("vec_id").alias("cid"),
                    F.col("embedding").alias("cv"),
                )
            )
        )
        .where(F.col("qid") != F.col("cid"))
        .select(
            "qid", "cid",
            _sqdist(
                F.transform(F.col("qv"), lambda x: x.cast("double")),
                F.transform(F.col("cv"), lambda x: x.cast("double")),
            ).alias("d"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.asc("d"), F.asc("cid"))
    truth = {
        (r.qid, r.cid)
        for r in exact.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 10)
        .collect()
    }
    got = {(r.qid, r.cid) for r in ivfpq.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.75, recall


def test_ivfpq_plan_gates(ivfpq):
    from tests.compare import assert_no_plan_antipatterns

    assert_no_plan_antipatterns(ivfpq)
    plan = ivfpq._jdf.queryExecution().executedPlan().toString()
    # the probe join must broadcast the tiny query side — a shuffled join
    # here would exchange the corpus
    assert "BroadcastHashJoin" in plan
