"""operators/kmeans.py — Lloyd k-means determinism + numpy third check.

The q_kmeans_embed oracle and the Spark implementation were authored
together, so parity alone can't catch a shared formula error; the full
pipeline (seeds -> assign -> rounded means -> reassign -> stats) is
replayed here in numpy.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pipeline_calculator_v3_spark import queries as Q
from pipeline_calculator_v3_spark.operators.kmeans import kmeans_assign, sqdist


def _np_kmeans(emb: dict[int, np.ndarray], k: int, iters: int):
    """(assignments, sqd) replaying the exact operator contract."""
    cents = {i: emb[i].astype(np.float64) for i in sorted(emb)[:k]}

    def assign(cents):
        out = {}
        for vid, v in emb.items():
            best = min(
                ((float(np.sum((v - c) * (v - c))), cid)
                 for cid, c in cents.items()),
            )
            out[vid] = (best[1], best[0])
        return out

    for _ in range(iters):
        a = assign(cents)
        new = dict(cents)  # empty-cluster carry-forward (advice r07)
        for cid in {c for c, _ in a.values()}:
            members = np.stack([emb[v] for v, (c, _) in a.items() if c == cid])
            new[cid] = np.round(members.astype(np.float64).mean(axis=0), 9)
        cents = new
    return assign(cents)


def test_kmeans_query_matches_numpy(spark, sf_dir):
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    a = _np_kmeans(emb, k=8, iters=1)
    expected = {}
    for cid in {c for c, _ in a.values()}:
        ds = [d for c, d in a.values() if c == cid]
        expected[cid] = (len(ds), round(sum(ds) / len(ds), 6))

    got = {
        r["cluster_id"]: (r["n_vectors"], r["avg_sqdist"])
        for r in Q.QUERIES["q_kmeans_embed"](spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for cid in expected:
        assert got[cid][0] == expected[cid][0], cid
        assert got[cid][1] == pytest.approx(expected[cid][1], abs=2e-6), cid


def test_kmeans_assign_deterministic_and_total(spark, sf_dir):
    """Every vector gets exactly one cluster; two runs agree row-for-row
    (no RNG, no partitioning sensitivity)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a1 = {r["vid"]: r["cid"] for r in kmeans_assign(e, k=8, iters=1).collect()}
    a2 = {
        r["vid"]: r["cid"]
        for r in kmeans_assign(e.repartition(7), k=8, iters=1).collect()
    }
    assert a1 == a2
    assert len(a1) == e.count()


def test_kmeans_zero_iters_assigns_to_seeds(spark):
    """iters=0: seeds are their own nearest centroid at distance 0."""
    df = spark.range(20).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 5).cast("double"), F.lit(0.0)
        ).alias("embedding"),
    )
    rows = {r["vid"]: r for r in kmeans_assign(df, k=3, iters=0).collect()}
    for seed in range(3):
        assert rows[seed]["cid"] == seed
        assert rows[seed]["sqd"] == 0.0


def test_kmeans_rejects_bad_params(spark):
    df = spark.range(4).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0)).alias("embedding")
    )
    with pytest.raises(ValueError):
        kmeans_assign(df, k=0)
    with pytest.raises(ValueError):
        kmeans_assign(df, iters=-1)


def test_sqdist_column_matches_numpy(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, -3.0], [0.5, -1.0, 2.0])], "a array<double>, b array<double>"
    )
    got = df.select(sqdist(F.col("a"), F.col("b")).alias("d")).first()["d"]
    assert got == pytest.approx(0.25 + 9.0 + 25.0, rel=1e-15)


def test_empty_cluster_carried_forward(spark):
    """A seed centroid that loses every member must survive the iteration
    (advice r07: without the carry, k silently shrinks).  Two identical
    seeds: every vector tie-breaks to the lower cid, starving cid=1; the
    carried [0.0] centroid then wins the origin vectors back in the final
    assignment — k stays 2."""
    rows = [
        (0, [0.0]), (1, [0.0]), (2, [10.0]), (3, [10.0]),
    ]
    vecs = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    got = {
        r["vid"]: r["cid"]
        for r in kmeans_assign(vecs, k=2, iters=1).collect()
    }
    # updated c0 = mean of ALL four = [5.0]; carried c1 = [0.0]
    assert got == {0: 1, 1: 1, 2: 0, 3: 0}
    assert len(set(got.values())) == 2


def test_centroids_sink_and_keep_vec_contract(spark, sf_dir):
    """r09: the sinked centroid frame must be exactly what the final
    assignment scored against (re-deriving min sqdist from it reproduces
    the assignment), and keep_vec must return the input vector intact."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sink: list = []
    out = kmeans_assign(e, k=8, iters=1, centroids_sink=sink, keep_vec=True)
    rows = out.collect()
    assert sink, "centroids_sink not populated"
    cents = {r["cid"]: np.array(r["cvec"], dtype=np.float64)
             for r in sink[0].collect()}
    assert len(cents) == 8  # empty-cluster carry keeps k rows
    emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in e.collect()}
    for r in rows[:50]:
        # keep_vec: v is the input vector verbatim
        assert np.allclose(np.array(r["v"], dtype=np.float64), emb[r["vid"]])
        # assignment = argmin over the SINKED centroids (ties to lower cid)
        best = min(
            (float(np.sum((emb[r["vid"]] - c) ** 2)), cid)
            for cid, c in cents.items()
        )
        assert r["cid"] == best[1]
        assert r["sqd"] == pytest.approx(best[0])


def test_arrow_assign_bit_identical_to_hof(spark, sf_dir):
    """r15 Arrow-kernel gate: the numpy assignment (_assign) must be
    BIT-identical to the interpreted HOF fold (_assign_hof) — same sqd
    bits, same cid under the (asc sqd, asc cid) tie rule — on clean
    float32 data, exact ties, dirty rows (NULL vector, NULL element,
    ragged, empty, NaN) and overflow-to-inf rows; and the dirty-CENTROID
    case must take the HOF fallback with identical output."""
    from pipeline_calculator_v3_spark.operators.kmeans import (
        _assign,
        _assign_hof,
    )

    def assert_same(vecs, cents, tag):
        a = {
            r.vid: (r.cid, r.sqd)
            for r in _assign(vecs, cents, "vec_id", "embedding").collect()
        }
        b = {
            r.vid: (r.cid, r.sqd)
            for r in _assign_hof(vecs, cents, "vec_id", "embedding").collect()
        }
        assert set(a) == set(b), tag
        for k in a:
            (c1, s1), (c2, s2) = a[k], b[k]
            assert c1 == c2, (tag, k, a[k], b[k])
            if s1 is None or s2 is None:
                assert s1 is None and s2 is None, (tag, k, a[k], b[k])
            elif s1 != s1 or s2 != s2:  # NaN
                assert s1 != s1 and s2 != s2, (tag, k, a[k], b[k])
            else:
                assert s1.hex() == s2.hex(), (tag, k, s1.hex(), s2.hex())

    nan = float("nan")
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, [1.0, None]),
            (3, [1.0]),
            (4, []),
            (5, [nan, 2.0]),
            (6, [1.0, 2.0, 3.0]),
            (7, None),
            (8, [1e308, -1e308]),  # sqd overflows to inf on every centroid
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(10, [0.0, 0.0]), (20, [1.0, 2.0])], "cid long, cvec array<double>"
    )
    assert_same(vecs, cents, "dirty-rows")

    # exact tie: identical centroids, different cids -> lowest cid wins
    tie = spark.createDataFrame(
        [(30, [1.0, 2.0]), (20, [1.0, 2.0]), (10, [9.0, 9.0])],
        "cid long, cvec array<double>",
    )
    assert_same(vecs.where("vec_id = 1"), tie, "tie")

    # dirty centroid (ragged) -> HOF fallback, still identical
    dirty_c = spark.createDataFrame(
        [(10, [0.0]), (20, [1.0, 2.0])], "cid long, cvec array<double>"
    )
    assert_same(vecs.where("vec_id in (1, 5)"), dirty_c, "fallback")

    # real float32 embeddings, k=8 seed centroids
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seeds = (
        emb.orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )
    assert_same(emb, seeds, "float32-corpus")


def test_arrow_kernel_sliced_batch_matches_unsliced():
    """The Arrow fast lane must honour a batch's slice offset: rows taken
    from a sliced (non-zero-offset) batch get the same cid and the same
    sqd bits as those rows of the unsliced batch."""
    import pyarrow as pa

    from pipeline_calculator_v3_spark.operators.kmeans import _kernel_batches

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(12, 3)).tolist()
    C = rng.normal(size=(4, 3))
    cids = [10, 20, 30, 40]
    schema = pa.schema([
        pa.field("vid", pa.int64()),
        pa.field("v", pa.list_(pa.float64())),
        pa.field("cid", pa.int64()),
        pa.field("sqd", pa.float64()),
    ])
    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(12), pa.int64()), pa.array(vecs, pa.list_(pa.float64()))],
        names=["vid", "v"],
    )

    def assign(b):
        (out,) = list(_kernel_batches([b], cids, C, 5, schema))
        return [
            (r["vid"], r["cid"], r["sqd"].hex()) for r in out.to_pylist()
        ]

    whole = assign(batch)
    sliced = assign(batch.slice(4, 5))
    assert sliced == whole[4:9]
