"""Round-11 review fixes on the dedup/similarity core — regression net:
NULL-fingerprint quarantine, LSH parameter guards, NULL-source binning in
the copy matrix, and the IVF Lloyd empty-list carry-forward."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipeline_calculator_v3_spark.operators.dedup import (
    fingerprint_dedup,
    minhash_lsh_pairs,
    source_copy_matrix,
)
from pipeline_calculator_v3_spark.operators.similarity import cosine_topk_ivf


def test_null_text_rows_are_singletons_not_copies(spark):
    # two unrelated NULL-text rows must NOT report as copies of each other
    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, None), (4, None)],
        "doc_id long, text string",
    )
    rows = fingerprint_dedup(docs).collect()
    dup = [r for r in rows if r.fp is not None]
    nulls = sorted(
        (r.keep_id, r.n_copies) for r in rows if r.fp is None
    )
    assert len(dup) == 1 and dup[0].n_copies == 2 and dup[0].keep_id == 1
    assert nulls == [(3, 1), (4, 1)]  # one singleton row EACH


def test_minhash_parameter_guards(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="divide evenly"):
        minhash_lsh_pairs(docs, num_hashes=20, bands=8)


def test_source_copy_matrix_null_source_bins_explicitly(spark):
    docs = spark.createDataFrame(
        [(1, "web"), (2, None), (3, "web"), (4, "web")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4)], "id1 long, id2 long"
    )
    got = {
        (r.source_a, r.source_b): (r.n_pairs, r.intra_source)
        for r in source_copy_matrix(docs, pairs).collect()
    }
    # the (web, NULL) pair must NOT collapse onto the (web, web) diagonal
    assert got[("web", "web")] == (1, True)
    assert got[("(null)", "web")] == (1, False)


def test_ivf_lloyd_with_duplicate_seeds_stays_complete(spark):
    # vectors 0 and 1 identical: the higher seed's list empties on the
    # first Lloyd assignment and must keep its centroid (not vanish);
    # the query side still gets a full top-k either way — this pins the
    # no-crash/no-loss behavior (the pq-level test pins density itself)
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0])] + [
        (i, [float(i % 3), float(i % 5), 1.0, float(i % 2)])
        for i in range(2, 20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") < 2)
    got = cosine_topk_ivf(
        q, emb, k=3, n_centroids=4, nprobe=4, kmeans_iters=1
    ).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r.qid, []).append(r.rank)
    assert set(per_q) == {0, 1}
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())