"""operators/similarity.semantic_dedup_pairs + q_dedup_semantic — SemDeDup
(k-means partition -> within-cluster cosine -> components).

Gates: (1) planted near-duplicate recall on the shared perturbed corpus;
(2) pairs are cluster-scoped by construction (cluster_id consistency);
(3) transitive closure on a crafted 3-member family (the pair face only
emits edges; the decision table must merge them into one cluster).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pipeline_calculator_v3_spark.operators.clusters import dedup_clusters
from pipeline_calculator_v3_spark.operators.similarity import (
    semantic_dedup_pairs,
)
from pipeline_calculator_v3_spark.queries import QUERIES
from pipeline_calculator_v3_spark.queries_textml import (
    _planted_embedding_corpus,
)


def test_planted_family_recall(spark, sf_dir):
    """Every planted (v, v+100000) perturbed pair must be recovered: the
    0.6%-scale perturbation keeps cosine >= 0.99, and on this corpus no
    planted twin lands across a cluster boundary (deterministic — assert
    exact recall 1.0, not a floor)."""
    corpus = _planted_embedding_corpus(spark, sf_dir)
    pairs = semantic_dedup_pairs(corpus, k=8)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    planted = {(v, v + 100000) for v in range(50)}
    assert planted <= got
    # the real corpus has no near-dups (max all-pairs cosine 0.513): the
    # planted pairs are EXACTLY the answer
    assert got == planted


def test_pairs_carry_their_cluster(spark, sf_dir):
    """cluster_id on each pair matches the k-means assignment of BOTH
    members — pair generation never crossed a cluster boundary."""
    from pipeline_calculator_v3_spark.operators.kmeans import kmeans_assign

    corpus = _planted_embedding_corpus(spark, sf_dir)
    assigned = {
        r["vid"]: r["cid"]
        for r in kmeans_assign(corpus, k=8, iters=1).collect()
    }
    for r in semantic_dedup_pairs(corpus, k=8).collect():
        assert assigned[r["id1"]] == r["cluster_id"]
        assert assigned[r["id2"]] == r["cluster_id"]


def test_family_transitive_closure(spark):
    """Three near-identical vectors + two far points: the family collapses
    to ONE cluster with the minimum id surviving, far points stay
    singletons."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 1e-4]),
        (2, [1.0, 2e-4]),
        (10, [-1.0, 0.0]),
        (11, [0.0, -1.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    pairs = semantic_dedup_pairs(vecs, k=2)
    decision = {
        r["vec_id"]: (r["cluster"], r["keep"])
        for r in dedup_clusters(vecs, pairs, id_col="vec_id").collect()
    }
    assert decision[0] == (0, True)
    assert decision[1] == (0, False)
    assert decision[2] == (0, False)
    assert decision[10] == (10, True)
    assert decision[11] == (11, True)


def test_query_decision_matches_pair_face(spark, sf_dir):
    """q_dedup_semantic keep=False exactly for the planted copies."""
    out = QUERIES["q_dedup_semantic"](spark, sf_dir)
    dropped = {
        r["vec_id"] for r in out.where(~F.col("keep")).collect()
    }
    assert dropped == {v + 100000 for v in range(50)}


def test_semantic_contamination_flags_planted_eval_leaks(spark, sf_dir):
    """q_contamination_semantic must flag EXACTLY the planted twins of
    eval vectors (orig 0,10,20,30,40 -> train ids +100000), each matched
    to its own source at cosine ~1 — the natural corpus has no cross-pair
    above 0.52, so any extra or missing row is a blocking/threshold bug."""
    out = {
        r["train_id"]: (r["eval_id"], r["cos_sim"])
        for r in QUERIES["q_contamination_semantic"](spark, sf_dir).collect()
    }
    assert set(out) == {100000 + v for v in range(0, 50, 10)}
    for train_id, (eval_id, cos) in out.items():
        assert eval_id == train_id - 100000
        assert cos > 0.999


def test_xl_twin_planted_recall(spark, sf_dir):
    """The scale twin's planted exact-direction duplicates are recovered
    structurally: n_dropped == planted count (a scaled copy lands in its
    base's cluster and scores cosine 1.0)."""
    from pipeline_calculator_v3_spark.queries import QUERIES

    row = QUERIES["q_dedup_semantic_xl"](spark, sf_dir).collect()[0]
    n_base = row.n_vectors - row.n_dropped
    # planted = every 20th base id (the %20==0 subset of the %4==0 corpus)
    assert row.n_dropped > 0
    assert row.n_clusters == n_base


def test_arrow_pair_kernel_matches_salted_join(spark):
    """r15 Arrow pair-stage gate: _pairs_cosine_arrow must produce the
    IDENTICAL pair set as the salted self-join + HOF cosine spelling it
    replaced, with bit-identical cos_sim doubles — across threshold
    boundaries, zero norms, NULL norms, NaN/overflow inputs, NULL
    elements, NULL vectors, NULL ids and ragged lengths.  (A NaN cosine is
    kept on both paths; its exported value is NULL on the Arrow path — the
    documented pandas->Arrow coercion — so NaN-old reads exactly NULL-new.)"""
    from pyspark.sql import functions as F

    from pipeline_calculator_v3_spark.functions.vectors import norm
    from pipeline_calculator_v3_spark.operators.similarity import (
        _pairs_cosine_arrow,
        _pairs_cosine_join,
    )

    def check(labeled, thr, G, tag):
        a = {
            (r.id1, r.id2): (r.cluster_id,
                             None if r.cos_sim is None else r.cos_sim.hex())
            for r in _pairs_cosine_arrow(labeled, thr, G, "cluster_id").collect()
        }
        b = {
            (r.id1, r.id2): (r.cluster_id,
                             None if r.cos_sim is None else r.cos_sim.hex())
            for r in _pairs_cosine_join(labeled, thr, G).collect()
        }
        assert set(a) == set(b), (tag, set(a) ^ set(b))
        for k in a:
            assert a[k][0] == b[k][0], (tag, k, a[k], b[k])
            want = None if b[k][1] == "nan" else b[k][1]
            assert a[k][1] == want, (tag, k, a[k], b[k])
        return sum(v[1] == "nan" for v in b.values())

    nan = float("nan")
    rows = [
        (1, [1.0, 0.0], 0), (2, [1.0, 1e-7], 0), (3, [0.99, 0.14], 0),
        (4, [0.0, 0.0], 0),      # zero norm -> never pairs
        (5, [nan, 1.0], 0),      # NaN -> pairs with every nonzero partner
        (6, [1.0, None], 0),     # NULL element -> never pairs
        (7, [1.0], 0),           # ragged -> pairs only with same length
        (8, [1.0], 0),
        (9, None, 0),            # NULL vector
        (10, [0.6, 0.8], 1), (11, [0.6000001, 0.7999999], 1),
        (12, [-0.6, -0.8], 1),
        (13, [1e308, 1e308], 1),  # dot overflows to inf
        (None, [1.0, 0.0], 1),    # NULL id -> never pairs
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, blk int")
    labeled = df.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("v"),
        F.col("blk").alias("blk"), norm(F.col("embedding")).alias("nrm"),
    )
    assert check(labeled, 0.99, 4, "edge-cases") > 0  # the NaN->NULL case ran
    check(labeled, -2.0, 4, "keep-all")
    # a NULL norm on a clean vector: NULL cosine in the join -> never pairs
    null_nrm = labeled.withColumn(
        "nrm", F.when(F.col("vid") != 1, F.col("nrm"))
    )
    check(null_nrm, 0.5, 4, "null-norm")

    # hash-random 16-dim corpus, thresholds inside the cosine distribution
    big = spark.range(0, 800).select(
        F.col("id").alias("vid"),
        F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda d: (
                F.pmod(F.xxhash64(F.col("id"), d), F.lit(1000003))
                .cast("double") / 1000003.0
            ) * 2.0 - 1.0,
        ).alias("v"),
        F.pmod(F.col("id"), F.lit(3)).cast("int").alias("blk"),
    ).withColumn("nrm", norm(F.col("v")))
    check(big, 0.5, 4, "random-thr0.5")
    check(big, 0.0, 4, "random-thr0.0")


def test_pair_kernel_dispatch_identical(spark, sf_dir):
    """Both pair spellings semantic_dedup_pairs dispatches between (by k)
    produce the same pair set on the real corpus, labelled by the same
    k-means assignment."""
    from pyspark.sql import functions as F

    from pipeline_calculator_v3_spark.functions.vectors import norm
    from pipeline_calculator_v3_spark.operators.kmeans import kmeans_assign
    from pipeline_calculator_v3_spark.operators.similarity import (
        _pairs_cosine_arrow,
        _pairs_cosine_join,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    labeled = kmeans_assign(emb, k=8, iters=1, keep_vec=True).select(
        "vid", "v", F.col("cid").alias("blk"), norm(F.col("v")).alias("nrm"),
    ).cache()
    try:
        got = {
            name: {(r.id1, r.id2, r.cluster_id) for r in pairs.collect()}
            for name, pairs in (
                ("join", _pairs_cosine_join(labeled, 0.1, 4)),
                ("arrow", _pairs_cosine_arrow(labeled, 0.1, 4, "cluster_id")),
            )
        }
    finally:
        labeled.unpersist()
    assert got["join"] == got["arrow"]
    assert len(got["join"]) > 0  # the planted corpus has near-dups


def test_arrow_pair_kernel_chunked_path(spark):
    """The A-side chunking (memory bound for pathological giant clusters)
    must not change the pair set: force multi-chunk with a tiny budget
    and compare against the single-chunk result."""
    from pyspark.sql import functions as F

    from pipeline_calculator_v3_spark.functions.vectors import norm
    from pipeline_calculator_v3_spark.operators import similarity as sim

    big = spark.range(0, 400).select(
        F.col("id").alias("vid"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda d: (
                F.pmod(F.xxhash64(F.col("id"), d), F.lit(1000003))
                .cast("double") / 1000003.0
            ) * 2.0 - 1.0,
        ).alias("v"),
        F.lit(0).alias("blk"),  # ONE block: maximal per-task pair matrix
    ).withColumn("nrm", norm(F.col("v")))

    def pairs():
        return {
            (r.id1, r.id2, r.cos_sim.hex())
            for r in sim._pairs_cosine_arrow(big, 0.2, 2, "cluster_id").collect()
        }

    whole = pairs()
    orig = sim._PAIR_CHUNK_DOUBLES
    sim._PAIR_CHUNK_DOUBLES = 64  # step = 64 // |B| -> 1-row chunks
    try:
        chunked = pairs()
    finally:
        sim._PAIR_CHUNK_DOUBLES = orig
    assert whole == chunked and len(whole) > 0
