"""ANN self-certification: q_similarity_ann_recall's floors must hold on the
shared embeddings corpus, so the driver-visible row carries real signal
(VERDICT r03 'What's missing' #4)."""

from __future__ import annotations

from pipeline_calculator_v3_spark.queries import QUERIES
from pipeline_calculator_v3_spark.queries_textml import ANN_RECALL_FLOORS


def test_ann_recall_floors(spark, sf_dir):
    rows = {r.method: r for r in QUERIES["q_similarity_ann_recall"](spark, sf_dir).collect()}
    assert set(rows) == set(ANN_RECALL_FLOORS)
    for method, row in rows.items():
        assert row.n_queries == 8 and row.n_expected == 80
        assert row.meets_floor, (
            f"{method} recall@10 {row.recall_at_10:.3f} "
            f"< floor {ANN_RECALL_FLOORS[method]}"
        )


def test_short_embedding_quarantined_not_fatal(spark):
    """Review r06: one corrupt short embedding used to kill the whole
    embedding-dedup job via element_at's ANSI INVALID_ARRAY_INDEX; it must
    now drop out of the block join (NULL key) while valid pairs survive."""
    from pyspark.sql import functions as F

    from pipeline_calculator_v3_spark.operators.similarity import (
        embedding_dedup_pairs,
        sign_prefix_block,
    )

    vecs = spark.createDataFrame(
        [
            (1, [1.0] * 16),
            (2, [1.0] * 16),            # near-identical pair with 1
            (3, [0.5, -0.5]),           # corrupt: shorter than sign_dims
            (4, []),                    # corrupt: empty
        ],
        "vec_id long, embedding array<double>",
    )
    keys = {r.vec_id: r.k for r in vecs.select(
        "vec_id", sign_prefix_block(F.col("embedding"), 8).alias("k")).collect()}
    assert keys[3] is None and keys[4] is None and keys[1] is not None
    got = [(r.id1, r.id2) for r in
           embedding_dedup_pairs(vecs).collect()]
    assert got == [(1, 2)]
