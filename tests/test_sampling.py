"""Deterministic hash-sampling invariants (operators/sampling.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipeline_calculator_v3_spark.operators.sampling import hash_sample_predicate


def _sample(df, key_col: str, rate: float):
    return df.where(hash_sample_predicate(F.col(key_col), rate))


def test_rate_edge_cases(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = d.count()
    assert _sample(d, "doc_id", 0.0).count() == 0
    assert _sample(d, "doc_id", 1.0).count() == n


def test_rate_out_of_range_rejected():
    with pytest.raises(ValueError):
        hash_sample_predicate(F.lit(1), -0.1)
    with pytest.raises(ValueError):
        hash_sample_predicate(F.lit(1), 1.5)


def test_selection_is_partitioning_invariant(spark, sf_dir):
    """The selected ROW SET (not just its size) must not change with
    partitioning — the property df.sample() lacks."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(
        r.doc_id for r in _sample(d, "doc_id", 0.1).select("doc_id").collect()
    )
    b = sorted(
        r.doc_id
        for r in _sample(d.repartition(17), "doc_id", 0.1)
        .select("doc_id")
        .collect()
    )
    assert a == b
    assert len(a) > 0


def test_rate_is_approximately_honored(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = d.count()
    k = _sample(d, "doc_id", 0.25).count()
    # md5 is uniform; at n>=500 a 4-sigma band around 0.25 is ~±0.08.
    assert abs(k / n - 0.25) < 0.08, f"sample rate {k / n} far from 0.25"


def test_subsample_nesting(spark, sf_dir):
    """A lower-rate sample on the same key is a SUBSET of a higher-rate one
    (threshold comparison is monotone) — lets pipelines carve nested
    train/calibration/debug splits from one hash."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    small = {r.doc_id for r in _sample(d, "doc_id", 0.05).collect()}
    big = {r.doc_id for r in _sample(d, "doc_id", 0.2).collect()}
    assert small <= big


def test_rate_one_selects_everything(spark, sf_dir):
    """Regression: rate >= 1.0 must select ALL rows — format(16**8) is the
    9-char '100000000' which lexicographically selects only ~6% (digests
    starting '0'); the 'g' sentinel sorts above every hex digit."""
    from pyspark.sql import functions as F

    from pipeline_calculator_v3_spark.operators.sampling import (
        split_assign,
        stratified_sample_predicate,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = d.count()
    picked = stratified_sample_predicate(
        F.col("doc_id"), F.col("lang"), {"en": 1.0}, 1.0
    )
    assert d.where(picked).count() == n
    # train+val == 1.0 exactly: the test bucket must be EMPTY
    splits = {
        r.s: r.c
        for r in d.select(split_assign(F.col("doc_id"), 0.5, 0.5).alias("s"))
        .groupBy("s").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert splits.get("test", 0) == 0 and splits["train"] + splits["val"] == n
