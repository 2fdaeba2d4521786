"""Bloom runtime-filter: no false negatives, real selectivity, and join
equivalence against the plain join on the shared tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from pipeline_calculator_v3_spark.operators.bloom import (
    bloom_build,
    bloom_filter_keys,
    bloom_prefilter_join,
)


def test_no_false_negatives(spark):
    keys = spark.range(0, 5000).select(F.col("id").alias("k"))
    bitmap = bloom_build(keys, "k", m_bits=1 << 16, n_hashes=4)
    # every inserted key must pass its own filter (probe self-describes
    # from the bitmap row — no m/k to get wrong)
    kept = bloom_filter_keys(keys, bitmap, "k")
    assert kept.count() == 5000


def test_false_positive_rate_small(spark):
    build = spark.range(0, 1000).select(F.col("id").alias("k"))
    bitmap = bloom_build(build, "k", m_bits=1 << 16, n_hashes=4)
    # probe a disjoint key range: survivors are false positives
    probe = spark.range(1_000_000, 1_050_000).select(F.col("id").alias("k"))
    fp = bloom_filter_keys(probe, bitmap, "k").count()
    # theoretical rate at n=1000, m=2^16, k=4 is ~0.1%; allow 1%
    assert fp < 500, fp


def test_prefilter_join_equals_plain_join(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # a selective dim: 5% of parts
    dim = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .where("p_partkey % 20 = 0")
        .select("p_partkey", "p_name")
    )
    plain = (
        li.join(dim, li["l_partkey"] == dim["p_partkey"])
        .groupBy("p_partkey")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
    )
    bloomed = (
        bloom_prefilter_join(li, dim, "l_partkey", "p_partkey")
        .groupBy("p_partkey")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
    )
    a = {r["p_partkey"]: (r["n"], r["q"]) for r in plain.collect()}
    b = {r["p_partkey"]: (r["n"], r["q"]) for r in bloomed.collect()}
    assert a == b and len(a) > 0


def test_prefilter_sheds_most_fact_rows(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dim = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .where("p_partkey % 20 = 0")
        .select("p_partkey")
    )
    bitmap = bloom_build(dim, "p_partkey")
    kept = bloom_filter_keys(li, bitmap, "l_partkey").count()
    total = li.count()
    true_hits = li.join(
        dim, li["l_partkey"] == dim["p_partkey"], "left_semi"
    ).count()
    # everything that matches survives...
    assert kept >= true_hits
    # ...and the shed is real: survivors stay close to the true match set,
    # far below the full fact table (the exchange the filter saves)
    assert kept < total * 0.25, (kept, total, true_hits)


def test_type_mismatched_keys_still_match(spark):
    """int build keys vs bigint probe keys: canonical string hashing keeps
    the no-false-negatives guarantee across the implicit-cast boundary a
    plain join would bridge."""
    from pyspark.sql import functions as F

    dim = spark.range(0, 100).select(F.col("id").cast("int").alias("k"))
    fact = spark.range(0, 100).select(F.col("id").alias("k"))  # bigint
    bitmap = bloom_build(dim, "k", m_bits=1 << 16)
    assert bloom_filter_keys(fact, bitmap, "k").count() == 100


def test_outer_join_mode_rejected(spark, sf_dir):
    import pytest as _pytest

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dim = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey")
    with _pytest.raises(ValueError, match="only sound"):
        bloom_prefilter_join(li, dim, "l_partkey", "p_partkey", how="left")


def test_reserved_column_collision_rejected(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    keys = spark.range(0, 10).select(F.col("id").alias("k"))
    bitmap = bloom_build(keys, "k", m_bits=1 << 10)
    poisoned = keys.withColumn("bloom_bitmap", F.lit(1))
    with _pytest.raises(ValueError, match="reserved"):
        bloom_filter_keys(poisoned, bitmap, "k")


def test_oversized_explicit_n_hashes_fails_loudly(spark):
    """r05 advice: an explicit n_hashes larger than the build-side k probes
    bits that were never set — false negatives, the one guarantee the
    operator makes.  The in-plan guard must fail the query loudly instead
    of silently dropping join rows."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    keys = spark.range(100).select(F.col("id").alias("k"))
    bitmap = bloom_build(keys, "k", m_bits=1 << 12, n_hashes=3)
    probe = spark.range(100).select(F.col("id").alias("k"))
    with _pytest.raises(Exception, match="exceeds the build-side bloom_k"):
        bloom_filter_keys(probe, bitmap, "k", n_hashes=7).count()


def test_matching_explicit_n_hashes_still_passes(spark):
    from pyspark.sql import functions as F

    keys = spark.range(100).select(F.col("id").alias("k"))
    bitmap = bloom_build(keys, "k", m_bits=1 << 12, n_hashes=3)
    probe = spark.range(200).select(F.col("id").alias("k"))
    kept = set(
        r.k for r in bloom_filter_keys(probe, bitmap, "k", n_hashes=3).collect()
    )
    assert set(range(100)) <= kept  # no false negatives
