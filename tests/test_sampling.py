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


# ---------------------------------------------------------------------------
# split_leakage_audit (staged r14 for an r15 face) — the proof that a
# group-keyed split keeps near-dup cluster members on one side.
# ---------------------------------------------------------------------------
LEAK_ORACLE = """
WITH d AS (SELECT doc_id, md5(CAST(doc_id // 10 AS VARCHAR)) AS h,
                  doc_id // 10 AS grp
           FROM documents),
s AS (SELECT grp,
             CASE WHEN h < 'cccccccc' THEN 'train'
                  WHEN h < 'e6666666' THEN 'val'
                  ELSE 'test' END AS split
      FROM d),
g AS (SELECT grp, CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
             count(*) AS nr
      FROM s GROUP BY grp)
SELECT n_splits, CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(nr) AS BIGINT) AS n_rows, n_splits > 1 AS leaky
FROM g GROUP BY n_splits ORDER BY n_splits
"""


def test_group_keyed_split_certifies_leak_free(spark, sf_dir):
    from pipeline_calculator_v3_spark.operators.sampling import (
        split_assign,
        split_leakage_audit,
    )
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.floor(F.col("doc_id") / 10).alias("grp")
    )
    split = d.withColumn("split", split_assign(F.col("grp"), 0.8, 0.1))
    audit = split_leakage_audit(split, "grp", "split").collect()
    # a group-keyed assignment can NEVER straddle: exactly one profile
    # row, n_splits = 1, covering every group and row
    assert len(audit) == 1 and audit[0].n_splits == 1
    assert not audit[0].leaky
    assert audit[0].n_rows == d.count()


def test_row_keyed_split_on_grouped_data_is_flagged(spark, sf_dir):
    from pipeline_calculator_v3_spark.operators.sampling import (
        split_assign,
        split_leakage_audit,
    )
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.floor(F.col("doc_id") / 10).alias("grp")
    )
    # the anti-pattern: assignment keyed on the ROW id over clustered docs
    split = d.withColumn("split", split_assign(F.col("doc_id"), 0.8, 0.1))
    audit = {r.n_splits: r for r in
             split_leakage_audit(split, "grp", "split").collect()}
    assert any(k > 1 for k in audit), "10-doc groups must straddle splits"
    assert all(audit[k].leaky for k in audit if k > 1)


def test_leakage_audit_oracle_replay(spark, duck, sf_dir):
    from pipeline_calculator_v3_spark.operators.sampling import (
        split_assign,
        split_leakage_audit,
    )
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.floor(F.col("doc_id") / 10).alias("grp")
    )
    split = d.withColumn("split", split_assign(F.col("grp"), 0.8, 0.1))
    got = [
        (r.n_splits, r.n_groups, r.n_rows, r.leaky)
        for r in split_leakage_audit(split, "grp", "split").collect()
    ]
    want = [tuple(r) for r in duck.execute(LEAK_ORACLE).fetchall()]
    assert got == want and got[0][0] == 1


def test_leakage_audit_planted_null_group_and_null_split(spark):
    from pipeline_calculator_v3_spark.operators.sampling import (
        split_leakage_audit,
    )

    rows = [
        (1, "g1", "train"), (2, "g1", "train"),
        (3, "g2", "train"), (4, "g2", "test"),
        (5, None, "train"), (6, None, "val"),     # NULL group = ONE class
        (7, "g3", None), (8, "g3", "train"),      # NULL split not counted
    ]
    df = spark.createDataFrame(rows, "id long, grp string, split string")
    audit = {r.n_splits: (r.n_groups, r.n_rows, r.leaky)
             for r in split_leakage_audit(df, "grp", "split").collect()}
    # g1 -> 1 split; g3 -> 1 (NULL dropped by count-distinct);
    # g2 -> 2; NULL class -> 2
    assert audit == {1: (2, 4, False), 2: (2, 4, True)}
