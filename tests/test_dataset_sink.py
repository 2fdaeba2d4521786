"""Partitioned dataset sink + manifest validation round-trip."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from pipeline_calculator_v3_spark.dataset import (
    validate_dataset,
    write_dataset,
)


@pytest.fixture()
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_round_trip_validates_ok(spark, docs, tmp_path):
    out = str(tmp_path / "ds")
    manifest = write_dataset(
        docs, out, partition_by=["lang"], key_cols=["doc_id", "text"]
    )
    assert manifest["n_rows"] == docs.count()
    assert manifest["n_partitions"] == docs.select("lang").distinct().count()
    report = validate_dataset(spark, out)
    assert report["ok"], report


def test_validation_is_layout_invariant(spark, docs, tmp_path):
    """Rewriting with different parallelism must validate clean — the
    checksum is order- and file-layout-independent."""
    out = str(tmp_path / "ds")
    write_dataset(
        docs, out, partition_by=["lang"], key_cols=["doc_id", "text"]
    )
    reread = spark.read.parquet(out).repartition(7)
    out2 = str(tmp_path / "ds2")
    reread.write.partitionBy("lang").parquet(out2)
    shutil.copy(
        os.path.join(out, "_manifest.json"),
        os.path.join(out2, "_manifest.json"),
    )
    assert validate_dataset(spark, out2)["ok"]


def test_missing_partition_detected(spark, docs, tmp_path):
    out = str(tmp_path / "ds")
    write_dataset(
        docs, out, partition_by=["lang"], key_cols=["doc_id", "text"]
    )
    victim = next(
        d for d in os.listdir(out) if d.startswith("lang=")
    )
    shutil.rmtree(os.path.join(out, victim))
    report = validate_dataset(spark, out)
    assert not report["ok"]
    assert report["missing"] == [
        {"lang": victim.split("=", 1)[1]}
    ]


def test_content_tamper_detected(spark, docs, tmp_path):
    """Same row count, one character changed -> checksum mismatch."""
    out = str(tmp_path / "ds")
    write_dataset(
        docs, out, partition_by=["lang"], key_cols=["doc_id", "text"]
    )
    # rewrite one partition with one doc_id altered (count preserved)
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    victim = sorted(langs)[0]
    part_dir = os.path.join(out, f"lang={victim}")
    sub = spark.read.parquet(part_dir)
    from pyspark.sql import functions as F

    tampered = sub.withColumn(
        "doc_id",
        F.when(
            F.col("doc_id")
            == sub.agg(F.min("doc_id")).collect()[0][0],
            F.col("doc_id") + 1_000_000,
        ).otherwise(F.col("doc_id")),
    )
    tampered_pdf = tampered.toPandas()
    shutil.rmtree(part_dir)
    os.makedirs(part_dir)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(tampered_pdf), os.path.join(part_dir, "p.parquet")
    )
    report = validate_dataset(spark, out)
    assert not report["ok"]
    assert len(report["mismatches"]) == 1
    m = report["mismatches"][0]
    assert m["partition"] == {"lang": victim}
    assert m["expected"]["n_rows"] == m["actual"]["n_rows"]
    assert m["expected"]["checksum"] != m["actual"]["checksum"]


def test_manifest_file_ignored_by_spark_reader(spark, docs, tmp_path):
    out = str(tmp_path / "ds")
    write_dataset(
        docs, out, partition_by=["lang"], key_cols=["doc_id"]
    )
    assert os.path.exists(os.path.join(out, "_manifest.json"))
    # underscore-prefixed files are invisible to the parquet reader
    assert spark.read.parquet(out).count() == docs.count()
    with open(os.path.join(out, "_manifest.json")) as f:
        manifest = json.load(f)
    assert manifest["key_cols"] == ["doc_id"]


def test_append_manifest_covers_whole_dataset(spark, docs, tmp_path):
    """The manifest is computed from the files on disk, so an append's
    manifest must describe old + new data, not just the appended frame."""
    out = str(tmp_path / "ds")
    first = docs.where("lang = 'en'")
    rest = docs.where("lang <> 'en'")
    write_dataset(
        first, out, partition_by=["lang"], key_cols=["doc_id", "text"]
    )
    manifest = write_dataset(
        rest, out, partition_by=["lang"], key_cols=["doc_id", "text"],
        mode="append",
    )
    assert manifest["n_rows"] == docs.count()
    assert (
        manifest["n_partitions"]
        == docs.select("lang").distinct().count()
    )
    assert validate_dataset(spark, out)["ok"]


def test_typed_partition_column_round_trip(spark, docs, tmp_path):
    """Numeric-looking partition values survive Spark's read-side partition
    type inference (values are canonicalized to strings on both paths)."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "ds")
    bucketed = docs.withColumn("bucket", (F.col("doc_id") % 3).cast("int"))
    write_dataset(
        bucketed, out, partition_by=["bucket"], key_cols=["doc_id"]
    )
    report = validate_dataset(spark, out)
    assert report["ok"], report


def test_row_digest_distinguishes_nulls_and_delimiters(spark):
    from pyspark.sql import functions as F

    from pipeline_calculator_v3_spark.functions.checksum import (
        row_digest_generic,
    )

    df = spark.createDataFrame(
        [("x", None), (None, "x"), ("a|b", "c"), ("a", "b|c")],
        "a string, b string",
    )
    digests = [
        r[0]
        for r in df.select(
            row_digest_generic([F.col("a"), F.col("b")])
        ).collect()
    ]
    assert len(set(digests)) == 4, digests


def test_curated_corpus_writes_validated_dataset(spark, sf_dir, tmp_path):
    """Capstone integration: the curation funnel's survivors stream into
    the partitioned dataset sink and the manifest validates — curate ->
    write -> verify, the complete production path."""
    # import the registry first: queries_pipeline imported standalone would
    # leave queries.py's bottom-of-module reorder asserting on a partially
    # initialized registry
    import pipeline_calculator_v3_spark.queries  # noqa: F401
    from pipeline_calculator_v3_spark.queries_pipeline import curation_stages

    stages = dict(curation_stages(spark, sf_dir))
    survivors = stages["sampled"].join(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang"
        ),
        "doc_id",
    )
    out = str(tmp_path / "curated")
    manifest = write_dataset(
        survivors.select("doc_id", "lang", "text", "ntok"),
        out,
        partition_by=["lang"],
        key_cols=["doc_id", "text"],
    )
    assert manifest["n_rows"] == survivors.count()
    assert validate_dataset(spark, out)["ok"]
    # the written corpus is exactly the funnel's survivor set
    reread = spark.read.parquet(out)
    assert reread.count() == manifest["n_rows"]
    assert (
        reread.join(stages["sampled"], "doc_id", "left_anti").count() == 0
    )


def test_validate_self_heals_interrupted_swap(spark, docs, tmp_path):
    out = str(tmp_path / "ds")
    write_dataset(
        docs, out, partition_by=["lang"], key_cols=["doc_id"]
    )
    os.rename(out, out + ".__old__")  # headless dataset
    report = validate_dataset(spark, out)
    assert report["ok"]
    assert os.path.exists(out)


def test_validate_cleans_superseded_old_copy(spark, docs, tmp_path):
    """Crash window AFTER the swap's second rename but before rmtree(old):
    out_dir and .__old__ both exist.  A validate-only deployment must
    delete the superseded copy (r05 advice: it previously leaked a full
    dataset copy on disk until some later compact run)."""
    import shutil

    out = str(tmp_path / "ds")
    write_dataset(docs, out, partition_by=["lang"], key_cols=["doc_id"])
    shutil.copytree(out, out + ".__old__")  # simulate post-swap crash
    report = validate_dataset(spark, out)
    assert report["ok"]
    assert os.path.exists(out)
    assert not os.path.exists(out + ".__old__")


def test_append_during_crash_window_restores_original_first(spark, docs, tmp_path):
    """Review r06 (the data-loss scenario): a compaction crash between its
    two renames leaves the dataset headless; an APPEND arriving before any
    validate/compact must restore the original FIRST — otherwise it writes
    a fresh out_dir holding only the increment and the next recovery
    deletes the stranded original as 'superseded'."""
    out = str(tmp_path / "ds")
    write_dataset(docs, out, partition_by=["lang"], key_cols=["doc_id"])
    n_orig = spark.read.parquet(out).count()
    os.rename(out, out + ".__old__")  # mid-swap crash window
    increment = docs.limit(5)
    write_dataset(
        increment, out, partition_by=["lang"], key_cols=["doc_id"],
        mode="append",
    )
    assert not os.path.exists(out + ".__old__")
    assert spark.read.parquet(out).count() == n_orig + 5
    # and the follow-up validate (which would have deleted the orphan)
    # sees a coherent manifest covering original + increment
    report = validate_dataset(spark, out)
    assert report["ok"]


def test_manifest_carries_digest_version(spark, docs, tmp_path):
    from pipeline_calculator_v3_spark.functions.checksum import (
        DIGEST_VERSION,
    )

    out = str(tmp_path / "ds")
    manifest = write_dataset(
        docs, out, partition_by=["lang"], key_cols=["doc_id", "text"]
    )
    assert manifest["digest_version"] == DIGEST_VERSION
    with open(os.path.join(out, "_manifest.json")) as f:
        assert json.load(f)["digest_version"] == DIGEST_VERSION


def _age_manifest(out: str) -> None:
    """Simulate a pre-versioning (v1) manifest whose checksums came from a
    different digest formula: strip the version stamp and perturb one
    partition checksum."""
    mpath = os.path.join(out, "_manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["digest_version"]
    m["partitions"][0]["checksum"] += 1
    with open(mpath, "w") as f:
        json.dump(m, f)


def test_stale_digest_version_validates_counts_only(spark, docs, tmp_path):
    """Advice r06: a manifest from the pre-pin digest formula must not
    flag spurious drift — checksums are incomparable, counts are not."""
    out = str(tmp_path / "ds")
    write_dataset(
        docs, out, partition_by=["lang"], key_cols=["doc_id", "text"]
    )
    _age_manifest(out)
    report = validate_dataset(spark, out)
    assert report["ok"], report
    assert report["stale_digest_version"]["manifest"] == 1
    # counts still guard: a vanished partition is real drift regardless
    victim = next(d for d in os.listdir(out) if d.startswith("lang="))
    shutil.rmtree(os.path.join(out, victim))
    assert not validate_dataset(spark, out)["ok"]


def test_restamp_restores_full_validation(spark, docs, tmp_path):
    from pipeline_calculator_v3_spark.dataset import restamp_manifest
    from pipeline_calculator_v3_spark.functions.checksum import (
        DIGEST_VERSION,
    )

    out = str(tmp_path / "ds")
    write_dataset(
        docs, out, partition_by=["lang"], key_cols=["doc_id", "text"]
    )
    _age_manifest(out)
    restamped = restamp_manifest(spark, out)
    assert restamped["digest_version"] == DIGEST_VERSION
    report = validate_dataset(spark, out)
    assert report["ok"] and "stale_digest_version" not in report
    # checksum tamper is detectable again after the re-stamp
    mpath = os.path.join(out, "_manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["partitions"][0]["checksum"] += 1
    with open(mpath, "w") as f:
        json.dump(m, f)
    assert not validate_dataset(spark, out)["ok"]


def test_restamp_refuses_count_drift(spark, docs, tmp_path):
    """A dataset that drifted while carrying a stale manifest cannot be
    silently blessed by the migration path."""
    from pipeline_calculator_v3_spark.dataset import restamp_manifest

    out = str(tmp_path / "ds")
    write_dataset(
        docs, out, partition_by=["lang"], key_cols=["doc_id", "text"]
    )
    _age_manifest(out)
    victim = next(d for d in os.listdir(out) if d.startswith("lang="))
    shutil.rmtree(os.path.join(out, victim))
    with pytest.raises(RuntimeError, match="refusing to re-stamp"):
        restamp_manifest(spark, out)
