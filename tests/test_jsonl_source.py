"""sources/formats.py JSONL gates: read_jsonl's round trip, corrupt-line
capture and declared schema, and read_jsonl_quarantined's quarantine
semantics and round-trip fidelity on the inputs JSON actually mangles —
unicode, newlines, quotes, nulls, empty strings."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pipeline_calculator_v3_spark.sources.formats import (
    read_jsonl_quarantined,
    write_jsonl,
)

DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)

ROWS = [
    (1, 'quotes " and \\ backslash', "en", "s1", 24),
    (2, "newline\nand\ttab", "en", "s1", 15),
    (3, "unicode: café 中文 \U0001f600", "zh", "s2", 12),
    (4, "", "en", "s2", 0),       # empty string must NOT become null
    (5, None, None, "s3", None),  # nulls must survive as nulls
]


@pytest.fixture(scope="module")
def tripped(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("jsonl"))
    df = spark.createDataFrame(
        ROWS, "doc_id long, text string, lang string, source string, n_chars long"
    )
    write_jsonl(df, work)
    with open(os.path.join(work, "junk.json"), "w") as f:
        f.write('{"doc_id": oops}\nnot json at all\n')
    parsed, quarantined = read_jsonl_quarantined(spark, work, DOCS_SCHEMA)
    return (
        {r.doc_id: (r.text, r.lang, r.source, r.n_chars) for r in parsed.collect()},
        sorted(r.raw for r in quarantined.collect()),
    )


def test_roundtrip_preserves_values(tripped):
    parsed, _ = tripped
    for doc_id, text, lang, source, n_chars in ROWS:
        assert parsed[doc_id] == (text, lang, source, n_chars), doc_id


def test_corrupt_lines_quarantined_verbatim(tripped):
    parsed, quarantined = tripped
    assert len(parsed) == len(ROWS), "corrupt lines must not become rows"
    assert quarantined == ["not json at all", '{"doc_id": oops}']


def test_jsonl_round_trip_and_corrupt_capture(spark, sf_dir, tmp_path):
    from pipeline_calculator_v3_spark.sources.formats import read_jsonl, write_jsonl

    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dest = str(tmp_path / "docs_jsonl")
    write_jsonl(src, dest)
    # inject malformed lines alongside the good part files
    with open(os.path.join(dest, "bad.json"), "w") as f:
        f.write('{"doc_id": 1, "text": "unterminated\n')
        f.write("not json at all\n")
        f.write('{"doc_id": 99999999, "text": "fine", "lang": "en", '
                '"source": "s", "n_chars": 4}\n')
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    # corrupt-column-only queries on raw json are disallowed — materialize
    back = read_jsonl(spark, dest, schema).cache()
    good = back.where(F.col("_corrupt").isNull())
    bad = back.where(F.col("_corrupt").isNotNull())
    assert bad.count() == 2  # the two malformed lines, captured not fatal
    assert good.count() == src.count() + 1  # originals + the valid extra line
    # value fidelity on the round-tripped originals
    a = sorted(map(tuple, src.collect()))
    b = sorted(
        map(tuple, good.where(F.col("doc_id") != 99999999)
            .select(*src.columns).collect())
    )
    assert a == b


def test_jsonl_explicit_schema_no_inference_pass(spark, sf_dir, tmp_path):
    from pipeline_calculator_v3_spark.sources.formats import read_jsonl, write_jsonl

    src = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    dest = str(tmp_path / "docs_schema")
    write_jsonl(src, dest)
    df = read_jsonl(spark, dest, "doc_id bigint, lang string, n_chars bigint").cache()
    # schema is exactly the declared contract (+ corrupt column), no inference
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "lang", "n_chars", "_corrupt"
    ]
    assert df.where(F.col("_corrupt").isNotNull()).count() == 0
