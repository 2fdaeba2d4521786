"""Unicode canonicalization (NFC) — the pre-hash normalization step a
multi-source corpus needs before ANY fingerprint-keyed dedup: the same
word spelled with a precomposed character (U+00E9) and with a combining
sequence (U+0065 U+0301) is byte-different, so exact dedup, line dedup,
MinHash shingles, and winnowing fingerprints all silently miss the pair
until both sides are NFC.  (Canonical equivalence only — NFKC's
compatibility foldings change meaning and are a curation POLICY, not a
safety default.)

Spark has no built-in Unicode normalizer, so this is one of the few
legitimate Python hot paths in the engine (the PNG/WAV codec rule):
``mapInPandas`` over Arrow batches, ``unicodedata.normalize`` per value,
zero shuffles — a pure map that composes upstream of every dedup
operator.  The DuckDB oracle replays it with ``nfc_normalize()``; both
implement the Unicode canonical-composition algorithm, so they agree on
any input (planted combining-sequence fixtures are value-gated in
tests/test_textnorm.py; a Unicode-version skew between CPython and
DuckDB could in principle diverge on newly-assigned codepoints — the
planted fixtures stay on mature BMP sequences).

Staged r11 for an r12/r13 registry face; the impact report is the face
shape (per-language counts of changed documents and of duplicate
fingerprints that exist only AFTER normalization — the measured value
of running the step at all).
"""

from __future__ import annotations

import unicodedata
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint_md5
from ..shipping import ensure_pkg_shipped


def nfc_normalize_docs(
    docs: DataFrame, extra_cols: list[str] | None = None
) -> DataFrame:
    """NFC-normalize ``text``.

    Returns ``doc_id``, any ``extra_cols`` (passed through with their
    original types), ``text`` (the raw input, NULL coalesced to ''),
    ``text_nfc``, ``changed`` BOOLEAN, ``n_cp_raw`` / ``n_cp_nfc``
    BIGINT codepoint counts (composition can only shrink or keep them).
    """
    ensure_pkg_shipped(docs.sparkSession)
    extras = list(extra_cols or [])
    by_name = {f.name: f.dataType.simpleString() for f in docs.schema.fields}
    schema = ", ".join(
        [f"doc_id {by_name['doc_id']}"]
        + [f"{c} {by_name[c]}" for c in extras]
        + [
            "text string", "text_nfc string", "changed boolean",
            "n_cp_raw bigint", "n_cp_nfc bigint",
        ]
    )
    cols = ["doc_id", *extras, "text"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = pdf["text"].fillna("")
            nfc = raw.map(lambda s: unicodedata.normalize("NFC", s))
            out = pdf[["doc_id", *extras]].copy()
            out["text"] = raw
            out["text_nfc"] = nfc
            out["changed"] = raw.ne(nfc)
            out["n_cp_raw"] = raw.str.len().astype("int64")
            out["n_cp_nfc"] = nfc.str.len().astype("int64")
            yield out

    return docs.select(*cols).mapInPandas(gen, schema)


def nfc_impact_report(docs: DataFrame) -> DataFrame:
    """Per-group value-of-normalization report.

    One row per ``lang`` value: ``n_docs``, ``n_changed`` (documents
    whose bytes changed under NFC), ``n_dup_docs_raw`` / ``n_dup_docs_nfc``
    (documents sharing a whitespace/case-normalized md5 fingerprint with
    another document in the group, before vs after NFC — the delta is
    exactly the duplicate mass that Unicode inconsistency was hiding).

    Scale shape: the NFC pass is a pure Arrow map; each duplicate count
    is one (group, fingerprint) hash aggregate whose 16-byte keys shuffle
    once — the exact-dedup shape, run twice.
    """
    from ..caching import persist_tracked

    per_doc = persist_tracked(
        nfc_normalize_docs(
            docs, extra_cols=["lang"]
        ).select(
            "doc_id", "lang", "changed",
            fingerprint_md5(F.col("text")).alias("fp_raw"),
            fingerprint_md5(F.col("text_nfc")).alias("fp_nfc"),
        )
    )

    def dup_docs(fp: str, alias: str) -> DataFrame:
        grp = per_doc.groupBy("lang", fp).agg(F.count("*").alias("_n"))
        return (
            grp.where(F.col("_n") >= 2)
            .groupBy("lang")
            .agg(F.sum("_n").cast("bigint").alias(alias))
        )

    base = per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.col("changed").cast("bigint")).cast("bigint").alias(
            "n_changed"
        ),
    )
    # null-SAFE group joins: groupBy buckets NULL-lang documents into a
    # real group, but an on-names left join never matches that key — the
    # NULL group's duplicate mass would coalesce to 0 and the report
    # would claim Unicode inconsistency hides nothing there (r14
    # null-unsafe-join audit; regression-tested with a planted NULL
    # group)
    def nullsafe_left(left: DataFrame, right: DataFrame) -> DataFrame:
        r = right.select(
            F.col("lang").alias("_g"),
            *[c for c in right.columns if c != "lang"],
        )
        return left.join(
            r, left["lang"].eqNullSafe(F.col("_g")), "left"
        ).drop("_g")

    return (
        nullsafe_left(
            nullsafe_left(base, dup_docs("fp_raw", "n_dup_docs_raw")),
            dup_docs("fp_nfc", "n_dup_docs_nfc"),
        )
        .select(
            "lang", "n_docs", "n_changed",
            F.coalesce("n_dup_docs_raw", F.lit(0)).cast("bigint").alias(
                "n_dup_docs_raw"
            ),
            F.coalesce("n_dup_docs_nfc", F.lit(0)).cast("bigint").alias(
                "n_dup_docs_nfc"
            ),
        )
        .orderBy("lang")
    )
