"""operators/phash.py — perceptual image hashing (staged r11): the
DuckDB oracle replay of the full PNG-encode -> decode -> aHash pipeline
over the synth corpus, planted near-duplicate recovery, banding
completeness at Hamming <= 3 (pigeonhole), malformed-blob degradation,
and the pure-map plan gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipeline_calculator_v3_spark.operators.multimodal import synth_png_media
from pipeline_calculator_v3_spark.operators.phash import ahash64, ahash_pairs

# the registry must finish loading BEFORE any queries_* module is imported
# directly — entering queries_multimodal first leaves it partially
# initialized when queries.py's reorder asserts the full registry
import pipeline_calculator_v3_spark.queries  # noqa: E402,F401
from pipeline_calculator_v3_spark.queries_multimodal import (  # noqa: E402
    _PAYLOAD_BYTES_CTE,
)

# The intended face oracle: pixels re-derived from the document text hex
# (the q_multimodal_decode_png CTE), nearest-neighbor 8x8 sampling on
# integer indices, integer mean-threshold, two BIGINT halves.
AHASH_ORACLE = f"""
WITH {_PAYLOAD_BYTES_CTE},
dims AS (SELECT doc_id, n, frame // 8 AS w FROM m),
cells AS (
    SELECT d.doc_id, r.r, j.j,
           (r.r * d.w + (j.j * d.w) // 8) AS idx
    FROM dims d
    CROSS JOIN (SELECT unnest(range(8)) AS r) r
    CROSS JOIN (SELECT unnest(range(8)) AS j) j
),
sampled AS (
    SELECT c.doc_id, c.r, c.j, COALESCE(b.b, 0) AS s
    FROM cells c
    LEFT JOIN bytes b ON b.doc_id = c.doc_id AND b.i = c.idx
),
bits AS (
    SELECT doc_id, r, j,
           CASE WHEN 64 * s > SUM(s) OVER (PARTITION BY doc_id)
                THEN 1 ELSE 0 END AS bit
    FROM sampled
)
SELECT doc_id AS media_id,
       CAST(SUM(CASE WHEN r >= 4 THEN bit * (1::BIGINT << ((r - 4) * 8 + j))
                ELSE 0 END) AS BIGINT) AS ahash_hi,
       CAST(SUM(CASE WHEN r < 4 THEN bit * (1::BIGINT << (r * 8 + j))
                ELSE 0 END) AS BIGINT) AS ahash_lo
FROM bits GROUP BY doc_id
"""


def test_synth_corpus_matches_duckdb(spark, duck, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r.media_id: (r.ahash_hi, r.ahash_lo)
        for r in ahash64(synth_png_media(docs)).collect()
    }
    want = {
        int(r[0]): (int(r[1]), int(r[2]))
        for r in duck.execute(AHASH_ORACLE).fetchall()
    }
    assert len(got) == len(want) > 100
    assert got == want
    # halves stay non-negative (the two's-complement trap the split avoids)
    assert all(hi >= 0 and lo >= 0 for hi, lo in got.values())


@pytest.fixture(scope="module")
def planted_media(spark):
    # 200-char texts -> w = 200 % 64 + 1 = 9, so the 9x8 image consumes
    # exactly the first 72 bytes (fully filled, no zero-padding
    # degeneracy).  Sampled flat indexes are r*9 + (j*9)//8 = r*9 + j,
    # i.e. the first 8 bytes of each 9-wide row — byte 8 of row 0 (flat
    # index 8) is NOT sampled, so docs 1 and 2 (differing only there)
    # hash identically; doc 3 reverses the byte pattern, flipping which
    # sampled cells sit above the mean.
    base = ("abcdefghi" * 23)[:200]
    tweak = base[:8] + "Z" + base[9:]
    other = ("ihgfedcba" * 23)[:200]
    rows = [(1, base), (2, tweak), (3, other)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", "text", F.length("text").alias("n_chars")
    )
    return synth_png_media(docs)


def test_unsampled_change_is_invisible(planted_media):
    got = {
        r.media_id: (r.ahash_hi, r.ahash_lo, r.width)
        for r in ahash64(planted_media).collect()
    }
    assert got[1][2] == 9
    assert got[1][:2] == got[2][:2]
    assert got[1][:2] != got[3][:2]


def test_planted_pair_recovered(planted_media):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in ahash_pairs(ahash64(planted_media)).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_banding_complete_at_hamming_3(spark):
    # unit-level banding check on hand-built hashes: flip 3 bits spread
    # over three DIFFERENT bands (worst spread short of pigeonhole
    # failure) — the pair MUST be found; 4 bits over all four bands at
    # max_hamming=4 is the documented miss mode.
    h0_hi, h0_lo = 0x12345678, 0x0ABCDEF0
    h3_hi = h0_hi ^ (1 << 1) ^ (1 << 17)   # bands 2 and 3
    h3_lo = h0_lo ^ (1 << 5)               # band 0
    h4_hi = h0_hi ^ (1 << 1) ^ (1 << 17)
    h4_lo = h0_lo ^ (1 << 5) ^ (1 << 21)   # all four bands touched
    rows = [
        (1, h0_hi, h0_lo, True), (2, h3_hi, h3_lo, True),
        (3, h4_hi, h4_lo, True),
    ]
    hashes = spark.createDataFrame(
        rows, "media_id long, ahash_hi long, ahash_lo long, valid boolean"
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in ahash_pairs(hashes, max_hamming=4).collect()
    }
    assert got[(1, 2)] == 3          # pigeonhole-guaranteed
    assert (1, 3) not in got         # 4 flips straddling all 4 bands: missed
    assert got[(2, 3)] == 1          # they share 3 bands, differ by 1 bit


def _brute_pairs(spark, rows, max_hamming=3):
    h = spark.createDataFrame(
        rows, "media_id long, ahash_hi long, ahash_lo long, valid boolean"
    )
    got = (
        h.alias("a")
        .join(h.alias("b"), F.col("a.media_id") < F.col("b.media_id"))
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            (
                F.bit_count(F.col("a.ahash_hi").bitwiseXOR(F.col("b.ahash_hi")))
                + F.bit_count(F.col("a.ahash_lo").bitwiseXOR(F.col("b.ahash_lo")))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    return {(r.id_a, r.id_b, r.hamming) for r in got.collect()}


@pytest.fixture(scope="module")
def skewed_hashes():
    # A saturated-band corpus — the measured r12 scale hazard: EVERY row
    # shares band 3 == 0x0000 (hi < 2^16 not needed: band 3 is hi bits
    # 16-31, so any hi < 65536 saturates it), most also share band 2, and
    # hashes repeat (multiplicity) so the distinct-hash collapse and the
    # identical-hash expansion both engage.  31 rows over 11 distinct
    # hashes; a run of near-identical run-of-ones lo values plants true
    # pairs at Hamming 1-3 INSIDE the hot bucket.
    rows = []
    mid = 0
    for i in range(8):
        lo = (1 << (i + 8)) - 1  # 0xFF, 0x1FF, ..., 0x7FFF: Hamming 1 chain
        for rep in range((i % 3) + 1):
            rows.append((mid, 0, lo, True))
            mid += 1
    rows += [(mid, 17, 0x0FFF0FFF, True), (mid + 1, 17, 0x0FFF0FFE, True),
             (mid + 2, 0x13, 0x0FFF0FFF, False)]  # invalid: never matches
    return rows


@pytest.mark.parametrize("cap", [1, 2, 1 << 30])
def test_recursion_exact_at_any_cap(spark, skewed_hashes, cap):
    """The hot-bucket recursion is EXACT, not best-effort: with every
    group over-cap (cap=1 forces recursion to the structural 2^3 floor)
    the pair set equals brute force at Hamming <= 3."""
    from pipeline_calculator_v3_spark.caching import release_caches

    h = spark.createDataFrame(
        skewed_hashes,
        "media_id long, ahash_hi long, ahash_lo long, valid boolean",
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in ahash_pairs(h, bucket_cap=cap).collect()
    }
    want = _brute_pairs(spark, [r for r in skewed_hashes if r[3]])
    assert got == want and len(want) > 10
    release_caches(spark)


def test_malformed_blob_degrades(spark, planted_media):
    bad = spark.createDataFrame(
        [(99, bytearray(b"not a png"))], "media_id long, content binary"
    )
    rows = {
        r.media_id: r.valid
        for r in ahash64(planted_media.unionByName(bad)).collect()
    }
    assert rows[99] is False and rows[1] is True
    pairs = ahash_pairs(
        ahash64(planted_media.unionByName(bad))
    ).where("id_a = 99 or id_b = 99")
    assert pairs.count() == 0


def test_hash_pass_is_pure_map(planted_media):
    plan = ahash64(planted_media)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan
