"""operators/videofp.py — video fingerprint near-dup (staged r13 for an
r14 registry face): planted trimmed-copy recovery with temporal
alignment, the stock-frame false-pair rejection, the df-cap exclusion,
the DuckDB full replay over the synth corpus, and the pure-map plan gate."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pipeline_calculator_v3_spark.operators.multimodal import (
    pack_blob,
    synth_media,
)
from pipeline_calculator_v3_spark.operators.videofp import (
    video_dup_pairs,
    video_frame_hashes,
)

# the registry must finish loading BEFORE any queries_* module imports
import pipeline_calculator_v3_spark.queries  # noqa: E402,F401
from pipeline_calculator_v3_spark.queries_multimodal import (  # noqa: E402
    _PAYLOAD_BYTES_CTE,
)

W, H = 16, 8
FRAME = W * H  # 128 bytes per frame


def _frame(seed: int) -> bytes:
    rng = np.arange(FRAME, dtype=np.int64)
    return bytes(((rng * (2 * seed + 3) + seed * 7) % 251).astype(np.uint8))


def _video(frames: list[bytes]) -> bytearray:
    return bytearray(pack_blob(W, H, 1, b"".join(frames)))


@pytest.fixture(scope="module")
def planted(spark):
    f = [_frame(i) for i in range(10)]
    black = bytes(FRAME)  # the stock frame: all zeros, hashes identically
    rows = [
        (1, _video([f[0], f[1], f[2], f[3], f[4]])),
        (2, _video([f[1], f[2], f[3], f[4]])),      # head-trimmed copy of 1
        (3, _video([f[5], f[6], f[7], f[8]])),      # unrelated
        (4, _video([f[9], f[1], f[6], black])),     # shares ONE frame each
        (5, bytearray(b"not a pcv3 blob")),         # malformed: no rows
    ]
    return spark.createDataFrame(rows, "media_id long, content binary")


def test_frame_hashes_shape(planted):
    rows = video_frame_hashes(planted).collect()
    per = {}
    for r in rows:
        per.setdefault(r.media_id, []).append(r.frame_index)
        assert 0 <= r.fh_hi < 2 ** 32 and 0 <= r.fh_lo < 2 ** 32
    assert sorted(per[1]) == [0, 1, 2, 3, 4]
    assert sorted(per[2]) == [0, 1, 2, 3]
    assert 5 not in per  # malformed blob contributes nothing


def test_trimmed_copy_aligns(planted):
    pairs = {
        (r.id_a, r.id_b): (r.aligned, r.offset)
        for r in video_dup_pairs(
            video_frame_hashes(planted), min_aligned=3
        ).collect()
    }
    # video 2 = video 1 minus its head frame: frames f1..f4 match at a
    # CONSISTENT delta of -1 (frame k of video 1 is frame k-1 of video 2)
    assert pairs == {(1, 2): (4, -1)}


def test_stock_frame_does_not_pair(planted):
    # video 4 shares one frame with 1/2 (f1) and one with 3 (f6): below
    # min_aligned, and the matches disagree on delta anyway
    pairs = video_dup_pairs(video_frame_hashes(planted), min_aligned=2)
    ids = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert all(4 not in p for p in ids)


def test_every_k_sampling(planted):
    rows = video_frame_hashes(planted, every_k=2).collect()
    per = {}
    for r in rows:
        per.setdefault(r.media_id, []).append(r.frame_index)
    assert sorted(per[1]) == [0, 2, 4]


def test_repeated_frame_votes_once_per_delta(spark):
    # ONE stock frame repeated at arithmetic positions in two otherwise
    # unrelated videos: positions {0,2,4} vs {1,3,5} give THREE match
    # rows at delta=1 — a raw row count would report aligned=3 and pair
    # them (advice r13); the distinct-hash vote counts the single shared
    # frame content once, so the pair dies below min_aligned=2.
    s = _frame(42)
    f = [_frame(i) for i in range(10)]
    rows = [
        (1, _video([s, f[0], s, f[1], s, f[2]])),
        (2, _video([f[3], s, f[4], s, f[5], s])),
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    frames = video_frame_hashes(media)
    assert video_dup_pairs(frames, min_aligned=2).count() == 0
    got = video_dup_pairs(frames, min_aligned=1).collect()
    assert [(r.id_a, r.id_b, r.aligned) for r in got] == [(1, 2, 1)]


def test_df_cap_excludes_hot_hash(spark):
    f = [_frame(i) for i in range(6)]
    black = bytes(FRAME)
    # black frame in EVERY video; videos 1/2 also share 3 real frames
    rows = [
        (1, _video([black, f[0], f[1], f[2]])),
        (2, _video([black, f[0], f[1], f[2]])),
        (3, _video([black, f[3], f[4]])),
        (4, _video([black, f[5]])),
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    frames = video_frame_hashes(media)
    pairs = {
        (r.id_a, r.id_b): (r.aligned, r.offset)
        for r in video_dup_pairs(
            frames, min_aligned=3, hash_df_cap=3
        ).collect()
    }
    # the capped black frame no longer links 3/4 to anything; 1/2 still
    # pair on their three real frames (the black frame does NOT count)
    assert pairs == {(1, 2): (3, 0)}


def test_matches_duckdb_replay(spark, duck, sf_dir):
    """Full pipeline replay: DuckDB re-derives every payload byte from
    the text hex, every sampled byte, every hash bit, and the alignment
    vote — equal output proves the whole binary round trip."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = synth_media(docs).select("media_id", "content")
    # trimmed copies drop the FIRST frame (width = n_chars % 64 + 1,
    # height 8 -> frame bytes = (n_chars % 64 + 1) * 8; header is 16 B)
    trimmed = (
        media.join(docs.select(F.col("doc_id").alias("media_id"), "n_chars"),
                   "media_id")
        .where(F.col("media_id") % 5 == 0)
        .select(
            (F.col("media_id") + 10_000_000).alias("media_id"),
            F.expr(
                "concat(substring(content, 1, 16), "
                "substring(content, 17 + ((n_chars % 64) + 1) * 8, "
                "2147483647))"
            ).alias("content"),
        )
    )
    frames = video_frame_hashes(media.unionByName(trimmed))
    got = sorted(
        (r.id_a, r.id_b, r.aligned, r.offset)
        for r in video_dup_pairs(frames, min_aligned=2).collect()
    )
    oracle = f"""
WITH corpus AS (
    SELECT doc_id, text, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 10000000, text, n_chars
    FROM documents WHERE doc_id % 5 = 0
),
m AS (
    SELECT doc_id, hex(encode(text)) AS h,
           CAST(octet_length(encode(text)) AS BIGINT)
           - CASE WHEN doc_id >= 10000000
                  THEN ((n_chars % 64) + 1) * 8 ELSE 0 END AS n,
           CAST((n_chars % 64 + 1) * 8 AS BIGINT) AS frame,
           CASE WHEN doc_id >= 10000000
                THEN ((n_chars % 64) + 1) * 8 ELSE 0 END AS skip
    FROM corpus
),
bytes AS (
    SELECT doc_id, n, frame, i,
           (strpos('0123456789ABCDEF',
                   substr(h, CAST(2 * (i + skip) + 1 AS INT), 1)) - 1) * 16
         + (strpos('0123456789ABCDEF',
                   substr(h, CAST(2 * (i + skip) + 2 AS INT), 1)) - 1) AS b
    FROM (SELECT doc_id, h, n, frame, skip, unnest(range(n)) AS i FROM m)
),
vids AS (SELECT doc_id, frame, n // frame AS nf FROM m WHERE frame > 0),
fidx AS (SELECT doc_id, frame, unnest(range(nf)) AS f FROM vids),
samples AS (
    SELECT fi.doc_id, fi.f, j.j, b.b AS s
    FROM fidx fi
    CROSS JOIN (SELECT unnest(range(64)) AS j) j
    JOIN bytes b ON b.doc_id = fi.doc_id
              AND b.i = fi.f * fi.frame + (j.j * fi.frame) // 64
),
sums AS (SELECT doc_id, f, SUM(s) AS tot FROM samples GROUP BY 1, 2),
bits AS (
    SELECT s.doc_id, s.f, s.j,
           CASE WHEN 64 * s.s > t.tot THEN 1 ELSE 0 END AS bit
    FROM samples s JOIN sums t ON t.doc_id = s.doc_id AND t.f = s.f
),
fh AS (
    SELECT doc_id, f,
           CAST(SUM(CASE WHEN j >= 32 THEN bit * (1::BIGINT << (j - 32))
                    ELSE 0 END) AS BIGINT) AS fh_hi,
           CAST(SUM(CASE WHEN j < 32 THEN bit * (1::BIGINT << j)
                    ELSE 0 END) AS BIGINT) AS fh_lo
    FROM bits GROUP BY 1, 2
),
counts AS (
    SELECT fh_hi, fh_lo FROM fh
    GROUP BY 1, 2 HAVING COUNT(DISTINCT doc_id) > 64
),
cand AS (
    SELECT fh.* FROM fh ANTI JOIN counts
      ON fh.fh_hi = counts.fh_hi AND fh.fh_lo = counts.fh_lo
),
matches AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, b.f - a.f AS delta,
           a.fh_hi, a.fh_lo
    FROM cand a JOIN cand b
      ON a.fh_hi = b.fh_hi AND a.fh_lo = b.fh_lo
     AND a.doc_id < b.doc_id
),
per_delta AS (
    SELECT id_a, id_b, delta,
           CAST(COUNT(DISTINCT fh_hi || ':' || fh_lo) AS BIGINT) AS n
    FROM matches GROUP BY 1, 2, 3
),
best AS (
    SELECT id_a, id_b, n AS aligned, delta AS "offset",
           row_number() OVER (PARTITION BY id_a, id_b
                              ORDER BY n DESC, delta ASC) AS rn
    FROM per_delta
)
SELECT id_a, id_b, aligned, "offset" FROM best
WHERE rn = 1 AND aligned >= 2
"""
    want = sorted(tuple(map(int, r)) for r in duck.execute(oracle).fetchall())
    assert got == want and len(want) >= 1


def test_frame_hash_pass_is_pure_map(planted):
    plan = (
        video_frame_hashes(planted)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "MapInPandas" in plan
