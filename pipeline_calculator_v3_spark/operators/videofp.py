"""Video fingerprinting — near-duplicate detection for the VIDEO
modality, completing the four-modality dedup matrix (text: exact /
MinHash / SimHash / winnowing; image: aHash; audio: frame
gradients; video: this): a re-encoded, re-containered, or TRIMMED copy
of the same footage has different bytes and no text, but the same
per-frame visual fingerprints at a consistent temporal offset.

The classic shape (content-ID systems): hash every sampled frame to a
compact code, match videos by EXACT shared frame hashes, then require
TEMPORAL CONSISTENCY — matches must agree on one frame-offset delta, so
a pair of unrelated videos sharing one stock frame does not pair, while
a copy with k frames trimmed off the head still aligns perfectly at
delta = -k.  Deterministic integer-only spellings so the DuckDB oracle
replays every bit (tests/test_videofp.py):

- frame hash = the aHash rule applied to the frame's payload bytes:
  sample 64 bytes at integer positions ``(j * frame_len) // 64``,
  threshold ``64 * sample > sum_of_64_samples``, pack as two
  non-negative BIGINTs (rows of 8 bits; bits 0-31 -> ``fh_lo``,
  32-63 -> ``fh_hi``) — the operators/phash.py contract;
- matching = equi-join on the exact (fh_hi, fh_lo) pair (no banding:
  frame hashes either match or don't — near-dup robustness comes from
  needing only ``min_aligned`` of MANY frames to survive), then one
  aggregate per (pair, delta) and a struct-max argmax for the best
  alignment;
- skew control = the winnowing df-cap move: a frame hash present in
  more than ``hash_df_cap`` distinct videos (black frames, title cards,
  test patterns) is excluded from pair generation — the hot key would
  otherwise drive O(n^2) pairs through one join bucket at corpus scale.

Blobs are the synthetic PCV3 container (operators/multimodal.py) —
real video codecs are outside this container's library set (SURVEY §6);
the Spark-side mechanics (binary Arrow batches, per-frame fan-out,
pair aggregation) are the 100 TB-real part.  Staged r13 for an r14
registry face.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..shipping import ensure_pkg_shipped

FRAME_HASH_SCHEMA = (
    "media_id bigint, frame_index bigint, fh_hi bigint, fh_lo bigint"
)


def video_frame_hashes(media: DataFrame, every_k: int = 1) -> DataFrame:
    """64-bit fingerprint per sampled frame of each PCV3 video blob.

    Returns (``media_id``, ``frame_index``, ``fh_hi``, ``fh_lo``) for
    every ``every_k``-th frame.  Malformed/short blobs contribute no
    rows (the sample_frames rule — a frameless video has nothing to
    match).  One Arrow map pass, zero shuffles; only (id, index, two
    BIGINTs) rows ever reach an exchange — the video bytes themselves
    never do."""
    import struct

    from .multimodal import HEADER_FMT, HEADER_SIZE, MAGIC

    if every_k < 1:
        raise ValueError("every_k must be >= 1")
    ensure_pkg_shipped(media.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    mid = int(mid)
                except (TypeError, ValueError):
                    continue
                blob = bytes(content) if content is not None else b""
                if len(blob) < HEADER_SIZE or blob[:4] != MAGIC:
                    continue
                _, w, h, c = struct.unpack(HEADER_FMT, blob[:HEADER_SIZE])
                payload = np.frombuffer(blob[HEADER_SIZE:], dtype=np.uint8)
                frame = w * h * c
                if frame <= 0:
                    continue
                idx = (np.arange(64, dtype=np.int64) * frame) // 64
                weights = 1 << (
                    (np.arange(4)[:, None] * 8) + np.arange(8)[None, :]
                )
                for fi in range(0, len(payload) // frame, every_k):
                    smp = payload[fi * frame:(fi + 1) * frame][idx].astype(
                        np.int64
                    )
                    bits = (64 * smp > smp.sum()).astype(np.int64)
                    bits = bits.reshape(8, 8)
                    lo = int((bits[:4] * weights).sum())
                    hi = int((bits[4:] * weights).sum())
                    rows.append((mid, fi, hi, lo))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_index", "fh_hi", "fh_lo"],
            )

    return media.mapInPandas(gen, FRAME_HASH_SCHEMA)


def video_dup_pairs(
    frames: DataFrame,
    min_aligned: int = 3,
    hash_df_cap: int = 64,
) -> DataFrame:
    """Near-duplicate video pairs by temporally-consistent frame matches.

    Returns (``id_a``, ``id_b``, ``aligned`` BIGINT, ``offset`` BIGINT)
    with id_a < id_b: ``aligned`` is the largest number of DISTINCT
    shared frame hashes agreeing on ONE frame-offset delta (``offset`` =
    frame_index_b - frame_index_a of that best alignment; ties break to
    the smallest delta for determinism), and only pairs with
    ``aligned >= min_aligned`` survive.  Frame hashes in more than
    ``hash_df_cap`` videos are excluded first (module docstring).

    Scale shape: the join is an equi-join on the 64-bit frame hash with
    every bucket bounded by the df-cap (<= C(cap,2) pairs per hash);
    the alignment vote is two hash aggregates over (pair, delta) rows —
    nothing quadratic in corpus size anywhere."""
    if min_aligned < 1:
        raise ValueError("min_aligned must be >= 1")
    if hash_df_cap < 1:
        raise ValueError("hash_df_cap must be >= 1")
    hot = (
        frames.groupBy("fh_hi", "fh_lo")
        .agg(F.countDistinct("media_id").alias("_nv"))
        .where(F.col("_nv") > hash_df_cap)
    )
    cand = frames.join(
        F.broadcast(hot.select("fh_hi", "fh_lo")),
        ["fh_hi", "fh_lo"],
        "left_anti",
    )
    a, b = cand.alias("a"), cand.alias("b")
    matches = (
        a.join(b, ["fh_hi", "fh_lo"])
        .where(F.col("a.media_id") < F.col("b.media_id"))
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            (F.col("b.frame_index") - F.col("a.frame_index")).alias("delta"),
            "fh_hi", "fh_lo",
        )
    )
    # the vote counts DISTINCT frame-hash values per (pair, delta), not
    # match rows: a frame repeated within both videos (static scene /
    # title card that survives the df-cap) otherwise matches the same
    # delta once per repetition pair, inflating `aligned` quadratically
    # and letting two unrelated videos pass min_aligned on ONE shared
    # frame — the false-positive class the vote exists to prevent
    # (advice r13).  min_aligned now means "distinct shared frame
    # CONTENTS agreeing on one offset".
    per_delta = matches.groupBy("id_a", "id_b", "delta").agg(
        F.countDistinct("fh_hi", "fh_lo").alias("n")
    )
    best = per_delta.groupBy("id_a", "id_b").agg(
        F.max(F.struct(F.col("n"), (-F.col("delta")).alias("_nd"))).alias(
            "_best"
        )
    )
    return (
        best.select(
            "id_a", "id_b",
            F.col("_best.n").cast("bigint").alias("aligned"),
            (-F.col("_best._nd")).cast("bigint").alias("offset"),
        )
        .where(F.col("aligned") >= min_aligned)
    )
