"""Acoustic fingerprinting — near-duplicate detection for the AUDIO
modality, completing the per-modality dedup matrix (text: exact /
MinHash / SimHash / winnowing; image: aHash / dHash; audio: this): a
re-encoded, resampled-metadata, or gain-adjusted copy of the same
recording has different bytes (exact dedup blind) and no text, but the
same coarse acoustic shape.

The fingerprint is a chromaprint-style 64-bit sketch built ONLY from
integer comparisons so both engines replay it exactly (the aHash
contract applied to audio; staged r12 for an r13 registry face —
tests/test_audiofp.py carries the DuckDB oracle over the synth WAV
corpus, whose PCM16 samples are SQL-derivable from doc_id):

- the sample stream splits into 33 near-equal frames by pure integer
  arithmetic: sample k belongs to frame ``(k * 33) // n``;
- per frame, two integer features: ENERGY (sum of v^2, int64-safe at
  PCM16) and ZERO-CROSSINGS (count of sign flips vs the previous
  sample, ``v >= 0`` convention, the decode_wav_features rule);
- bit f (f in 0..31) of the energy word is ``energy[f] > energy[f+1]``,
  of the crossings word ``zc[f] > zc[f+1]`` — 32 consecutive-frame
  GRADIENT comparisons per feature (the dHash move: gradients survive
  uniform gain changes that shift every absolute level);
- the two 32-bit words pack as non-negative BIGINTs ``fp_lo`` (energy)
  and ``fp_hi`` (crossings).

Matching reuses the banded-Hamming machinery verbatim
(operators/phash.py::ahash_pairs): each word contributes two 16-bit
band keys, candidates share at least one band (an equi-join, never an
all-pairs scan), exact ``bit_count(xor)`` verifies.  Pigeonhole: 4
bands catch every pair within Hamming distance 3.

Decode runs the REAL stdlib RIFF/PCM16 codec (operators/wavcodec.py)
through one Arrow ``mapInPandas`` pass — fingerprinting is a pure map,
zero shuffles; only (id, two BIGINTs) rows ever reach an exchange.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ..shipping import ensure_pkg_shipped

N_FRAMES = 33  # 32 gradient bits per feature word

AUDIOFP_SCHEMA = (
    "media_id bigint, n_samples bigint, fp_hi bigint, fp_lo bigint, "
    "valid boolean"
)


def audio_fingerprint64(media: DataFrame) -> DataFrame:
    """64-bit acoustic fingerprint per WAV blob.

    Returns (``media_id``, ``n_samples``, ``fp_hi``, ``fp_lo``,
    ``valid``) — crossings word in ``fp_hi``, energy word in ``fp_lo``,
    both non-negative BIGINTs.  Blobs shorter than ``N_FRAMES`` samples
    (a frame would be empty, leaving gradient bits undefined) and
    malformed blobs degrade to valid=false rows (PERMISSIVE, the
    decode_media rule)."""
    from .wavcodec import decode_wav

    ensure_pkg_shipped(media.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                # id conversion OUTSIDE the degrade guard: a NULL media_id
                # must not make the except handler itself raise and fail
                # the whole Arrow batch (review r12)
                try:
                    mid = int(mid)
                except (TypeError, ValueError):
                    rows.append((None, 0, 0, 0, False))
                    continue
                try:
                    s, _rate = decode_wav(bytes(content))
                    n = len(s)
                    if n < N_FRAMES:
                        raise ValueError("too short to frame")
                    v = s.astype(np.int64)
                    f = (np.arange(n) * N_FRAMES) // n
                    # int64 accumulation via add.at — bincount's weighted
                    # path sums in float64, which rounds past 2^53 (hours
                    # of 48 kHz audio puts 5e6+ samples in one frame) and
                    # would break the integer-exact SQL-replay contract
                    energy = np.zeros(N_FRAMES, dtype=np.int64)
                    np.add.at(energy, f, v * v)
                    xing = np.concatenate(
                        ([0], ((v[1:] >= 0) != (v[:-1] >= 0)).astype(np.int64))
                    )
                    zc = np.zeros(N_FRAMES, dtype=np.int64)
                    np.add.at(zc, f, xing)
                    w = 1 << np.arange(32, dtype=np.int64)
                    lo = int(((energy[:-1] > energy[1:]) * w).sum())
                    hi = int(((zc[:-1] > zc[1:]) * w).sum())
                    rows.append((mid, n, hi, lo, True))
                except Exception:  # struct.error / ValueError
                    rows.append((mid, 0, 0, 0, False))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_samples", "fp_hi", "fp_lo", "valid"],
            )

    return media.mapInPandas(gen, AUDIOFP_SCHEMA)


def audio_fp_pairs(fps: DataFrame) -> DataFrame:
    """Near-duplicate audio pairs by banded fingerprint matching.

    Returns (``id_a``, ``id_b``, ``hamming`` INT) with id_a < id_b.
    Delegates to the shared banded-Hamming join
    (operators/phash.py::ahash_pairs) on the renamed fingerprint words —
    same completeness contract (exact at hamming <= 3), same
    invalid-rows-never-match rule, same filter-before-distinct plan."""
    from .phash import ahash_pairs

    renamed = fps.select(
        fps["media_id"], "valid",
        fps["fp_hi"].alias("ahash_hi"), fps["fp_lo"].alias("ahash_lo"),
    )
    return ahash_pairs(renamed)
