"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata.

The container has no image/audio libraries (brief: STUB the decode behind a
clearly-marked gate and make the Spark-side plumbing real).  Everything here
exercises the actual 100 TB mechanics — binary columns through Arrow batches,
mapInPandas batch iteration, schema'd struct outputs, partition-preserving
per-row transforms — against a deterministic synthetic media format:

    PCV3 media blob = header ``<magic 4s><width I><height I><channels I>``
    (little-endian) + payload bytes (one byte per "pixel", frames
    concatenated for "video").

``decode_with_real_codec`` decodes a REAL format — PNG, via the pure-stdlib
codec in operators/pngcodec.py (the r04 stub is gone; no PIL needed).
``decode_media`` / ``byte_histogram_features`` / ``sample_frames`` do real
byte-level work over the synthetic PCV3 format and are fully tested.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..shipping import ensure_pkg_shipped

MAGIC = b"PCV3"
# plain format string + size: struct.Struct instances are not cloudpickle-able
# and mapInPandas closures capture module globals by value
HEADER_FMT = "<4sIII"
HEADER_SIZE = struct.calcsize(HEADER_FMT)

DECODE_SCHEMA = (
    "media_id bigint, kind string, width bigint, height bigint, "
    "channels bigint, n_frames bigint, payload_bytes bigint, "
    "mean_byte double, valid boolean"
)
FEATURE_SCHEMA = "media_id bigint, features array<float>"
FRAME_SCHEMA = "media_id bigint, frame_index bigint, frame_mean double"


def pack_blob(width: int, height: int, channels: int, payload: bytes) -> bytes:
    return struct.pack(HEADER_FMT, MAGIC, width, height, channels) + payload


def synth_media(docs: DataFrame) -> DataFrame:
    """Deterministic media table from `documents`: the text bytes become the
    payload; dimensions derive from n_chars.  (Stand-in for reading real
    object-store blobs with spark.read.format('binaryFile').)"""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.concat(
            F.lit(MAGIC),
            # little-endian uint32 header fields via bit slicing
            _le32(F.pmod(F.col("n_chars"), F.lit(64)) + 1),   # width
            _le32(F.lit(8)),                                   # height
            _le32(F.lit(1)),                                   # channels
            F.encode("text", "utf-8"),
        ).alias("content"),
    )


def _le32(col):
    """uint32 -> 4 little-endian bytes as BINARY (JVM-side: hex + unhex)."""
    bs = [
        F.lpad(F.hex(F.pmod(F.shiftright(col.cast("long"), 8 * i), F.lit(256))), 2, "0")
        for i in range(4)
    ]
    return F.unhex(F.concat(*bs))


def decode_media(media: DataFrame) -> DataFrame:
    """Parse headers + payload stats per blob (real byte work, mapInPandas)."""
    ensure_pkg_shipped(media.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, content in zip(pdf["media_id"], pdf["kind"], pdf["content"]):
                # NULL blob (review r06: bytes(None) raised TypeError and
                # killed the job) degrades to a valid=false row like every
                # other malformed input
                blob = bytes(content) if content is not None else b""
                ok = len(blob) >= HEADER_SIZE and blob[:4] == MAGIC
                if ok:
                    _, w, h, c = struct.unpack(HEADER_FMT, blob[:HEADER_SIZE])
                    payload = np.frombuffer(blob[HEADER_SIZE:], dtype=np.uint8)
                    frame = max(w * h * c, 1)
                    rows.append(
                        (int(mid), kind, w, h, c, len(payload) // frame,
                         len(payload), float(payload.mean()) if len(payload) else 0.0,
                         True)
                    )
                else:
                    rows.append((int(mid), kind, 0, 0, 0, 0, len(blob), 0.0, False))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "width", "height", "channels",
                         "n_frames", "payload_bytes", "mean_byte", "valid"],
            )

    return media.mapInPandas(gen, DECODE_SCHEMA)


def byte_histogram_features(media: DataFrame) -> DataFrame:
    """Feature extraction: normalized byte histogram as array<float> — the
    shape of an embedding pipeline (decode -> fixed-size vector)."""
    ensure_pkg_shipped(media.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                # magic/header validation like decode_media/sample_frames
                # (review r06: a FOREIGN blob — wrong magic, real length —
                # silently produced a plausible histogram over garbage
                # bytes, and NULL content crashed).  Every invalid blob
                # now yields the ZERO vector, the module's established
                # invalid signal (valid features sum to 1.0, invalid to
                # 0.0 — already pinned for short blobs by
                # tests/test_multimodal.py).
                blob = bytes(content) if content is not None else b""
                if len(blob) < HEADER_SIZE or blob[:4] != MAGIC:
                    hist = np.zeros(16, dtype=np.int64)
                else:
                    payload = np.frombuffer(blob[HEADER_SIZE:], dtype=np.uint8)
                    hist, _ = np.histogram(payload, bins=16, range=(0, 256))
                total = max(hist.sum(), 1)
                ids.append(int(mid))
                feats.append((hist / total).astype(np.float32))
            yield pd.DataFrame({"media_id": ids, "features": feats})

    return media.mapInPandas(gen, FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_k: int = 4) -> DataFrame:
    """Video frame sampling: 1 row per k-th frame with its mean byte value
    (1 blob -> N rows, the UDTF shape again)."""
    ensure_pkg_shipped(media.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(content) if content is not None else b""
                if len(blob) < HEADER_SIZE or blob[:4] != MAGIC:
                    continue
                _, w, h, c = struct.unpack(HEADER_FMT, blob[:HEADER_SIZE])
                payload = np.frombuffer(blob[HEADER_SIZE:], dtype=np.uint8)
                frame = max(w * h * c, 1)
                for fi in range(0, len(payload) // frame, every_k):
                    rows.append(
                        (int(mid), fi, float(payload[fi * frame:(fi + 1) * frame].mean()))
                    )
            yield pd.DataFrame(rows, columns=["media_id", "frame_index", "frame_mean"])

    return media.mapInPandas(gen, FRAME_SCHEMA)


PNG_DECODE_SCHEMA = (
    "media_id bigint, width bigint, height bigint, channels bigint, "
    "mean_px double, valid boolean"
)


def synth_png_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-format media table from `documents`: each doc's
    utf-8 bytes become the pixels of an 8-row grayscale PNG (width from
    n_chars, truncated/zero-padded to fill), encoded executor-side with the
    stdlib codec (operators/pngcodec.py).  PNG packing needs zlib, so unlike
    synth_media's JVM-side header concat this runs through mapInPandas —
    which is exactly how a real pipeline would transcode blobs anyway."""
    from .pngcodec import encode_png

    ensure_pkg_shipped(docs.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for did, text, n_chars in zip(
                pdf["doc_id"], pdf["text"], pdf["n_chars"]
            ):
                w, h = int(n_chars) % 64 + 1, 8
                px = np.zeros(w * h, dtype=np.uint8)
                raw = text.encode("utf-8")[: w * h]
                px[: len(raw)] = np.frombuffer(raw, dtype=np.uint8)
                ids.append(int(did))
                blobs.append(encode_png(px.reshape(h, w)))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    return docs.select("doc_id", "text", "n_chars").mapInPandas(
        gen, "media_id bigint, content binary"
    )


def decode_with_real_codec(media: DataFrame) -> DataFrame:
    """Real image decode over a REAL format: the pure-stdlib PNG codec
    (operators/pngcodec.py — zlib inflate, CRC'd chunks, all five scanline
    filters) replaces the r04 NotImplementedError stub.  Same Spark
    plumbing as decode_media (binary through Arrow batches, mapInPandas);
    malformed blobs degrade to valid=false rows instead of failing the
    task — PERMISSIVE semantics, matching the KML source."""
    from .pngcodec import decode_png

    ensure_pkg_shipped(media.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    a = decode_png(bytes(content))
                    h, w = a.shape[:2]
                    c = 1 if a.ndim == 2 else a.shape[2]
                    rows.append((int(mid), w, h, c, float(a.mean()), True))
                except Exception:  # zlib.error / struct.error / ValueError
                    rows.append((int(mid), 0, 0, 0, 0.0, False))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "channels",
                         "mean_px", "valid"],
            )

    return media.mapInPandas(gen, PNG_DECODE_SCHEMA)


WAV_FEATURES_SCHEMA = (
    "media_id bigint, sample_rate bigint, n_samples bigint, "
    "duration_s double, peak_abs bigint, rms double, "
    "n_zero_cross bigint, valid boolean"
)


def _wav_samples(did: int) -> "np.ndarray":
    """The shared doc_id -> PCM16 derivation every WAV face and oracle
    replays: ``s_k = (doc_id*7919 + k*104729) % 65536 - 32768`` over
    ``n = 64 + doc_id % 64`` samples.  ONE spelling — the synth and the
    shifted-plant generators must never desynchronize (review r13)."""
    n = 64 + did % 64
    k = np.arange(n, dtype=np.int64)
    return ((did * 7919 + k * 104729) % 65536 - 32768).astype(np.int16)


def synth_wav_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-format AUDIO table from `documents`: per doc a
    mono PCM16 WAV (operators/wavcodec.py) whose samples come from pure
    integer arithmetic (:func:`_wav_samples`) at ``rate = 8000 +
    (doc_id % 4) * 4000`` — so every downstream feature replays exactly in
    ANSI SQL (the synth_png_media move applied to audio).  Encoded
    executor-side through mapInPandas, like any real transcode."""
    from .wavcodec import encode_wav

    ensure_pkg_shipped(docs.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                rate = 8000 + (did % 4) * 4000
                ids.append(did)
                blobs.append(encode_wav(_wav_samples(did), rate))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    return docs.select("doc_id").mapInPandas(
        gen, "media_id bigint, content binary"
    )


def synth_wav_media_shifted(docs: DataFrame, shift: int) -> DataFrame:
    """Transcoded COPIES of :func:`synth_wav_media` blobs: the SAME PCM16
    samples (:func:`_wav_samples`, still derived from ``doc_id``), a
    fresh ``media_id = doc_id + shift``, and a container sample rate
    (22050) the base generator can never emit (its rates are 8000 +
    (doc_id%4)*4000, i.e. {8000, 12000, 16000, 20000} — 16000 would have
    made a quarter of the plants byte-IDENTICAL, review r13) — the re-encoded
    duplicate byte-exact dedup cannot catch (different bytes, identical
    acoustics).  The audio sibling of q_phash_image_dedup's shifted-id
    PNG plant."""
    from .wavcodec import encode_wav

    ensure_pkg_shipped(docs.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                ids.append(did + shift)
                blobs.append(encode_wav(_wav_samples(did), 22050))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    return docs.select("doc_id").mapInPandas(
        gen, "media_id bigint, content binary"
    )


def decode_wav_features(media: DataFrame) -> DataFrame:
    """Real audio decode over a REAL format: chunk-walked RIFF/PCM16 parse
    (operators/wavcodec.py), then the features an audio-curation pass
    filters on — duration, peak, RMS, zero-crossing count (the cheap
    silence/clipping/noisiness proxies).  Malformed blobs degrade to
    valid=false rows (PERMISSIVE, like decode_with_real_codec).

    Integer-exact feature math: peak/crossings are integers, RMS is
    ``sqrt(int64_sum_of_squares / n)`` — one exact rational under sqrt, so
    the SQL replay (tests/test_wavcodec.py carries the intended r11/r12
    oracle) agrees to the last bit, not to a tolerance.  Zero-crossing
    sign convention: ``s >= 0`` counts as positive (integer-exact on both
    engines; no float sign tricks)."""
    from .wavcodec import decode_wav

    ensure_pkg_shipped(media.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    s, rate = decode_wav(bytes(content))
                    if not len(s):
                        raise ValueError("empty audio")
                    v = s.astype(np.int64)
                    pos = v >= 0
                    rows.append((
                        int(mid), rate, len(v),
                        float(len(v) / rate),
                        int(np.abs(v).max()),
                        float(np.sqrt(int((v * v).sum()) / len(v))),
                        int((pos[1:] != pos[:-1]).sum()),
                        True,
                    ))
                except Exception:  # struct.error / ValueError
                    rows.append((int(mid), 0, 0, 0.0, 0, 0.0, 0, False))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "n_samples",
                         "duration_s", "peak_abs", "rms",
                         "n_zero_cross", "valid"],
            )

    return media.mapInPandas(gen, WAV_FEATURES_SCHEMA)
