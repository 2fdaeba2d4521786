"""Golden-value tests for the multimodal operators (VERDICT r02 #6): known
blobs -> exact decode fields, histogram vectors and frame means — replacing
the count()>=0 smoke coverage; plus the real-codec stub contract."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from pipeline_calculator_v3_spark.operators.multimodal import (
    HEADER_SIZE,
    byte_histogram_features,
    decode_media,
    decode_with_real_codec,
    pack_blob,
    sample_frames,
    synth_media,
)

MEDIA_SCHEMA = "media_id bigint, kind string, content binary"


@pytest.fixture(scope="module")
def golden_media(spark):
    # blob 1: 4x2x1 "video", payload = 0,10,20,...,230 (24 bytes, 3 frames)
    payload1 = bytes(range(0, 240, 10))
    # blob 2: 2x2x1 "image", payload = 4 bytes all 255 (1 frame)
    payload2 = bytes([255, 255, 255, 255])
    # blob 3: corrupt (bad magic, too short)
    return spark.createDataFrame(
        [
            (1, "video", bytearray(pack_blob(4, 2, 1, payload1))),
            (2, "image", bytearray(pack_blob(2, 2, 1, payload2))),
            (3, "image", bytearray(b"JUNK")),
        ],
        MEDIA_SCHEMA,
    )


def test_decode_golden(golden_media):
    rows = {r.media_id: r for r in decode_media(golden_media).collect()}
    b1 = rows[1]
    assert (b1.width, b1.height, b1.channels) == (4, 2, 1)
    assert b1.n_frames == 3 and b1.payload_bytes == 24
    assert b1.mean_byte == pytest.approx(np.mean(range(0, 240, 10)))
    assert b1.valid
    b2 = rows[2]
    assert (b2.width, b2.height, b2.n_frames) == (2, 2, 1)
    assert b2.mean_byte == 255.0
    b3 = rows[3]
    assert not b3.valid and b3.payload_bytes == 4 and b3.width == 0


def test_features_golden(golden_media):
    feats = {
        r.media_id: r.features
        for r in byte_histogram_features(golden_media).collect()
    }
    # blob 1: bytes 0..230 step 10 -> bin k (width 16) gets bytes
    # [16k, 16k+16): exact expected histogram, normalized by 24
    expected1, _ = np.histogram(list(range(0, 240, 10)), bins=16, range=(0, 256))
    got1 = np.array(feats[1])
    assert np.allclose(got1, expected1 / 24.0)
    assert got1.sum() == pytest.approx(1.0)
    # blob 2: all four bytes are 255 -> everything in the last bin
    got2 = np.array(feats[2])
    assert got2[15] == 1.0 and got2[:15].sum() == 0.0
    # blob 3: header slice eats the 4 junk bytes -> empty payload, zero vector
    got3 = np.array(feats[3])
    assert got3.sum() == 0.0


def test_frames_golden(golden_media):
    # every_k=1: all 3 frames of blob 1, exact per-frame means
    rows = sorted(
        sample_frames(golden_media.where(F.col("media_id") == 1), every_k=1).collect(),
        key=lambda r: r.frame_index,
    )
    assert [r.frame_index for r in rows] == [0, 1, 2]
    # frame f = bytes 10*(8f)..10*(8f+7): mean = 10*(8f + 3.5)
    for f, r in enumerate(rows):
        assert r.frame_mean == pytest.approx(10 * (8 * f + 3.5))
    # every_k=2 skips frame 1
    sampled = sample_frames(golden_media.where(F.col("media_id") == 1), every_k=2)
    assert sorted(r.frame_index for r in sampled.collect()) == [0, 2]
    # corrupt blobs produce no frame rows (not crashes)
    none = sample_frames(golden_media.where(F.col("media_id") == 3), every_k=1)
    assert none.count() == 0


def test_synth_media_header_matches_pack_blob(spark):
    """The JVM-side header packing (_le32 hex/unhex) must be byte-identical
    to the Python struct.pack reference for the same dimensions."""
    docs = spark.createDataFrame([(6, "hello world", 11)],
                                 "doc_id bigint, text string, n_chars int")
    blob = bytes(synth_media(docs).collect()[0].content)
    width = 11 % 64 + 1
    assert blob == pack_blob(width, 8, 1, b"hello world")
    assert blob[:HEADER_SIZE] == pack_blob(width, 8, 1, b"")


def test_codec_seam_edge_variants(spark):
    """Contract for the real-codec swap-in seam (VERDICT r03 'Next round' #8):
    every header/payload shape a real decoder would see must flow through the
    synthetic path without crashing and with defined semantics — so replacing
    the per-blob kernel cannot silently change the operator envelope."""
    frame8 = bytes(range(8))
    variants = [
        # (id, blob, valid, n_frames) — defined semantics per shape
        (1, pack_blob(4, 2, 1, b""), True, 0),              # header, empty payload
        (2, pack_blob(4, 2, 1, frame8 + b"\x01"), True, 1), # truncated mid-frame
        (3, pack_blob(0, 0, 0, frame8), True, 8),           # zero dims -> frame=1
        (4, pack_blob(100, 100, 3, frame8), True, 0),       # payload < one frame
        (5, pack_blob(4, 2, 1, frame8)[: HEADER_SIZE - 2], False, 0),  # cut header
        (6, b"", False, 0),                                  # empty blob
    ]
    media = spark.createDataFrame(
        [(i, "image", bytearray(b)) for i, b, _, _ in variants], MEDIA_SCHEMA
    )
    decoded = {r.media_id: r for r in decode_media(media).collect()}
    for i, _, valid, n_frames in variants:
        assert decoded[i].valid == valid, f"blob {i} validity"
        if valid:
            assert decoded[i].n_frames == n_frames, f"blob {i} frame count"
    # features: never crash; invalid/empty payloads yield the zero vector
    feats = {r.media_id: np.array(r.features)
             for r in byte_histogram_features(media).collect()}
    assert feats[1].sum() == 0.0 and feats[6].sum() == 0.0
    assert feats[2].sum() == pytest.approx(1.0)  # 9 payload bytes histogrammed
    # frames: partial trailing frame dropped, invalid blobs skipped
    frames = sample_frames(media, every_k=1).collect()
    by_id: dict[int, list] = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r.frame_index)
    assert sorted(by_id.get(2, [])) == [0]      # the one complete frame
    assert sorted(by_id.get(3, [])) == list(range(8))
    assert 4 not in by_id and 5 not in by_id and 6 not in by_id


def test_real_codec_png_roundtrip(spark):
    """The real-codec path (r04 stub, now a pure-stdlib PNG decoder):
    executor-side decode of genuine PNG blobs — dims, channels and exact
    pixel means — with PERMISSIVE degradation for corrupt blobs."""
    from pipeline_calculator_v3_spark.operators.pngcodec import encode_png

    gray = np.arange(40, dtype=np.uint8).reshape(5, 8)
    rgb = np.full((3, 4, 3), 200, dtype=np.uint8)
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_png(gray, filter_type=4))),
            (2, bytearray(encode_png(rgb))),
            (3, bytearray(b"JUNKJUNKJUNK")),
        ],
        "media_id bigint, content binary",
    )
    rows = {r.media_id: r for r in decode_with_real_codec(media).collect()}
    assert (rows[1].width, rows[1].height, rows[1].channels) == (8, 5, 1)
    assert rows[1].mean_px == pytest.approx(np.mean(np.arange(40)))
    assert rows[1].valid
    assert (rows[2].width, rows[2].height, rows[2].channels) == (4, 3, 3)
    assert rows[2].mean_px == 200.0
    assert not rows[3].valid and rows[3].width == 0


def test_synth_png_media_decodes_back_to_text_bytes(spark):
    """End-to-end: documents -> executor-encoded PNG -> decode recovers the
    zero-padded text bytes exactly (the q_multimodal_decode_png contract)."""
    from pipeline_calculator_v3_spark.operators.multimodal import (
        synth_png_media,
    )
    from pipeline_calculator_v3_spark.operators.pngcodec import decode_png

    text = "hello png"  # 9 bytes; n_chars=9 -> width 10, 8 rows, 80 px
    docs = spark.createDataFrame(
        [(7, text, len(text))], "doc_id bigint, text string, n_chars bigint"
    )
    blob = bytes(synth_png_media(docs).collect()[0].content)
    a = decode_png(blob)
    assert a.shape == (8, 10)
    flat = a.flatten()
    assert bytes(flat[:9]) == text.encode()
    assert (flat[9:] == 0).all()


def test_null_content_degrades_not_crashes(spark):
    """Review r06: bytes(None) raised TypeError inside mapInPandas and
    killed the job.  NULL blobs must flow through every operator as
    invalid rows."""
    from pipeline_calculator_v3_spark.operators.multimodal import (
        byte_histogram_features,
        decode_media,
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, "image", None)], "media_id long, kind string, content binary"
    )
    d = decode_media(df).collect()
    assert len(d) == 1 and d[0].valid is False
    f = byte_histogram_features(df).collect()
    assert len(f) == 1 and sum(f[0].features) == 0.0  # zero-vector signal
    assert sample_frames(df).collect() == []
