"""Perceptual image hashing (average hash) — near-duplicate detection
for the IMAGE modality, the dedup axis every text operator here misses:
re-encoded, renamed, or metadata-stripped copies of the same picture
have different bytes (exact dedup blind) and no text (MinHash/SimHash
blind), but the same 64-bit aHash.

aHash (the classic pHash-family baseline): downsample the grayscale
image to an 8x8 grid, threshold every cell against the grid mean, read
the 64 bits as the fingerprint; near-duplicates are pairs within a small
Hamming distance.  Deterministic spellings so BOTH engines replay it
exactly (tests/test_phash.py carries the DuckDB oracle over the
synth_png_media corpus, whose pixels are SQL-derivable from the
document text — the q_multimodal_decode_png move):

- downsample = NEAREST-NEIGHBOR on integer indices: grid cell (r, j) of
  an h x w image samples pixel (r*h//8, j*w//8) — pure integer
  arithmetic, no interpolation, no float resize;
- threshold = ``64 * sample > sum_of_64_samples`` — the mean compare
  multiplied through, so it stays INTEGER (no division, no float ties);
- the 64 bits pack into TWO non-negative BIGINTs (rows 0-3 -> lo,
  rows 4-7 -> hi, bit index r*8+j within each half) — a single 64-bit
  word would go negative at bit 63 and two's-complement spellings
  differ across engines.

Matching at scale is banded, the SimHash move: each hash splits into
four 16-bit band keys; candidate pairs share at least one band (an
equi-join on (band, key), never an all-pairs scan), then the exact
Hamming distance — bit_count(xor) on both halves — verifies.  By
pigeonhole, 4 bands catch EVERY pair with Hamming distance <= 3
(4 flipped bits can straddle all four bands); larger thresholds are
best-effort recall, the documented LSH trade.

Skew is the scale hazard (measured r12): flat image regions saturate
band keys to 0x0000/0xFFFF, and ONE hot (band, key) bucket held 1663 of
5715 sf0.1 images — candidate pairs through a hot bucket grow
QUADRATICALLY, so at 100x corpus that bucket alone is ~10^10 join rows
through one key, and AQE skew-splitting spreads the sort without
shrinking the O(n^2) pair generation.  :func:`ahash_pairs` therefore
runs adaptive multi-index recursion over DISTINCT hashes:

- members collapse to distinct (hi, lo) first, so identical images
  (multiplicity m) expand to their m*(m-1)/2 Hamming-0 pairs OUTPUT-side
  instead of inflating every bucket's join input;
- any (band, key) group larger than ``bucket_cap`` recurses: its
  members re-band on the 48 not-yet-matched bits split into four
  sub-bands (12/12/12/12, then 9/9/9/9, ...).  Pigeonhole holds at
  every level — a pair within Hamming 3 whose flips all lie in the
  unmatched bits shares at least one of the four sub-bands — so recall
  at max_hamming <= 3 stays EXACT, not best-effort;
- recursion terminates structurally: once fewer than 4 unmatched bits
  remain, a group's members agree on 61+ of 64 bits, so it holds at
  most 2^3 = 8 distinct hashes and all-pairs within it is trivial.
  Every pair-generating group is therefore <= bucket_cap members (or
  <= 8 at the floor) — no single key anywhere produces unbounded pairs.

Decode runs the REAL stdlib PNG codec (operators/pngcodec.py) through
one Arrow ``mapInPandas`` pass — hash extraction is a pure map, zero
shuffles; only (id, two BIGINTs) rows ever reach an exchange.  Staged
r11 for an r12/r13 registry face.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..shipping import ensure_pkg_shipped

AHASH_SCHEMA = (
    "media_id bigint, width int, height int, "
    "ahash_hi bigint, ahash_lo bigint, valid boolean"
)


def ahash64(media: DataFrame) -> DataFrame:
    """64-bit average hash per PNG blob.

    Returns (``media_id``, ``width``, ``height``, ``ahash_hi``,
    ``ahash_lo``, ``valid``) — the hash split into two non-negative
    BIGINT halves (see module docstring).  Malformed blobs degrade to
    valid=false rows (PERMISSIVE, the decode_media rule)."""
    from .pngcodec import decode_png

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
                    rows.append((None, 0, 0, 0, 0, False))
                    continue
                try:
                    a = decode_png(bytes(content))
                    if a.ndim == 3:  # luminance = mean over channels,
                        a = a.mean(axis=2).astype(np.int64)  # floor — int
                    a = a.astype(np.int64)
                    h, w = a.shape
                    rr = (np.arange(8) * h) // 8
                    jj = (np.arange(8) * w) // 8
                    grid = a[np.ix_(rr, jj)]
                    bits = (64 * grid > grid.sum()).astype(np.int64)
                    weights = 1 << (
                        (np.arange(4)[:, None] * 8) + np.arange(8)[None, :]
                    )
                    lo = int((bits[:4] * weights).sum())
                    hi = int((bits[4:] * weights).sum())
                    rows.append((mid, w, h, hi, lo, True))
                except Exception:  # zlib.error / struct.error / ValueError
                    rows.append((mid, 0, 0, 0, 0, False))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height",
                         "ahash_hi", "ahash_lo", "valid"],
            )

    return media.mapInPandas(gen, AHASH_SCHEMA)


def _hash_lt(a, b):
    """Lexicographic (hi, lo) order — the canonical distinct-hash pair
    orientation (a single 64-bit compare would hit the signed-bit trap
    the two-halves split exists to avoid)."""
    return (F.col(f"{a}.ahash_hi") < F.col(f"{b}.ahash_hi")) | (
        (F.col(f"{a}.ahash_hi") == F.col(f"{b}.ahash_hi"))
        & (F.col(f"{a}.ahash_lo") < F.col(f"{b}.ahash_lo"))
    )


def _grp_pairs(members: DataFrame) -> DataFrame:
    """All ordered distinct-hash pairs within each ``grp`` bucket."""
    a, b = members.alias("a"), members.alias("b")
    return a.join(b, "grp").where(_hash_lt("a", "b")).select(
        F.col("a.ahash_hi").alias("hi_a"), F.col("a.ahash_lo").alias("lo_a"),
        F.col("b.ahash_hi").alias("hi_b"), F.col("b.ahash_lo").alias("lo_b"),
    )


def ahash_pairs(
    hashes: DataFrame,
    max_hamming: int = 3,
    bucket_cap: int = 1024,
) -> DataFrame:
    """Near-duplicate image pairs by banded aHash matching.

    Returns (``id_a``, ``id_b``, ``hamming`` INT) with id_a < id_b and
    hamming <= ``max_hamming``.  Complete (no missed pairs) for
    max_hamming <= 3 by pigeonhole over the four 16-bit bands — and the
    guarantee SURVIVES skew: groups larger than ``bucket_cap`` recurse
    through adaptive sub-banding of their unmatched bits instead of
    joining quadratically (module docstring), so no (band, key) hot
    bucket ever drives O(n^2) pair generation.  Above Hamming 3 recall
    is LSH-style best-effort.  Invalid rows never match.

    All recursion frames are metadata-light: rows are (grp STRING, rest
    BIGINT, hi, lo, n) with ``n`` the row's group size, and only members
    of over-cap groups ever enter the next level.

    Lifetime contract (advice r13): unlike most operators this call
    executes EAGERLY (one stats job per recursion level above the
    structural floor, one localCheckpoint per level below the first), and
    the returned DataFrame references persisted/localCheckpoint state that
    stays registered with ``caching`` and does NOT recompute once
    ``caching.release_caches`` drops it — materialize the result
    (collect/write) BEFORE releasing caches, the caching.py contract."""
    if max_hamming < 0:
        raise ValueError("max_hamming must be >= 0")
    if bucket_cap < 1:
        raise ValueError("bucket_cap must be >= 1")
    from ..caching import local_checkpoint_tracked, persist_tracked

    # distinct: duplicate (id, hash) input rows would multiply both the
    # expansion joins and the identical-hash self-join below, emitting
    # duplicated (id_a, id_b, hamming) rows where the contract promises
    # one (advice r13) — one skinny-row exchange buys the guarantee.
    members = persist_tracked(
        hashes.where(F.col("valid")).select(
            F.col("media_id").alias("id"), "ahash_hi", "ahash_lo"
        ).distinct()
    )
    distinct = persist_tracked(
        members.select("ahash_hi", "ahash_lo").distinct()
    )

    # Level 0: four 16-bit bands over the full 64 bits.  `rest` packs the
    # three unmatched bands (48 bits) for the recursion; `grp` is the
    # matched-path key.
    mask16 = F.lit(0xFFFF)
    bands = [
        F.shiftright(
            F.col("ahash_lo" if k < 2 else "ahash_hi"), 16 * (k % 2)
        ).bitwiseAND(mask16)
        for k in range(4)
    ]
    level0 = distinct.select(
        "ahash_hi", "ahash_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.concat(
                            F.lit(f"{k}:"), bands[k].cast("string")
                        ).alias("grp"),
                        sum(
                            (
                                F.shiftleft(bands[j], 16 * pos)
                                for pos, j in enumerate(
                                    jj for jj in range(4) if jj != k
                                )
                            ),
                            F.lit(0),
                        ).alias("rest"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("_b"),
    ).select("ahash_hi", "ahash_lo", "_b.grp", "_b.rest")

    pair_frames = []
    pending = {48: level0}
    while pending:
        width = max(pending)
        # Each row carries its group's size, so a level splits into cold
        # and hot groups with a filter.  A hot-key table joined back by
        # broadcast builds a multi-MB hash relation per level and consumer;
        # at bucket_cap=1 those filled most of an 8 GB driver heap.
        frame = pending.pop(width).withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("grp"))
        )
        # Level 0 (width 48) is one explode away from the persisted
        # distinct set (cheap map-side re-derivation per consumer);
        # checkpointing it would materialize 4N banded rows twice.
        if width < 48:
            # Lineage cut per recursion level: the frontier is metadata-
            # light (hot-group members only), but chained explode+union
            # lineage across levels grows the logical plan super-linearly —
            # at deep recursion the plan string itself OOMs the driver
            # before any data does (measured with bucket_cap=1).  An eager
            # localCheckpoint keeps every level's plan one hop deep, and
            # keeps the window's grp partitioning, so this level's stats,
            # filters and pair self-joins read it without an exchange.
            frame = local_checkpoint_tracked(frame)
        if width < 4:
            # Structural floor: members agree on 64-width >= 61 bits, so a
            # group holds <= 2^3 distinct hashes — all-pairs is trivial
            # regardless of the cap.
            pair_frames.append(_grp_pairs(frame))
            continue
        # ONE aggregate job decides this level's shape: group count
        # (empty frame -> skip) and over-cap count.  Grouping by grp never
        # reads `n`, and neither does the no-hot path's pair join, so at
        # level 0 the optimizer prunes the window from both.
        stats = (
            frame.groupBy("grp").agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.count_if(F.col("c") > bucket_cap).alias("n_hot"),
            )
            .first()
        )
        if stats["n_groups"] == 0:
            continue
        if stats["n_hot"] == 0:
            pair_frames.append(_grp_pairs(frame))
            continue
        pair_frames.append(_grp_pairs(frame.where(F.col("n") <= bucket_cap)))
        hotm = frame.where(F.col("n") > bucket_cap)
        # Recurse: re-band the unmatched `width` bits into four sub-bands
        # (first gets the remainder).  Matching sub-band m removes its
        # bits from `rest`; the new width differs for m=0 when width % 4
        # != 0, so frames merge into `pending` keyed by remaining width.
        base = width // 4
        widths = [width - 3 * base, base, base, base]
        offsets = [0, widths[0], widths[0] + base, widths[0] + 2 * base]
        subs = hotm.select(
            "ahash_hi", "ahash_lo", "grp",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.shiftright(F.col("rest"), offsets[m])
                            .bitwiseAND(F.lit((1 << widths[m]) - 1))
                            .alias("subval"),
                            (
                                F.col("rest").bitwiseAND(
                                    F.lit((1 << offsets[m]) - 1)
                                )
                                + F.shiftleft(
                                    F.shiftright(
                                        F.col("rest"),
                                        offsets[m] + widths[m],
                                    ),
                                    offsets[m],
                                )
                            ).alias("rest"),
                        )
                        for m in range(4)
                    ]
                )
            ).alias("_s"),
        ).select(
            "ahash_hi", "ahash_lo",
            F.concat(
                F.col("grp"), F.lit("/"),
                F.col("_s.m").cast("string"), F.lit(":"),
                F.col("_s.subval").cast("string"),
            ).alias("grp"),
            F.col("_s.m").alias("m"), F.col("_s.rest").alias("rest"),
        )
        for m_sel, new_width in (
            (F.col("m") == 0, width - widths[0]),
            (F.col("m") > 0, width - base),
        ):
            nxt = subs.where(m_sel).drop("m")
            if new_width in pending:
                pending[new_width] = pending[new_width].unionByName(nxt)
            else:
                pending[new_width] = nxt

    # Distinct-hash pair verification: dedup at HASH granularity (a pair
    # can surface from several groups), then the exact Hamming check —
    # both orders of magnitude smaller than the id-pair space.
    cand = pair_frames[0]
    for f in pair_frames[1:]:
        cand = cand.unionByName(f)
    hamming = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    ).alias("hamming")
    # Hamming filter BEFORE the dedup exchange (the r12 lesson): distinct()
    # then only shuffles surviving pairs, and `hamming` is functionally
    # dependent on the hash columns so the dedup key is unchanged.
    cross = (
        cand.select("hi_a", "lo_a", "hi_b", "lo_b", hamming)
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    # Expand hash pairs back to id pairs (multiplicity join), orienting
    # each id pair; plus the Hamming-0 all-pairs inside identical-hash
    # groups — output-bound by construction (they ARE true pairs).
    ma = members.select(
        F.col("id").alias("_ia"),
        F.col("ahash_hi").alias("hi_a"), F.col("ahash_lo").alias("lo_a"),
    )
    mb = members.select(
        F.col("id").alias("_ib"),
        F.col("ahash_hi").alias("hi_b"), F.col("ahash_lo").alias("lo_b"),
    )
    # the _ia != _ib guard restores the strict id_a < id_b contract when
    # an id appears under several hashes (duplicate-id inputs; review r13)
    expanded = (
        cross.join(ma, ["hi_a", "lo_a"])
        .join(mb, ["hi_b", "lo_b"])
        .where(F.col("_ia") != F.col("_ib"))
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "hamming",
        )
    )
    ident = (
        members.alias("a")
        .join(members.alias("b"), ["ahash_hi", "ahash_lo"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    )
    return expanded.unionByName(ident)
