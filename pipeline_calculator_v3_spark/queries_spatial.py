"""Spatial pipeline queries — the reference's core analysis re-expressed
Spark-first (SURVEY.md §2 ops 11-21).

Oracle ground truth is the *cross join* form at sf<=0.01 (tractable for
DuckDB); the Spark plans use the grid-bucket distance join — different
physical strategy, identical semantics, which is exactly what the gate
should prove.  Ops 13-21 are composed from plans/overlap.py's stage
functions, the code the CLI's ``analyze_pipelines`` runs, so the oracle
gates that code and not a copy of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import (
    DEFAULT_DETECTION_RANGE_M,
    MIN_PARALLEL_LENGTH_M,
    SEGMENT_LENGTH_M,
    US_SURVEY_MILE_M,
)
from .functions.geodesy import haversine_sql
from .operators.segmentize import segmentize
from .operators.spatial import distance_self_join
from .plans import synth
from .plans.overlap import (
    bundled_hits,
    bundled_rollup,
    section_stats,
    segment_effective,
    sessionize,
)
from .caching import persist_tracked
from .queries import query, t

_PAIR_DIST = haversine_sql("a.mid_lat", "a.mid_lon", "b.mid_lat", "b.mid_lon")


def _persisted_pairs(seg: DataFrame) -> DataFrame:
    """The distance self-join's key columns, persisted — every caller's
    mirror/explode union reads the frame twice, and unpersisted the grid
    join + haversine recheck would execute once per branch (the
    connected-components edge-pin finding, r08).  Projected first so the
    cache holds only the four key columns, not dist_m.  Shared by
    q_effective_length / q_overlap_rollup here and q_overlap_summary in
    queries_e2e.py (review r08: the block was copy-pasted three times)."""
    return persist_tracked(
        distance_self_join(seg, DEFAULT_DETECTION_RANGE_M).select(
            "p1", "seg1", "p2", "seg2"
        )
    )


# Cross-join ground truth for the distance self-join (the reference's exact
# recheck, src/pipeline_calculator_v3.py:352-361, without the KDTree).
_PAIRS_CTE = f"""
pairs AS (
    SELECT a.pipeline_id AS p1, b.pipeline_id AS p2,
           a.seg_index AS seg1, b.seg_index AS seg2,
           {_PAIR_DIST} AS dist_m
    FROM segments a JOIN segments b
      ON a.pipeline_id < b.pipeline_id
    WHERE {_PAIR_DIST} <= {DEFAULT_DETECTION_RANGE_M!r}
)"""


@query(
    "q_spatial_distance_join",
    oracle=f"""
WITH {synth.SEGMENTS_CTE},
{_PAIRS_CTE}
SELECT p1, p2, seg1, seg2, dist_m FROM pairs
""",
)
def q_spatial_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance self-join (op 12): grid-bucket equi-join + exact haversine
    recheck vs the oracle's brute-force cross join."""
    seg = synth.segments_df(spark, sf_dir)
    return distance_self_join(seg, DEFAULT_DETECTION_RANGE_M).select(
        "p1", "p2", "seg1", "seg2", "dist_m"
    )


@query(
    "q_spatial_polar_join",
    oracle=f"""
WITH {synth.POLAR_SEGMENTS_CTE}
SELECT a.pipeline_id AS p1, b.pipeline_id AS p2,
       a.seg_index AS seg1, b.seg_index AS seg2,
       {_PAIR_DIST} AS dist_m
FROM polar_segments a JOIN polar_segments b
  ON a.pipeline_id < b.pipeline_id
WHERE {_PAIR_DIST} <= {DEFAULT_DETECTION_RANGE_M!r}
""",
)
def q_spatial_polar_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance self-join on the POLAR ladder (r06): every pipeline climbs
    across the 85-deg band/cap boundary, so the brute-force oracle
    independently verifies all three ownership regimes of the polar-cap
    path at once — pure-band pairs on the degree grid, pure-cap pairs on
    the azimuthal-equidistant planar grid, and boundary-straddling pairs
    (cap-owned via the extended-overlap input, emitted exactly once).
    max_abs_lat_deg=None derives the >85 bound from the data and routes.

    Scale shape: identical to q_spatial_distance_join — two grid
    equi-joins (band + cap) unioned, one-side 3x3 neighbor explode,
    AQE-skew-splittable, exact haversine as the only semantic gate."""
    seg = synth.polar_segments_df(spark, sf_dir)
    return distance_self_join(
        seg, DEFAULT_DETECTION_RANGE_M, max_abs_lat_deg=None
    ).select("p1", "p2", "seg1", "seg2", "dist_m")


_SESSIONS_CTE = f"""
ordered AS (
    SELECT p1, p2, seg1, seg2, dist_m,
           CASE WHEN seg1 - lag(seg1) OVER w > 2
                  OR seg2 - lag(seg2) OVER w > 2
                  OR lag(seg1) OVER w IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM pairs
    WINDOW w AS (PARTITION BY p1, p2 ORDER BY seg1, seg2)
),
sessioned AS (
    SELECT *, SUM(is_new) OVER (PARTITION BY p1, p2 ORDER BY seg1, seg2
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS section
    FROM ordered
),
sections AS (
    SELECT p1, p2, CAST(section AS BIGINT) AS section,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           COUNT(*) * {SEGMENT_LENGTH_M!r} AS bundled_length_m,
           COUNT(*) * {SEGMENT_LENGTH_M!r} / {US_SURVEY_MILE_M!r} AS bundled_length_mi,
           AVG(dist_m) AS avg_separation_m,
           MIN(seg1) AS seg1_min, MAX(seg1) AS seg1_max
    FROM sessioned
    GROUP BY p1, p2, section
    HAVING COUNT(*) * {SEGMENT_LENGTH_M!r} >= {MIN_PARALLEL_LENGTH_M!r}
)"""


def _overlap_sections(pairs: DataFrame, *extra_aggs) -> DataFrame:
    """Ops 13-15 over a pair frame with the reference constants: sessions,
    the 200 m HAVING gate, per-section aggregates under the oracle's
    column names — shared by the oracle-gated query and its scale twin."""
    hits = bundled_hits(
        sessionize(pairs), SEGMENT_LENGTH_M, MIN_PARALLEL_LENGTH_M
    )
    stats = section_stats(hits, SEGMENT_LENGTH_M, *extra_aggs)
    return stats.withColumnRenamed("average_separation", "avg_separation_m")


@query(
    "q_parallel_overlap",
    oracle=f"""
WITH {synth.SEGMENTS_CTE},
{_PAIRS_CTE},
{_SESSIONS_CTE}
SELECT * FROM sections
""",
)
def q_parallel_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 12-15,19 end-to-end: distance join -> 2-index gap sessionization
    (signed deltas > 2 break a section, src/pipeline_calculator_v3.py:421-422)
    -> per-section aggregates with the 200 m HAVING gate (:425,429).
    """
    pairs = distance_self_join(
        synth.segments_df(spark, sf_dir), DEFAULT_DETECTION_RANGE_M
    )
    return _overlap_sections(
        pairs, F.min("seg1").alias("seg1_min"), F.max("seg1").alias("seg1_max")
    )


@query(
    "q_effective_length",
    oracle=f"""
WITH {synth.SEGMENTS_CTE},
{_PAIRS_CTE},
neighbors AS (
    SELECT p1 AS p, seg1 AS i, p2 AS o FROM pairs
    UNION ALL
    SELECT p2 AS p, seg2 AS i, p1 AS o FROM pairs
),
k_per_seg AS (
    SELECT p, i, CAST(COUNT(DISTINCT o) + 1 AS BIGINT) AS k
    FROM neighbors GROUP BY p, i
)
SELECT s.pipeline_id,
       CAST(COUNT(*) AS BIGINT) * {SEGMENT_LENGTH_M!r} AS total_m,
       SUM({SEGMENT_LENGTH_M!r} / COALESCE(k.k, 1)) AS effective_m,
       CAST(COUNT(*) AS BIGINT) * {SEGMENT_LENGTH_M!r}
         - SUM({SEGMENT_LENGTH_M!r} / COALESCE(k.k, 1)) AS savings_m
FROM segments s
LEFT JOIN k_per_seg k ON k.p = s.pipeline_id AND k.i = s.seg_index
GROUP BY s.pipeline_id
""",
)
def q_effective_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 21 k-cluster effective length: per segment, k = distinct parallel
    pipelines + 1 (src/pipeline_calculator_v3.py:824-833); attribute len/k
    (:835-837); unmatched segments contribute full length (k=1)."""
    seg = synth.segments_df(spark, sf_dir)
    return segment_effective(seg, _persisted_pairs(seg)).select(
        "pipeline_id",
        F.col("seg_total_m").alias("total_m"),
        F.col("seg_eff_m").alias("effective_m"),
        (F.col("seg_total_m") - F.col("seg_eff_m")).alias("savings_m"),
    )


@query("q_segmentize")  # rows-only: UDTF resampler, oracle impractical
def q_segmentize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 11: Arrow polyline resampler over the synthetic pipelines'
    geometry arrays (rows-only check; unit-tested against closed-form
    geometry in tests/test_segmentize.py)."""
    return segmentize(synth.pipelines_df(spark, sf_dir), SEGMENT_LENGTH_M)


def _segments_xl(spark: SparkSession, sf_dir: str):
    """Uncapped synthetic segment field: GROWS with sf (the oracle-checked
    field caps at 4000 rows for cross-join tractability; this one is the
    scale-stress surface — 150k segments at sf0.1).

    The per-pipeline station index is ARITHMETIC (``o_orderkey DIV 64``), not
    a row_number window: the testdata orderkeys are contiguous from 0, so for
    residue class ``pid = o_orderkey % 64`` the quotient enumerates stations
    densely — same field, zero shuffles.  The previous 64-partition window
    put ~2.3 M rows through single window tasks at sf1 (VERDICT r02 #9)."""
    orders = t(spark, sf_dir, "orders")
    return orders.selectExpr(
        "CAST(o_orderkey % 64 AS BIGINT) AS pipeline_id",
        "CAST(o_orderkey DIV 64 AS BIGINT) AS seg_index",
        f"{synth.LON0} + (o_orderkey % 64) * {synth.DLON} AS mid_lon",
        f"{synth.LAT0} + (o_orderkey DIV 64) * {synth.DLAT} AS mid_lat",
    )


@query("q_spatial_distance_join_xl")  # rows-only: scale-stress variant
def q_spatial_distance_join_xl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance self-join over the full-sf segment field (64 parallel
    pipelines, ~150k segments at sf0.1, ~700k pairs): proves the grid join
    scales with data volume, unlike a driver-side KDTree."""
    return distance_self_join(
        _segments_xl(spark, sf_dir), DEFAULT_DETECTION_RANGE_M
    ).select("p1", "p2", "seg1", "seg2", "dist_m")


@query("q_parallel_overlap_xl")  # rows-only: scale-stress variant
def q_parallel_overlap_xl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full sessionized overlap over the uncapped field."""
    return _overlap_sections(
        distance_self_join(_segments_xl(spark, sf_dir), DEFAULT_DETECTION_RANGE_M)
    )


@query(
    "q_overlap_rollup",
    oracle=f"""
WITH {synth.SEGMENTS_CTE},
{_PAIRS_CTE},
exploded AS (
    SELECT p1 AS pipeline_id, seg1 AS seg FROM pairs
    UNION ALL
    SELECT p2 AS pipeline_id, seg2 AS seg FROM pairs
)
SELECT pipeline_id,
       CAST(COUNT(DISTINCT seg) AS BIGINT) AS bundled_segments,
       COUNT(DISTINCT seg) * {SEGMENT_LENGTH_M!r} AS bundled_length_m,
       COUNT(DISTINCT seg) * {SEGMENT_LENGTH_M!r} / {US_SURVEY_MILE_M!r} AS bundled_length_mi
FROM exploded
GROUP BY pipeline_id
""",
)
def q_overlap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 18: per-pipeline distinct bundled-segment rollup
    (src/pipeline_calculator_v3.py:714-716,748-756) — the set-union of
    bundled segment indices becomes explode + countDistinct."""
    return bundled_rollup(
        _persisted_pairs(synth.segments_df(spark, sf_dir)), SEGMENT_LENGTH_M
    )


# ---------------------------------------------------------------------------
# Z-order layout (operators/zorder.py registry face, r08): the write-time
# data-layout primitive, driver-checked.  Points are spread over the globe
# arithmetically from `orders` (integer formulas shared verbatim with the
# oracle, the synth.py pattern), keyed with the 16-bit Morton interleave,
# and rolled up per coarse tile (top 10 key bits) — exactly the per-file
# statistics a z-clustered write produces for bbox pruning.
# ---------------------------------------------------------------------------
_ZBITS = 16
_ZTILE_SHIFT = 2 * _ZBITS - 10  # top 10 bits -> up to 1024 coarse tiles
_ZPTS_CTE = """
zpts AS (
    SELECT o_orderkey AS k,
           ((o_orderkey * 37) % 18000) / 100.0 - 90.0 AS lat,
           ((o_orderkey * 101) % 36000) / 100.0 - 180.0 AS lon
    FROM orders
)"""


def _zorder_oracle() -> str:
    from .operators.zorder import quantize_sql, zorder_key_sql

    return f"""
WITH {_ZPTS_CTE},
q AS (
    SELECT k, lat, lon,
           {quantize_sql("lat", -90.0, 90.0, _ZBITS)} AS qlat,
           {quantize_sql("lon", -180.0, 180.0, _ZBITS)} AS qlon
    FROM zpts
),
z AS (
    SELECT k, lat, lon, {zorder_key_sql("qlat", "qlon", _ZBITS)} AS zkey
    FROM q
)
SELECT CAST(zkey >> {_ZTILE_SHIFT} AS BIGINT) AS tile,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       MIN(zkey) AS min_z, MAX(zkey) AS max_z,
       ROUND(MIN(lat), 6) AS lat_lo, ROUND(MAX(lat), 6) AS lat_hi,
       ROUND(MIN(lon), 6) AS lon_lo, ROUND(MAX(lon), 6) AS lon_hi
FROM z
GROUP BY tile
"""


@query("q_zorder_layout", oracle=_zorder_oracle())
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys + per-tile layout statistics
    (operators/zorder.py, previously infra-only): quantize lat/lon to
    16-bit cells, interleave into the BIGINT z-key, roll up per coarse
    tile (top 10 bits).  The tile rows ARE the min/max file statistics a
    z-clustered table write produces — the bbox-pruning contract at
    100 TB, value-gated here.

    Scale shape: the key is pure scan-side bit arithmetic inside
    whole-stage codegen (no UDF); the rollup is one hash aggregate with
    map-side combine on a bounded key domain (<= 1024 tiles)."""
    from .operators.zorder import zorder_key

    o = t(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderkey").alias("k"),
        (((F.col("o_orderkey") * 37) % 18000) / 100.0 - 90.0).alias("lat"),
        (((F.col("o_orderkey") * 101) % 36000) / 100.0 - 180.0).alias("lon"),
    )
    z = pts.select(
        "k", "lat", "lon",
        zorder_key(F.col("lat"), F.col("lon"), _ZBITS).alias("zkey"),
    )
    return z.groupBy(
        F.shiftright("zkey", _ZTILE_SHIFT).cast("bigint").alias("tile")
    ).agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.min("zkey").alias("min_z"),
        F.max("zkey").alias("max_z"),
        F.round(F.min("lat"), 6).alias("lat_lo"),
        F.round(F.max("lat"), 6).alias("lat_hi"),
        F.round(F.min("lon"), 6).alias("lon_lo"),
        F.round(F.max("lon"), 6).alias("lon_hi"),
    )


# ---------------------------------------------------------------------------
# bbox-pruned file-skipping scan (r11, VERDICT r10 #6): the consumer of
# q_zorder_layout's tile statistics — the pruning contract the Morton
# layout exists for, demonstrated end-to-end.  The per-tile min/max
# manifest (what a z-clustered table write records as file statistics)
# filters against the query bbox FIRST; only surviving tiles' rows are
# scanned and exact-filtered.  The bbox bounds are integers, so the
# prune predicate compares identical doubles on both engines.
# ---------------------------------------------------------------------------
_PRUNE_LAT_LO, _PRUNE_LAT_HI = 5.0, 30.0
_PRUNE_LON_LO, _PRUNE_LON_HI = -60.0, -15.0


def _zorder_pruned_oracle() -> str:
    from .operators.zorder import quantize_sql, zorder_key_sql

    return f"""
WITH {_ZPTS_CTE},
q AS (
    SELECT k, lat, lon,
           {quantize_sql("lat", -90.0, 90.0, _ZBITS)} AS qlat,
           {quantize_sql("lon", -180.0, 180.0, _ZBITS)} AS qlon
    FROM zpts
),
tiles AS (
    SELECT k, lat, lon,
           CAST({zorder_key_sql("qlat", "qlon", _ZBITS)} >> {_ZTILE_SHIFT}
                AS BIGINT) AS tile
    FROM q
),
manifest AS (
    SELECT tile, MIN(lat) AS lat_lo, MAX(lat) AS lat_hi,
           MIN(lon) AS lon_lo, MAX(lon) AS lon_hi
    FROM tiles GROUP BY tile
),
surviving AS (
    SELECT tile FROM manifest
    WHERE lat_hi >= {_PRUNE_LAT_LO!r} AND lat_lo <= {_PRUNE_LAT_HI!r}
      AND lon_hi >= {_PRUNE_LON_LO!r} AND lon_lo <= {_PRUNE_LON_HI!r}
)
SELECT t.tile,
       CAST(COUNT(*) AS BIGINT) AS n_scanned,
       CAST(SUM(CASE WHEN t.lat >= {_PRUNE_LAT_LO!r}
                      AND t.lat <= {_PRUNE_LAT_HI!r}
                      AND t.lon >= {_PRUNE_LON_LO!r}
                      AND t.lon <= {_PRUNE_LON_HI!r}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
FROM tiles t JOIN surviving USING (tile)
GROUP BY t.tile
"""


@query("q_zorder_pruned_scan", oracle=_zorder_pruned_oracle())
def q_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bbox query over the z-clustered point cloud via file-statistics
    pruning: build the per-tile min/max manifest (the stats a z-ordered
    write produces — q_zorder_layout's output), keep only tiles whose
    box intersects the query bbox, then scan and exact-filter JUST those
    tiles' rows.  Output: per surviving tile, rows scanned vs rows
    matched — the scan-amplification ledger of the pruning decision
    (a tile with n_matched = 0 is pruning's false positive; a tile
    missing from the output was never read at all).

    Scale shape: the manifest is one hash aggregate on a <= 1024-key
    domain and the prune result broadcasts back onto the scan — at
    100 TB the manifest already EXISTS (written at cluster time), so the
    query-time cost is the broadcast semi-join plus reading only the
    surviving tiles' files.  The superset contract (no bbox match ever
    lost to pruning — min/max are true bounds) and the actual skip
    (surviving tiles << 1024) are gated in tests/test_zorder_prune.py."""
    from .operators.zorder import zorder_key

    o = t(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderkey").alias("k"),
        (((F.col("o_orderkey") * 37) % 18000) / 100.0 - 90.0).alias("lat"),
        (((F.col("o_orderkey") * 101) % 36000) / 100.0 - 180.0).alias("lon"),
    )
    # persisted: the manifest pass and the pruned scan both read this
    # frame — unpersisted, the 16-bit Morton interleave (a ~64-term bit
    # expression per row) evaluates twice over the full point cloud
    # (measured 5.7 -> 2.0 s isolated min at sf0.1, release-between-runs
    # methodology).  At 100 TB the manifest already exists (written at
    # cluster time), so caching the keyed scan is the local stand-in for
    # "stats are free at query time".
    from .caching import persist_tracked

    tiles = persist_tracked(
        pts.select(
            "k", "lat", "lon",
            F.shiftright(
                zorder_key(F.col("lat"), F.col("lon"), _ZBITS), _ZTILE_SHIFT
            ).cast("bigint").alias("tile"),
        )
    )
    manifest = tiles.groupBy("tile").agg(
        F.min("lat").alias("lat_lo"), F.max("lat").alias("lat_hi"),
        F.min("lon").alias("lon_lo"), F.max("lon").alias("lon_hi"),
    )
    surviving = manifest.where(
        (F.col("lat_hi") >= _PRUNE_LAT_LO)
        & (F.col("lat_lo") <= _PRUNE_LAT_HI)
        & (F.col("lon_hi") >= _PRUNE_LON_LO)
        & (F.col("lon_lo") <= _PRUNE_LON_HI)
    ).select("tile")
    matched = (
        (F.col("lat") >= _PRUNE_LAT_LO) & (F.col("lat") <= _PRUNE_LAT_HI)
        & (F.col("lon") >= _PRUNE_LON_LO) & (F.col("lon") <= _PRUNE_LON_HI)
    )
    return (
        tiles.join(F.broadcast(surviving), "tile")
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scanned"),
            F.sum(F.when(matched, 1).otherwise(0)).cast("bigint")
            .alias("n_matched"),
        )
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout (operators/hilbert.py, staged r13 — r14 face):
# the locality upgrade over q_zorder_layout's Morton key.  The Hilbert
# curve visits every cell by a unit step, so equal-size key ranges are
# tighter spatial tiles — fewer files overlap a bbox probe and min/max
# stats prune harder (the "liquid clustering" move).  Same synthetic
# globe points as the Morton face, so the two layouts are directly
# comparable; the xy2d transform is a projection CHAIN (a nested Column
# tree hangs Catalyst near bits=8 — module docstring), mirrored by the
# oracle's linear CTE chain.
# ---------------------------------------------------------------------------
_HBITS = 16
_HTILE_SHIFT = 2 * _HBITS - 10  # top 10 bits -> up to 1024 coarse tiles


def _hilbert_oracle() -> str:
    from .operators.hilbert import hilbert_sql_ctes
    from .operators.zorder import quantize_sql

    qlat = quantize_sql("lat", -90.0, 90.0, _HBITS)
    qlon = quantize_sql("lon", -180.0, 180.0, _HBITS)
    chain = hilbert_sql_ctes(qlon, qlat, _HBITS, "zpts")
    return f"""
WITH {_ZPTS_CTE},
{chain}
SELECT CAST(hd >> {_HTILE_SHIFT} AS BIGINT) AS tile,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       MIN(hd) AS min_h, MAX(hd) AS max_h,
       ROUND(MIN(lat), 6) AS lat_lo, ROUND(MAX(lat), 6) AS lat_hi,
       ROUND(MIN(lon), 6) AS lon_lo, ROUND(MAX(lon), 6) AS lon_hi
FROM hfin
GROUP BY tile
"""


@query("q_hilbert_layout", oracle=_hilbert_oracle())
def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert clustering keys + per-tile layout statistics: quantize
    lat/lon to 16-bit cells, run the xy2d projection chain into the
    BIGINT curve position, roll up per coarse tile (top 10 bits).  The
    tile rows ARE the min/max file statistics a Hilbert-clustered write
    produces; vs q_zorder_layout's Morton tiles the same data yields
    tighter per-tile bboxes (unit-step locality, gated in
    tests/test_hilbert.py).

    Scale shape: the key is a chain of 16 pure projections inside
    whole-stage codegen (no UDF, no shuffle — analysis stays linear in
    bits where the nested-expression spelling is exponential); the
    rollup is one hash aggregate on a <= 1024-tile key domain."""
    from .operators.hilbert import with_hilbert_key

    o = t(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderkey").alias("k"),
        (((F.col("o_orderkey") * 37) % 18000) / 100.0 - 90.0).alias("lat"),
        (((F.col("o_orderkey") * 101) % 36000) / 100.0 - 180.0).alias("lon"),
    )
    keyed = with_hilbert_key(pts, "lat", "lon", _HBITS)
    return keyed.groupBy(
        F.shiftright("hkey", _HTILE_SHIFT).cast("bigint").alias("tile")
    ).agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.min("hkey").alias("min_h"),
        F.max("hkey").alias("max_h"),
        F.round(F.min("lat"), 6).alias("lat_lo"),
        F.round(F.max("lat"), 6).alias("lat_hi"),
        F.round(F.min("lon"), 6).alias("lon_lo"),
        F.round(F.max("lon"), 6).alias("lon_hi"),
    )
