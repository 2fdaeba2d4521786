"""Deterministic synthetic geometry derived from the shared `orders` table.

The reference's spatial operators (SURVEY.md §2 ops 8-21) consume KML
polylines; the correctness harness only shares relational parquet tables with
the DuckDB oracle.  This module derives pipeline geometry *arithmetically*
from `orders` with formulas written once as SQL text and used verbatim on
both sides, so Spark and the oracle see bit-identical inputs.

Layout of the synthetic field (mirrors FIXTURES.md §B / the reference fixture
locale at lat 31.5, lon -103.5):

- ``segments``: 8 parallel due-north pipelines, 0.00009 deg of longitude
  apart (~8.5 m at lat 31.5 — inside the 15 m detection range of
  src/pipeline_calculator_v3.py:38); one 5 m segment per order row, stepping
  0.000045 deg latitude (~5.0 m) per segment.  Adjacent pipelines are
  parallel-detected; pipelines two apart (~17.1 m) are not.  Margins >= 1.8 m
  from the 15 m threshold keep float noise semantically irrelevant.
- ``vertices``: 32 polylines with a sinusoidal longitude wobble — input for
  the geodesic-length flagship (ops 8-10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import SEGMENT_LENGTH_M
from ..sql import read_table

# Segment-field constants (shared with the SQL text below).
N_PIPES = 8
LON0 = -103.5
LAT0 = 31.5
DLON = 0.00009      # ~8.54 m at lat 31.5
DLAT = 0.000045     # ~5.0 m
SEG_KEY_CAP = 4000  # orders rows used for the spatial field (oracle-tractable)

SEGMENTS_CTE = f"""
seg_base AS (
    SELECT (o_orderkey % {N_PIPES}) AS pid,
           row_number() OVER (PARTITION BY (o_orderkey % {N_PIPES})
                              ORDER BY o_orderkey) - 1 AS idx
    FROM orders WHERE o_orderkey < {SEG_KEY_CAP}
),
segments AS (
    SELECT CAST(pid AS BIGINT) AS pipeline_id,
           CAST(idx AS BIGINT) AS seg_index,
           {LON0} + pid * {DLON} AS mid_lon,
           {LAT0} + idx * {DLAT} AS mid_lat
    FROM seg_base
)"""

# Polar segment field (r06, polar-cap path): same ladder structure as
# ``segments`` but planted at the band/cap boundary — every pipeline CLIMBS
# ACROSS 85 deg latitude (84.996 -> ~85.0185 at sf0.01; the base sits
# close enough to the boundary that even sf0.001's ~188 rows per pipeline
# cross it — review r06 found the original 84.99 base kept the default
# pytest scale entirely inside the band, leaving the cap path untested by
# the parity gate), so the brute-force oracle
# exercises all three ownership regimes at once (pure-band pairs, pure-cap
# pairs, boundary-straddling pairs) plus the 1/cos cell geometry at polar
# latitudes.  Longitudes start at 179.995 and run past 180 (unwrapped —
# haversine and the azimuthal projection are both periodic in lon, and
# using the raw arithmetic value keeps the two engines bit-identical).
# Spacing mirrors the band field's margins: adjacent pipelines ~8.5 m
# apart (inside the 15 m range), two apart ~17.1 m (outside), >= 1.8 m
# from the threshold so float noise stays semantically irrelevant.
POLAR_LON0 = 179.995
POLAR_LAT0 = 84.996
POLAR_DLON = 0.00088    # ~8.54 m of longitude at 85 deg
POLAR_DLAT = 0.000045   # ~5.0 m

POLAR_SEGMENTS_CTE = f"""
pseg_base AS (
    SELECT (o_orderkey % {N_PIPES}) AS pid,
           row_number() OVER (PARTITION BY (o_orderkey % {N_PIPES})
                              ORDER BY o_orderkey) - 1 AS idx
    FROM orders WHERE o_orderkey < {SEG_KEY_CAP}
),
polar_segments AS (
    SELECT CAST(pid AS BIGINT) AS pipeline_id,
           CAST(idx AS BIGINT) AS seg_index,
           {POLAR_LON0} + pid * {POLAR_DLON} AS mid_lon,
           {POLAR_LAT0} + idx * {POLAR_DLAT} AS mid_lat
    FROM pseg_base
)"""

# Vertex ``pos`` of polyline ``pid``, written once for the oracle CTE,
# ``vertices_df`` and ``pipelines_df``.
VERT_LON = f"{LON0} + pid * {DLON} + sin(pos / 40.0) * 0.00001 * (1 + pid)"
VERT_LAT = f"{LAT0} + pos * {DLAT}"

VERTICES_CTE = f"""
vert_base AS (
    SELECT (o_orderkey % 32) AS pid,
           row_number() OVER (PARTITION BY (o_orderkey % 32)
                              ORDER BY o_orderkey) - 1 AS pos
    FROM orders
),
vertices AS (
    SELECT CAST(pid AS BIGINT) AS pipeline_id,
           CAST(pos AS BIGINT) AS pos,
           {VERT_LON} AS lon,
           {VERT_LAT} AS lat
    FROM vert_base
)"""


def segments_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the ``segments`` CTE (same formulas, same values),
    plus segmentize's ``length`` column: every synthetic segment is one
    literal ``SEGMENT_LENGTH_M`` long, so the op-21 stage of
    plans/overlap.py runs on this field unchanged."""
    orders = read_table(spark, sf_dir, "orders")
    base = (
        orders.where(F.col("o_orderkey") < SEG_KEY_CAP)
        .select((F.col("o_orderkey") % N_PIPES).alias("pid"), "o_orderkey")
    )
    w = Window.partitionBy("pid").orderBy("o_orderkey")
    return (
        base.select("pid", (F.row_number().over(w) - 1).alias("idx"))
        .selectExpr(
            "CAST(pid AS BIGINT) AS pipeline_id",
            "CAST(idx AS BIGINT) AS seg_index",
            f"{LON0} + pid * {DLON} AS mid_lon",
            f"{LAT0} + idx * {DLAT} AS mid_lat",
        )
        .withColumn("length", F.lit(SEGMENT_LENGTH_M))
    )


def polar_segments_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the ``polar_segments`` CTE (same formulas, same
    values) — the 85-deg-boundary-crossing ladder for the polar-cap path."""
    orders = read_table(spark, sf_dir, "orders")
    base = (
        orders.where(F.col("o_orderkey") < SEG_KEY_CAP)
        .select((F.col("o_orderkey") % N_PIPES).alias("pid"), "o_orderkey")
    )
    w = Window.partitionBy("pid").orderBy("o_orderkey")
    return (
        base.select("pid", (F.row_number().over(w) - 1).alias("idx"))
        .selectExpr(
            "CAST(pid AS BIGINT) AS pipeline_id",
            "CAST(idx AS BIGINT) AS seg_index",
            f"{POLAR_LON0} + pid * {POLAR_DLON} AS mid_lon",
            f"{POLAR_LAT0} + idx * {POLAR_DLAT} AS mid_lat",
        )
    )


def vertices_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the ``vertices`` CTE."""
    orders = read_table(spark, sf_dir, "orders")
    base = orders.select((F.col("o_orderkey") % 32).alias("pid"), "o_orderkey")
    w = Window.partitionBy("pid").orderBy("o_orderkey")
    return (
        base.select("pid", (F.row_number().over(w) - 1).alias("pos"))
        .selectExpr(
            "CAST(pid AS BIGINT) AS pipeline_id",
            "CAST(pos AS BIGINT) AS pos",
            f"{VERT_LON} AS lon",
            f"{VERT_LAT} AS lat",
        )
    )


def pipelines_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1-shaped table (FIXTURES.md §B): one row per pipeline with
    geometry ARRAY<STRUCT<lon,lat>> — input for the end-to-end overlap plan
    and the segmentize UDTF (src/pipeline_calculator_v3.py:116-121).

    A polyline's vertices are the ``vertices`` closed form at pos 0..n-1,
    n its row count, so the array is built in order from the count alone:
    the same values as collecting ``vertices_df`` and sorting by pos, with
    no window, collect or sort.

    The 32 counts are a few hundred bytes, so AQE would coalesce them into
    one partition, and the arrays built from them, the lengths fold, the
    segment kernel and every stage reading those partitions would run in
    one task.  They are dealt round-robin over the session's cores
    first."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy((F.col("o_orderkey") % 32).alias("pid"))
        .agg(F.count(F.lit(1)).cast("int").alias("n"))
        .repartition(spark.sparkContext.defaultParallelism)
        .selectExpr(
            "CAST(pid AS BIGINT) AS pipeline_id",
            "concat('Item_', CAST(pid AS BIGINT)) AS name",
            "transform(sequence(0, n - 1), pos -> named_struct("
            f"'lon', {VERT_LON}, 'lat', {VERT_LAT})) AS geometry",
        )
    )
