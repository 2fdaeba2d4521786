"""Unit/property tests for the segmentize kernel (reference op 11) against
closed-form geometry — SURVEY.md §5's property-test strategy."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pipeline_calculator_v3_spark.functions.geodesy import EARTH_RADIUS_M
from pipeline_calculator_v3_spark.operators.segmentize import segmentize

# ~5 m of latitude in degrees on the haversine sphere.
DEG_PER_M_LAT = 180.0 / (math.pi * EARTH_RADIUS_M)


def _pipelines(spark, rows):
    """(pipeline_id, pos, lon, lat) vertex rows -> one row per pipeline
    with its geometry array in ``pos`` order, segmentize's input."""
    geoms: dict[int, list] = {}
    for pid, pos, lon, lat in sorted(rows):
        geoms.setdefault(pid, []).append({"lon": lon, "lat": lat})
    return spark.createDataFrame(
        list(geoms.items()),
        "pipeline_id long, geometry array<struct<lon:double, lat:double>>",
    )


def test_straight_north_line(spark):
    # 400 m due-north line (FIXTURES.md G2 shape): expect 80 segments of 5 m,
    # bearing ~0, midpoints on the meridian.
    # 400 m + 1 cm: the haversine round-trip of an exact 400 m step lands at
    # 399.999999… and floor() would drop the 80th segment.
    lat_step = 400.01 * DEG_PER_M_LAT
    v = _pipelines(
        spark,
        [(1, 0, -103.5, 31.5), (1, 1, -103.5, 31.5 + lat_step)],
    )
    seg = segmentize(v, 5.0).orderBy("seg_index").collect()
    assert len(seg) == 80
    assert all(abs(s.bearing) < 1e-6 or abs(s.bearing - 360.0) < 1e-6 for s in seg)
    assert all(abs(s.mid_lon - (-103.5)) < 1e-12 for s in seg)
    # midpoint of segment k sits at (k + 0.5) * 5 m along the line
    mid_lat_0 = 31.5 + 2.5 * DEG_PER_M_LAT
    assert abs(seg[0].mid_lat - mid_lat_0) < 1e-9


def test_tail_remainder_dropped(spark):
    # 12 m line -> 2 full segments, 2 m tail dropped
    # (tails are handled by effective-length, src/pipeline_calculator_v3.py:839-845)
    lat_step = 12.0 * DEG_PER_M_LAT
    v = _pipelines(spark, [(7, 0, 10.0, 45.0), (7, 1, 10.0, 45.0 + lat_step)])
    seg = segmentize(v, 5.0).collect()
    assert len(seg) == 2


def test_degenerate_single_vertex(spark):
    # <2 coords skipped, not fatal (src/pipeline_calculator_v3.py:259)
    v = _pipelines(spark, [(3, 0, 0.0, 0.0)])
    assert segmentize(v, 5.0).count() == 0


def test_multi_edge_additivity(spark):
    # Splitting a straight line into collinear sub-edges must not change the
    # segmentation (length additivity property, SURVEY.md §5).
    lat_step = 100.0 * DEG_PER_M_LAT
    one_edge = _pipelines(spark, [(1, 0, 0.0, 10.0), (1, 1, 0.0, 10.0 + lat_step)])
    three_edge = _pipelines(
        spark,
        [
            (1, 0, 0.0, 10.0),
            (1, 1, 0.0, 10.0 + 0.3 * lat_step),
            (1, 2, 0.0, 10.0 + 0.7 * lat_step),
            (1, 3, 0.0, 10.0 + lat_step),
        ],
    )
    a = segmentize(one_edge, 5.0).orderBy("seg_index").toPandas()
    b = segmentize(three_edge, 5.0).orderBy("seg_index").toPandas()
    assert len(a) == len(b) == 20
    assert (abs(a.mid_lat - b.mid_lat) < 1e-9).all()


def test_segment_count_matches_length(spark, sf_dir):
    # n_segments == floor(total_length / 5) on the synthetic vertices
    from pipeline_calculator_v3_spark.plans import synth

    v = synth.pipelines_df(spark, sf_dir)
    seg_counts = (
        segmentize(v, 5.0).groupBy("pipeline_id").count().orderBy("pipeline_id")
    )
    from pipeline_calculator_v3_spark.queries import QUERIES

    lengths = QUERIES["q_geodesic_length"](spark, sf_dir)
    joined = seg_counts.join(lengths, "pipeline_id").select(
        "pipeline_id", "count", F.floor(F.col("length_m") / 5.0).alias("expect")
    )
    bad = joined.where(F.col("count") != F.col("expect")).collect()
    assert bad == []


# -- production spelling vs the grouped reference -----------------------------


def _grouped_reference(pipelines, segment_length):
    """The previous production spelling, kept as the reference: explode the
    geometry to vertex rows and run the same kernel per pipeline group."""
    from pipeline_calculator_v3_spark.operators.segmentize import (
        SEGMENT_SCHEMA,
        _segment_group,
    )

    vertices = pipelines.select(
        "pipeline_id", F.posexplode("geometry").alias("pos", "pt")
    ).select("pipeline_id", "pos", "pt.lon", "pt.lat")
    return vertices.groupBy("pipeline_id").applyInPandas(
        lambda pdf: _segment_group(pdf, segment_length), SEGMENT_SCHEMA
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_matches_grouped_reference(spark, sf_dir):
    """Row-for-row identical to the grouped spelling on the synthetic
    pipelines plus the edge shapes: NULL and empty geometry (no rows), a
    single vertex (no rows) and a repeated vertex (a zero-length edge)."""
    from pipeline_calculator_v3_spark.plans import synth

    lat_step = 12.0 * DEG_PER_M_LAT
    edge = spark.createDataFrame(
        [
            (9001, None),
            (9002, []),
            (9003, [{"lon": 1.0, "lat": 2.0}]),
            (9004, [{"lon": 10.0, "lat": 45.0}, {"lon": 10.0, "lat": 45.0},
                    {"lon": 10.0, "lat": 45.0 + lat_step},
                    {"lon": 10.0, "lat": 45.0 + lat_step},
                    {"lon": 10.0 + lat_step, "lat": 45.0 + lat_step}]),
        ],
        "pipeline_id long, geometry array<struct<lon:double, lat:double>>",
    )
    pipes = synth.pipelines_df(spark, sf_dir).select(
        "pipeline_id", "geometry"
    ).unionByName(edge)
    got = _sorted_rows(segmentize(pipes, 5.0))
    want = _sorted_rows(_grouped_reference(pipes, 5.0))
    assert got == want
    pids = {r[0] for r in got}
    assert 9004 in pids and not pids & {9001, 9002, 9003}
