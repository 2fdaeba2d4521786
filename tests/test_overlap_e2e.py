"""End-to-end overlap analysis on the FIXTURES.md §B geometry fixtures —
golden-value tests replacing the reference's eyeball-only smoke harness
(SURVEY.md §5)."""

from __future__ import annotations

import math

import pytest

from pipeline_calculator_v3_spark.functions.geodesy import EARTH_RADIUS_M
from pipeline_calculator_v3_spark.plans.overlap import analyze_pipelines

DEG_PER_M_LAT = 180.0 / (math.pi * EARTH_RADIUS_M)
T1_SCHEMA = (
    "pipeline_id bigint, name string, "
    "geometry array<struct<lon:double, lat:double>>"
)


def _pipes(spark, rows):
    return spark.createDataFrame(rows, T1_SCHEMA)


def line(lon, lat, length_m, dlon=0.0):
    return [
        {"lon": lon, "lat": lat},
        {"lon": lon + dlon, "lat": lat + length_m * DEG_PER_M_LAT},
    ]


@pytest.fixture(scope="module")
def g1(spark):
    # G1: two lines ~55 km apart — parse/length smoke, zero overlap
    return analyze_pipelines(
        _pipes(
            spark,
            [
                (1, "Pipeline A", [{"lon": -100.0, "lat": 40.0}, {"lon": -101.0, "lat": 41.0}]),
                (2, "Pipeline B", [{"lon": -100.0, "lat": 40.5}, {"lon": -101.0, "lat": 41.5}]),
            ],
        )
    )


def test_g1_lengths_and_no_overlap(g1):
    lengths = {r.pipeline_id: r.length_m for r in g1["lengths"].collect()}
    assert len(lengths) == 2
    for v in lengths.values():
        assert 135_000 < v < 145_000  # ~140 km haversine (FIXTURES.md G1)
    assert g1["sections"].count() == 0
    # no overlap -> effective == total, savings 0
    s = g1["summary"].collect()[0]
    assert abs(s.effective_m - s.total_m) < 1e-6
    assert s.savings_m == 0.0


def _window_lengths(pipelines):
    """The previous production spelling of ``lengths``, kept as the
    reference: explode to vertices, lag window, summed hops, joined back
    to the names."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pipeline_calculator_v3_spark.functions.geodesy import haversine_m

    v = pipelines.select(
        "pipeline_id", F.posexplode("geometry").alias("pos", "pt")
    ).select("pipeline_id", "pos", "pt.lon", "pt.lat")
    w = Window.partitionBy("pipeline_id").orderBy("pos")
    hops = v.select("pipeline_id", haversine_m(
        F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")
    ).alias("hop_m"))
    return (
        hops.groupBy("pipeline_id")
        .agg(F.coalesce(F.sum("hop_m"), F.lit(0.0)).alias("length_m"))
        .join(pipelines.select("pipeline_id", "name"), "pipeline_id")
    )


def test_lengths_edge_geometry_and_window_reference(spark, sf_dir):
    """NULL and empty geometry have no length row, a 1-vertex pipeline is
    0.0 m, and on the synthetic pipelines every length equals the window
    spelling's to the bit (hops summed in vertex order on both sides)."""
    from pipeline_calculator_v3_spark.plans import synth

    edge = _pipes(spark, [
        (9001, "null", None),
        (9002, "empty", []),
        (9003, "point", [{"lon": 1.0, "lat": 2.0}]),
        (9004, "line", line(10.0, 45.0, 12.0)),
    ])
    pipes = synth.pipelines_df(spark, sf_dir).unionByName(edge)
    got = analyze_pipelines(pipes)["lengths"]
    rows = {r.pipeline_id: (r.name, r.length_m, r.length_mi)
            for r in got.collect()}
    assert 9001 not in rows and 9002 not in rows
    assert rows[9003] == ("point", 0.0, 0.0)
    assert rows[9004][1] == pytest.approx(12.0)
    want = {r.pipeline_id: (r.name, r.length_m)
            for r in _window_lengths(pipes).collect()}
    assert {k: v[:2] for k, v in rows.items()} == want


@pytest.fixture(scope="module")
def g2(spark):
    # G2: two parallel lines 10 m apart, 400 m long -> one bundled section
    lon_off = 10.0 / (111320.0 * math.cos(math.radians(31.5)))
    return analyze_pipelines(
        _pipes(
            spark,
            [
                (1, "A", line(-103.5, 31.5, 400.01)),
                (2, "B", line(-103.5 - lon_off, 31.5, 400.01)),
            ],
        )
    )


def test_g2_overlap_positive(g2):
    secs = g2["sections"].collect()
    assert len(secs) == 1
    sec = secs[0]
    # bundled_length counts HIT ROWS x 5 m (reference semantics, :434):
    # each seg1 pairs with up to 5 nearby seg2 -> ~80*5 hits -> ~2000 m
    assert 350 <= sec.bundled_length_m <= 2000
    # hits include diagonal pairs (10, 11.2, 14.1 m) -> mean ~12.1 m
    assert 9.0 < sec.average_separation < 14.5
    assert sec.oriented_width_m <= 30.0  # clamp 2 x detection range
    # polygons: closed rings with >= 5 points
    assert len(sec.oriented_polygon) >= 5
    assert sec.oriented_polygon[0] == sec.oriented_polygon[-1]
    s = g2["summary"].collect()[0]
    assert 0 < s.effective_m < s.total_m
    assert s.savings_m > 0
    # two fully-parallel lines: effective ~ total/2 + tails -> savings near 50%
    assert 30.0 < s.savings_pct <= 50.5


def test_g2_per_pipeline_rollup(g2):
    roll = {r.pipeline_id: r.bundled_segments for r in g2["per_pipeline_overlap"].collect()}
    assert set(roll) == {1, 2}
    assert all(60 <= v <= 80 for v in roll.values())


@pytest.fixture(scope="module")
def g4(spark):
    # G4: three parallel 400 m lines, 8 m spacing -> k=3 in the middle
    lon8 = 8.0 / (111320.0 * math.cos(math.radians(31.5)))
    return analyze_pipelines(
        _pipes(
            spark,
            [
                (1, "A", line(-103.5, 31.5, 400.01)),
                (2, "B", line(-103.5 - lon8, 31.5, 400.01)),
                (3, "C", line(-103.5 - 2 * lon8, 31.5, 400.01)),
            ],
        )
    )


def test_g4_three_way_cluster(g4):
    s4 = g4["summary"].collect()[0]
    total = s4.total_m
    # strictly less effective than the 2-pipeline case; >= total/3
    assert total / 3 - 1e-6 <= s4.effective_m < total * 0.75
    # middle line sees k=3: 3 pair-sections (A-B, B-C, A-C at 16m > 15m? no:
    # A-C is ~16 m apart -> outside range, so 2 sections)
    assert g4["sections"].count() == 2


def test_parameter_echo_and_clamps(spark):
    res = analyze_pipelines(
        _pipes(spark, [(1, "A", line(0.0, 0.0, 100.01))]),
        detection_range_m=0.5,     # clamps to 1
        min_parallel_m=5,          # clamps to 10
        segment_length_m=0.2,      # clamps to 1
        angular_tolerance_deg=120, # clamps to 90
    )
    s = res["summary"].collect()[0]
    assert s.param_detection_range_m == 1.0
    assert s.param_min_parallel_m == 10.0
    assert s.param_segment_length_m == 1.0
    assert s.param_angular_tolerance_deg == 90.0


# result frame -> key columns that identify a row
_FRAME_KEYS = {
    "lengths": ("pipeline_id",),
    "totals": (),
    "sections": ("p1", "p2", "section"),
    "per_pipeline_overlap": ("pipeline_id",),
    "effective": ("pipeline_id",),
    "summary": (),
}


def _leaves(v):
    if isinstance(v, dict):
        for k in sorted(v):
            yield from _leaves(v[k])
    elif isinstance(v, (list, tuple)):
        for x in v:
            yield from _leaves(x)
    else:
        yield v


def _at_shuffle_partitions(spark, collect):
    """``collect()`` at 8 and at 32 shuffle partitions, caches released
    after each."""
    from pipeline_calculator_v3_spark import release_caches

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    runs = []
    try:
        for n in (8, 32):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            runs.append(collect())
            release_caches(spark)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return runs


def test_results_stable_across_shuffle_partitions(spark, sf_dir):
    """The CLI plan gives the same lengths, section set, per-pipeline
    rollup, effective length and summary at 8 and at 32 shuffle
    partitions (floats to 1e-9 relative: partial sums may reorder), and
    the sections in the same op-19 order (ties broken by key)."""
    from pipeline_calculator_v3_spark.plans import synth

    def collect():
        res = analyze_pipelines(synth.pipelines_df(spark, sf_dir))
        return {
            name: {
                tuple(r[k] for k in key): r.asDict(recursive=True)
                for r in res[name].collect()
            }
            for name, key in _FRAME_KEYS.items()
        }

    a, b = _at_shuffle_partitions(spark, collect)
    assert a["sections"] and a["per_pipeline_overlap"]
    # dicts keep collect order: the op-19 order itself must match
    assert list(a["sections"]) == list(b["sections"])
    for name in _FRAME_KEYS:
        assert a[name].keys() == b[name].keys(), name
        for key, row in a[name].items():
            la, lb = list(_leaves(row)), list(_leaves(b[name][key]))
            assert len(la) == len(lb), (name, key)
            for x, y in zip(la, lb):
                if isinstance(x, float):
                    assert y == pytest.approx(x, rel=1e-9, abs=1e-9), (name, key)
                else:
                    assert x == y, (name, key)


def test_pagerank_stable_across_shuffle_partitions(spark, sf_dir):
    """q_graph_pagerank returns the same (id, rank) rows in the same order
    at 8 and at 32 shuffle partitions: partial-sum reordering stays far
    below the 6-dp output's half-step."""
    from pipeline_calculator_v3_spark.queries import QUERIES

    a, b = _at_shuffle_partitions(
        spark, lambda: [tuple(r) for r in
                        QUERIES["q_graph_pagerank"](spark, sf_dir).collect()])
    assert a and a == b
