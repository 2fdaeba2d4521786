"""Z-order clustering keys: correctness vs a Python reference, interleaving
bounds, and NULL/NaN/Inf quarantine."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pipeline_calculator_v3_spark.operators.zorder import zorder_key


def _ref_zkey(lat: float, lon: float, bits: int) -> int:
    cells = 1 << bits

    def q(v, lo, hi):
        c = int((v - lo) / (hi - lo) * cells)
        return max(0, min(cells - 1, c))

    qlat, qlon = q(lat, -90.0, 90.0), q(lon, -180.0, 180.0)
    z = 0
    for i in range(bits):
        z |= ((qlon >> i) & 1) << (2 * i)
        z |= ((qlat >> i) & 1) << (2 * i + 1)
    return z


@pytest.mark.parametrize("bits", [4, 16])
def test_zorder_key_matches_python_reference(spark, bits):
    pts = [
        (0.0, 0.0), (89.9999, 179.9999), (-90.0, -180.0), (90.0, 180.0),
        (31.77, -101.93), (-45.5, 170.2), (0.0001, -0.0001),
    ]
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = [
        r[0]
        for r in df.select(
            zorder_key(F.col("lat"), F.col("lon"), bits)
        ).collect()
    ]
    assert got == [_ref_zkey(lat, lon, bits) for lat, lon in pts]


def test_zorder_interleaving_bounds(spark):
    # key fits in 2*bits bits, and extreme corners map to all-zero /
    # all-one keys
    df = spark.createDataFrame(
        [(-90.0, -180.0), (90.0, 180.0)], "lat double, lon double"
    )
    lo, hi = [
        r[0]
        for r in df.select(zorder_key(F.col("lat"), F.col("lon"), 8)).collect()
    ]
    assert lo == 0
    assert hi == (1 << 16) - 1


def test_null_and_nan_coordinates_yield_null_key(spark):
    df = spark.createDataFrame(
        [(None, 10.0), (10.0, None), (float("nan"), 0.0), (0.0, 0.0)],
        "lat double, lon double",
    )
    keys = [
        r[0]
        for r in df.select(zorder_key(F.col("lat"), F.col("lon"), 8)).collect()
    ]
    assert keys[0] is None and keys[1] is None and keys[2] is None
    assert keys[3] is not None


def test_infinite_coordinates_quarantined(spark):
    """Review r06: +-Infinity passed the NULL/NaN quarantine and parked in
    a valid corner tile, corrupting its file statistics."""
    from pyspark.sql import functions as F

    from pipeline_calculator_v3_spark.operators.zorder import zorder_key

    df = spark.createDataFrame(
        [(1, float("inf"), 10.0), (2, 10.0, float("-inf")), (3, 10.0, 10.0)],
        "id long, lat double, lon double",
    )
    got = {r.id: r.zk for r in df.select(
        "id", zorder_key(F.col("lat"), F.col("lon")).alias("zk")).collect()}
    assert got[1] is None and got[2] is None and got[3] is not None
