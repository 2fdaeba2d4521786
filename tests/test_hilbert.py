"""operators/hilbert.py — Hilbert-curve clustering keys (staged r13 for
an r14 registry face): full-grid bijectivity, the unit-step locality
property Z-order cannot satisfy, the DuckDB CTE-chain replay, and
NULL/NaN/Inf quarantine."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipeline_calculator_v3_spark.operators.hilbert import (
    _hilbert_steps,
    hilbert_sql_ctes,
    with_hilbert_key,
)
from pipeline_calculator_v3_spark.operators.zorder import (
    quantize_sql,
    zorder_key,
)


def _grid_keys(spark, bits):
    """(x, y, d) over the full 2^bits x 2^bits cell grid."""
    n = 1 << bits
    rows = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "x long, y long").select(
        "x", "y", F.col("x").alias("_hx"), F.col("y").alias("_hy")
    )
    return _hilbert_steps(df, bits, "d").collect()


@pytest.mark.parametrize("bits", [2, 3, 4])
def test_full_grid_bijective_and_unit_step(spark, bits):
    """The two defining curve properties: every cell gets a distinct key
    in [0, 4^bits) and consecutive keys are GRID NEIGHBORS — the locality
    statement that makes equal key ranges tight spatial tiles."""
    n = 1 << bits
    cells = {r.d: (r.x, r.y) for r in _grid_keys(spark, bits)}
    assert sorted(cells) == list(range(n * n))
    assert all(
        abs(cells[i][0] - cells[i + 1][0])
        + abs(cells[i][1] - cells[i + 1][1]) == 1
        for i in range(n * n - 1)
    )


def test_zorder_takes_jumps_hilbert_does_not(spark):
    """The differentiator this operator exists for: along the Morton
    curve the max step between consecutive keys spans cells (diagonal
    jumps at power-of-two boundaries); along the Hilbert curve it is
    exactly 1 everywhere."""
    bits = 3
    n = 1 << bits
    hcells = {r.d: (r.x, r.y) for r in _grid_keys(spark, bits)}
    # zorder_key quantizes lat/lon; feed cell centers so quantized cells
    # reproduce the integer grid exactly
    rows = [(x, y) for x in range(n) for y in range(n)]
    zrows = (
        spark.createDataFrame(rows, "x long, y long")
        .select(
            "x", "y",
            zorder_key(
                F.col("y") * (180.0 / n) - 90.0 + 90.0 / n,
                F.col("x") * (360.0 / n) - 180.0 + 180.0 / n,
                bits,
            ).alias("zd"),
        )
        .collect()
    )
    zcells = {r.zd: (r.x, r.y) for r in zrows}

    def max_step(cells):
        return max(
            abs(cells[i][0] - cells[i + 1][0])
            + abs(cells[i][1] - cells[i + 1][1])
            for i in range(n * n - 1)
        )

    assert max_step(hcells) == 1
    assert max_step(zcells) > 1


def test_matches_duckdb_cte_replay(spark, duck, sf_dir):
    """Cross-engine key parity over real coordinates: quantize with the
    shared quantize_sql spelling, run the CTE chain, compare every key
    against the projection-chain transform.  Coordinates derive from
    event_id so both engines compute identical doubles."""
    bits = 8
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        ((F.col("event_id") % 1800) / 10.0 - 90.0).alias("lat"),
        ((F.col("event_id") % 3600) / 10.0 - 180.0).alias("lon"),
    )
    got = {
        r.event_id: r.hkey
        for r in with_hilbert_key(ev, "lat", "lon", bits).select(
            "event_id", "hkey"
        ).collect()
    }
    qlat = quantize_sql("(event_id % 1800) / 10.0 - 90.0", -90.0, 90.0, bits)
    qlon = quantize_sql(
        "(event_id % 3600) / 10.0 - 180.0", -180.0, 180.0, bits
    )
    chain = hilbert_sql_ctes(qlon, qlat, bits, "src")
    sql = f"""
WITH src AS (SELECT event_id FROM events),
{chain}
SELECT event_id, hd FROM hfin
"""
    want = {int(r[0]): int(r[1]) for r in duck.execute(sql).fetchall()}
    assert len(got) == len(want) >= 1000
    assert got == want


def test_deep_bits_analyze_fast(spark):
    """The regression this module's shape exists for: bits=16 (the
    default) must plan and run in seconds — a single nested Column
    expression grows ~5^bits nodes and hangs Catalyst near bits=8."""
    df = spark.createDataFrame(
        [(1, 40.0, -100.0), (2, -33.9, 151.2)], "id long, lat double, lon double"
    )
    got = {r.id: r.hkey for r in with_hilbert_key(df, "lat", "lon", 16)
           .select("id", "hkey").collect()}
    assert len(got) == 2 and all(
        v is not None and 0 <= v < 4 ** 16 for v in got.values()
    )


def test_bad_coordinates_quarantine(spark):
    rows = [
        (1, 40.0, -100.0), (2, None, -100.0), (3, 40.0, None),
        (4, float("nan"), -100.0), (5, float("inf"), -100.0),
        (6, 40.0, float("-inf")),
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lon double")
    got = {
        r.id: r.hkey
        for r in with_hilbert_key(df, "lat", "lon", 8).select(
            "id", "hkey"
        ).collect()
    }
    assert got[1] is not None
    assert all(got[i] is None for i in (2, 3, 4, 5, 6))


def test_arg_guards(spark):
    df = spark.createDataFrame([(1, 0.0, 0.0)], "id long, lat double, lon double")
    with pytest.raises(ValueError):
        with_hilbert_key(df, "lat", "lon", 0)
    with pytest.raises(ValueError):
        with_hilbert_key(df, "lat", "lon", 32)
    with pytest.raises(ValueError):
        with_hilbert_key(df.withColumn("hkey", F.lit(1)), "lat", "lon", 8)
