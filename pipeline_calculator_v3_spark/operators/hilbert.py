"""Hilbert-curve spatial clustering keys — the locality upgrade over
Z-order (operators/zorder.py) for write-time data layout at 100 TB.

A Morton key interleaves bits, so the curve takes long diagonal jumps at
every power-of-two boundary: two rows one cell apart can land 2^k files
apart.  The Hilbert curve visits EVERY cell by a unit step (each
consecutive curve position is a grid neighbor), so equal-size key ranges
are tighter spatial tiles — fewer files overlap a bbox probe, and file
min/max statistics prune harder.  This is the "liquid clustering" move
lakehouse engines made after shipping Z-order.

The xy2d transform is stateful per level (compare/flip/swap), so unlike
the Morton interleave it CANNOT live in one Column expression: each
level references the previous x/y several times, and a nested Column
tree grows ~5^bits nodes — Catalyst analysis hangs near bits=8 (measured
r13).  :func:`with_hilbert_key` therefore unrolls the levels as a chain
of PROJECTIONS over named step columns (still pure whole-stage-codegen
arithmetic, no UDF, no shuffle), exactly like the linear SQL CTE chain
:func:`hilbert_sql_ctes` emits for the DuckDB oracle — both spell the
same arithmetic, so keys replay bit-for-bit.

Staged r13 for an r14 registry face (tests/test_hilbert.py: full-grid
bijectivity, the unit-step property Z-order cannot satisfy, DuckDB
replay, NULL/NaN/Inf quarantine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .zorder import _quantize


def _hilbert_steps(df: DataFrame, bits: int, key_col: str) -> DataFrame:
    """Unroll xy2d over step columns ``_hx``/``_hy`` (already-quantized
    cells, consumed) into ``key_col``.

    Per level s = 2^(bits-1) .. 1: read quadrant bits (rx, ry), advance
    d by s*s cells times the quadrant's visit order (3*rx XOR ry), then
    rotate/reflect the frame (ry=0 mirrors when rx=1, then swaps the
    axes).  Every branch keeps intermediates in [0, s) — naive s-1-x
    flips go NEGATIVE when x carries bit i, and negative ``//`` / ``%``
    semantics DIVERGE between engines (floor vs C-style truncation),
    which would silently break the SQL replay.  Validated bijective +
    unit-step over full grids (tests/test_hilbert.py)."""
    df = df.withColumn(key_col, F.lit(0).cast("bigint"))
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        x, y, d = F.col("_hx"), F.col("_hy"), F.col(key_col)
        rx = F.shiftright(x, i).bitwiseAND(F.lit(1))
        ry = F.shiftright(y, i).bitwiseAND(F.lit(1))
        nd = d + (
            F.lit(s).cast("bigint") * F.lit(s)
            * (F.lit(3) * rx).bitwiseXOR(ry)
        )
        m = F.lit(s - 1)
        nx = (
            F.when(ry == 1, x.bitwiseAND(m))
            .when(rx == 1, m - y)
            .otherwise(y)
        )
        ny = (
            F.when(ry == 1, y.bitwiseAND(m))
            .when(rx == 1, F.lit(2 * s - 1) - x)
            .otherwise(x)
        )
        others = [c for c in df.columns if c not in ("_hx", "_hy", key_col)]
        df = df.select(
            *others, nx.alias("_hx"), ny.alias("_hy"), nd.alias(key_col)
        )
    return df.drop("_hx", "_hy")


def with_hilbert_key(
    df: DataFrame,
    lat_col: str,
    lon_col: str,
    bits: int = 16,
) -> DataFrame:
    """``df`` plus a Hilbert key column ``hkey`` over ``bits``-bit quantized
    (lat, lon) cells — a BIGINT in [0, 4^bits) usable as a sort/cluster/
    range-partition key.  2*bits <= 62.  NULL/NaN/+-Inf coordinates
    yield a NULL key (the zorder_key quarantine rule: a clamped bad
    coordinate would pollute a corner tile's file statistics)."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    if {"hkey", "_hx", "_hy"} & set(df.columns):
        raise ValueError("column names 'hkey', '_hx', '_hy' are reserved")
    lat, lon = F.col(lat_col), F.col(lon_col)
    keyed = _hilbert_steps(
        df.select(
            "*",
            _quantize(lon, -180.0, 180.0, bits).alias("_hx"),
            _quantize(lat, -90.0, 90.0, bits).alias("_hy"),
        ),
        bits,
        "hkey",
    )
    inf = float("inf")
    bad = (
        lat.isNull() | lon.isNull() | F.isnan(lat.cast("double"))
        | F.isnan(lon.cast("double"))
        | (F.abs(lat.cast("double")) == F.lit(inf))
        | (F.abs(lon.cast("double")) == F.lit(inf))
    )
    return keyed.withColumn(
        "hkey",
        F.when(bad, F.lit(None).cast("bigint")).otherwise(F.col("hkey")),
    )


def hilbert_sql_ctes(x: str, y: str, bits: int, src: str) -> str:
    """The xy2d transform as a DuckDB CTE chain (one step per level —
    LINEAR text size, the with_hilbert_key projection chain's twin).
    ``x``/``y`` are SQL expressions over ``src`` for already-quantized
    cells.  Returns the CTE chain to join into a ``WITH`` list; its final
    CTE, ``hfin``, carries every ``src`` column plus
    ``hd`` (the Hilbert key), with working columns ``hx``/``hy``
    dropped."""
    steps = [
        f"h0 AS (SELECT *, {x} AS hx, {y} AS hy,"
        f" CAST(0 AS BIGINT) AS hd FROM {src})"
    ]
    n = 0
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = f"((hx // {s}) % 2)"
        ry = f"((hy // {s}) % 2)"
        # same non-negative-invariant branch spelling as _hilbert_steps:
        # every hx/hy stays in [0, s), so // and % agree across engines
        steps.append(
            f"""h{n + 1} AS (
    SELECT * EXCLUDE (hx, hy, hd),
           CASE WHEN {ry} = 1 THEN hx % {s}
                WHEN {rx} = 1 THEN {s - 1} - hy ELSE hy END AS hx,
           CASE WHEN {ry} = 1 THEN hy % {s}
                WHEN {rx} = 1 THEN {2 * s - 1} - hx ELSE hx END AS hy,
           hd + CAST({s} AS BIGINT) * {s} * xor(3 * {rx}, {ry}) AS hd
    FROM h{n})"""
        )
        n += 1
    steps.append(f"hfin AS (SELECT * EXCLUDE (hx, hy) FROM h{n})")
    return ",\n".join(steps)
