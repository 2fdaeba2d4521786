"""Z-order (Morton) spatial clustering keys — the write-time data-layout
primitive for coordinate data at 100 TB.

A table laid out in z-key order puts spatially-near rows into the same
files, so a bbox query touches a handful of files instead of all of them:
engines with file-statistics pruning (min/max manifests) skip the rest
outright, and even a plain parquet scan benefits from row-group min/max
skipping inside each file.  The reference holds everything in RAM and
needs no layout (SURVEY §1); at cluster scale layout IS the index.

Everything here is pure Column arithmetic (quantize + bit interleave via
shift/mask terms, all inside whole-stage codegen) — no UDF, no shuffle of
its own.  Re-clustering a table on the key costs the caller one
range-repartition + in-partition sort.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def _quantize(v: Column, lo: float, hi: float, bits: int) -> Column:
    """Map [lo, hi] onto integer cells [0, 2^bits), clamped at both ends."""
    cells = 1 << bits
    cell = F.floor((v - F.lit(lo)) / F.lit(hi - lo) * F.lit(cells))
    return F.greatest(
        F.lit(0).cast("long"),
        F.least(F.lit(cells - 1).cast("long"), cell.cast("long")),
    )


def zorder_key(lat: Column, lon: Column, bits: int = 16) -> Column:
    """Morton key interleaving ``bits`` quantized bits of lat and lon
    (lon in the even positions, lat in the odd) — a BIGINT usable as a
    sort/cluster/range-partition key.  2*bits <= 62."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    qlat = _quantize(lat, -90.0, 90.0, bits)
    qlon = _quantize(lon, -180.0, 180.0, bits)
    terms = []
    for i in range(bits):
        bit_lat = F.shiftright(qlat, i).bitwiseAND(F.lit(1))
        bit_lon = F.shiftright(qlon, i).bitwiseAND(F.lit(1))
        terms.append(F.shiftleft(bit_lon, 2 * i))
        terms.append(F.shiftleft(bit_lat, 2 * i + 1))
    key = reduce(lambda a, b: a.bitwiseOR(b), terms).cast("bigint")
    # NULL/NaN coordinates must yield a NULL key, not a valid corner tile:
    # Spark's least/greatest SKIP null arguments, so the clamp would
    # otherwise park a NULL lat at the max cell and silently pollute that
    # tile's file statistics (review finding, r05)
    inf = float("inf")
    bad = (
        lat.isNull() | lon.isNull() | F.isnan(lat.cast("double"))
        | F.isnan(lon.cast("double"))
        # +-Infinity sails through floor/clamp to the max/min cell and
        # would pollute a corner tile's statistics exactly like the NULL
        # case the r05 fix quarantined (review r06)
        | (F.abs(lat.cast("double")) == F.lit(inf))
        | (F.abs(lon.cast("double")) == F.lit(inf))
    )
    return F.when(bad, F.lit(None).cast("bigint")).otherwise(key)


# --- DuckDB oracle faces (one generator beside the Column face it mirrors,
# the scrub.py shared-formula pattern) ------------------------------------

def quantize_sql(v: str, lo: float, hi: float, bits: int) -> str:
    """Oracle spelling of :func:`_quantize` — same operation order
    ((v - lo) / (hi - lo) * cells, floor, clamp) so both engines compute
    the identical cell for every double."""
    cells = 1 << bits
    return (
        f"GREATEST(CAST(0 AS BIGINT), LEAST(CAST({cells - 1} AS BIGINT), "
        f"CAST(FLOOR(({v} - ({lo!r})) / {(hi - lo)!r} * {cells}) "
        f"AS BIGINT)))"
    )


def zorder_key_sql(qlat: str, qlon: str, bits: int = 16) -> str:
    """Oracle spelling of the :func:`zorder_key` interleave over
    already-quantized BIGINT cell columns (lon even positions, lat odd) —
    generated by the same loop as the Column face."""
    terms = []
    for i in range(bits):
        terms.append(f"((({qlon} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({qlat} >> {i}) & 1) << {2 * i + 1})")
    return "CAST(" + " | ".join(terms) + " AS BIGINT)"
