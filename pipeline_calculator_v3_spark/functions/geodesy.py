"""Geodesy as Column expressions — the JVM-side fast path.

The reference computes geodesics with ``pyproj.Geod(ellps='GRS80')``
(src/pipeline_calculator_v3.py:48).  Executors here have no native geo deps,
so the engine standardizes on spherical haversine / initial-bearing formulas
expressed as SQL text that is *shared verbatim* between the Spark plan
(``F.expr``) and the DuckDB oracle — identical formula text means identical
semantics, with only libm-ulp differences.  Haversine vs GRS80 geodesic
differs by <=~0.56% (worst case: meridian arcs at the equator — bound tested
in tests/test_geodesy_grs80.py); all correctness gates use the same formula
on both sides, so the gate is self-consistent.  For digit-for-digit parity
with the reference app use ``functions.geodesy_exact`` (vectorized Vincenty
on GRS80, pandas-UDF path).

Everything in this module stays inside whole-stage codegen: no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import US_SURVEY_MILE_M

# Mean Earth radius (IUGG), meters.
EARTH_RADIUS_M = 6371008.8


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Great-circle distance in meters as a SQL expression string.

    Runs unmodified under both Spark SQL and DuckDB.  Mirrors the role of
    ``geod.inv`` distance at src/pipeline_calculator_v3.py:234,354,831.
    """
    # NB: the clamp must be NULL-propagating — both Spark and DuckDB `least`
    # SKIP nulls (least(1.0, NULL) = 1.0), which would turn a NULL input
    # (e.g. the first row of a lag window) into an antipodal pi*R distance.
    # CASE propagates NULL through the ELSE branch on both engines.
    a = (
        f"(pow(sin((radians({lat2}) - radians({lat1})) / 2), 2) "
        f"+ cos(radians({lat1})) * cos(radians({lat2})) "
        f"* pow(sin((radians({lon2}) - radians({lon1})) / 2), 2))"
    )
    return (
        f"(2.0 * {EARTH_RADIUS_M!r} * asin(sqrt("
        f"CASE WHEN {a} > 1.0 THEN 1.0 ELSE {a} END)))"
    )


def bearing_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Initial great-circle bearing in degrees [0, 360).

    Mirrors the azimuth output of ``geod.inv`` used for the parallelism
    predicate (src/pipeline_calculator_v3.py:269,347-350).
    """
    return (
        "(mod(degrees(atan2("
        f"sin(radians({lon2}) - radians({lon1})) * cos(radians({lat2})), "
        f"cos(radians({lat1})) * sin(radians({lat2})) "
        f"- sin(radians({lat1})) * cos(radians({lat2})) "
        f"* cos(radians({lon2}) - radians({lon1})))) + 360.0, 360.0))"
    )


def bearing_diff_sql(b1: str, b2: str) -> str:
    """Angular difference folded to [0, 180]: min(|d|, 360-|d|).

    Exact port of the parallel-bearing predicate at
    src/pipeline_calculator_v3.py:347-350.
    """
    return f"least(abs({b1} - {b2}), 360.0 - abs({b1} - {b2}))"


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Column form of :func:`haversine_sql` (same math, composable)."""
    dlat = F.radians(lat2) - F.radians(lat1)
    dlon = F.radians(lon2) - F.radians(lon1)
    a = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.pow(F.sin(dlon / 2), 2)
    )
    # NULL-propagating clamp (see haversine_sql): F.least skips nulls.
    a_clamped = F.when(a > 1.0, F.lit(1.0)).otherwise(a)
    return 2.0 * EARTH_RADIUS_M * F.asin(F.sqrt(a_clamped))


def bearing_deg(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Column form of :func:`bearing_sql`."""
    dlon = F.radians(lon2) - F.radians(lon1)
    y = F.sin(dlon) * F.cos(F.radians(lat2))
    x = (
        F.cos(F.radians(lat1)) * F.sin(F.radians(lat2))
        - F.sin(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.cos(dlon)
    )
    return (F.degrees(F.atan2(y, x)) + 360.0) % 360.0


def meters_to_survey_miles(m: Column) -> Column:
    """meters -> US Survey Miles (src/pipeline_calculator_v3.py:240)."""
    return m / F.lit(US_SURVEY_MILE_M)
