"""Typed ExtendedData projection against the reference's own fixture KMZ
(SURVEY.md §1.2): discover the declared <Schema> SimpleFields, pivot them
into typed columns, and cross-check the recorded GIS_MILES against computed
polyline lengths — with both the haversine fast path and the GRS80-exact
kernel."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from pipeline_calculator_v3_spark import US_SURVEY_MILE_M
from pipeline_calculator_v3_spark.functions.geodesy import haversine_m
from pipeline_calculator_v3_spark.sources.kml import (
    attrs_to_columns,
    read_pipelines,
    schema_fields,
)

FIXTURE = "/root/reference/test_data/Brazos_NGL and Delaware_Gas combined.kmz"


@pytest.fixture(scope="module")
def fields(spark):
    return schema_fields(spark, FIXTURE)


@pytest.fixture(scope="module")
def typed(spark, fields):
    return attrs_to_columns(read_pipelines(spark, FIXTURE), fields).cache()


def test_schema_discovery(fields):
    # two schemas declare 48 + 52 fields; 44 names are shared -> 56 distinct
    assert len(fields) == 56
    by_name = dict(fields)
    assert by_name["GIS_MILES"] == "double"
    assert by_name["DIAMETER"] == "double"
    assert by_name["P5_NUM"] == "string"


def test_typed_columns(typed):
    schema = dict((f.name, f.dataType.simpleString()) for f in typed.schema.fields)
    assert schema["GIS_MILES"] == "double"
    assert schema["DIAMETER"] == "double"
    assert schema["P5_NUM"] == "string"
    # values parse: most features carry a positive mileage
    n = typed.where(F.col("GIS_MILES") > 0).count()
    assert n >= 40


def _computed_miles(typed, dist_col_fn):
    v = typed.select(
        "pipeline_id", "GIS_MILES", F.posexplode("geometry").alias("pos", "pt")
    ).select(
        "pipeline_id", "GIS_MILES", "pos",
        F.col("pt.lon").alias("lon"), F.col("pt.lat").alias("lat"),
    )
    w = Window.partitionBy("pipeline_id").orderBy("pos")
    hops = v.select(
        "pipeline_id", "GIS_MILES",
        dist_col_fn(
            F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")
        ).alias("hop"),
    )
    pdf = (
        hops.groupBy("pipeline_id", "GIS_MILES")
        .agg((F.sum("hop") / US_SURVEY_MILE_M).alias("mi"))
        .toPandas()
        .dropna(subset=["GIS_MILES"])
    )
    pdf = pdf[pdf.GIS_MILES > 0]
    return np.abs(pdf.mi - pdf.GIS_MILES) / pdf.GIS_MILES


def test_gis_miles_vs_haversine(typed):
    """Recorded GIS mileage within the documented spherical bound."""
    rel = _computed_miles(typed, haversine_m)
    assert len(rel) >= 40
    assert rel.max() < 0.005  # measured 0.26% worst-case on this fixture


def test_gis_miles_vs_exact_kernel(spark, typed):
    """The GRS80 Vincenty kernel reproduces the fixture's GIS-recorded
    geodesic miles an order of magnitude tighter than haversine
    (measured max 0.012% on this fixture) — the digit-for-digit parity
    evidence for SURVEY §7's exact mode."""
    from pipeline_calculator_v3_spark.functions.geodesy_exact import geodesic_m
    from pipeline_calculator_v3_spark.shipping import ensure_pkg_shipped

    ensure_pkg_shipped(spark)
    rel = _computed_miles(typed, geodesic_m)
    assert len(rel) >= 40
    assert rel.max() < 0.0005
