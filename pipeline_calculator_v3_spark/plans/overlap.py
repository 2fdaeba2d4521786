"""End-to-end pipeline overlap analysis — reference op 22
(``analyze_complete``, src/pipeline_calculator_v3.py:849-899) as a Spark DAG.

Input: a T1 `pipelines` DataFrame (pipeline_id, name,
geometry ARRAY<STRUCT<lon,lat>>).  Output: a dict of DataFrames mirroring the
reference's result envelope (:885-897).

DAG (SURVEY.md §3), named by the stage functions below:

    pipelines -> lengths (cached; one array fold per pipeline)
              \\-> segmentize -> segments (cached: 3 downstream uses)
                    -> distance_self_join -> pairs (cached)
                         |-> sessionize -> bundled_hits (cached)
                         |      |-> section_stats + corridor_polygons
                         |      |     -> sections (cached, sorted)
                         |      \\-> bundled_rollup -> per_pipeline_overlap
                         \\-> segment_effective (+ lengths) -> effective
                                -> overlap_summary -> summary

The two cached result frames are the ones every consumer re-reads:
``lengths`` feeds ``totals``, ``effective`` (hence ``summary``) and the
pipelines table of the CSV, JSON and TXT sinks; ``sections`` feeds the CLI's
stdout top-k, the CSV overlaps table, the JSON envelope and the corridor
KML files.  Uncached, each of those reads would re-run the length fold or
the corridor kernel.  Like every ``persist_tracked`` frame they are laid
out by AQE from their measured bytes (``session.get_spark``).

The stage functions are the only DataFrame spelling of ops 13-22: the
registry queries in ``queries_spatial`` / ``queries_e2e`` compose the same
functions over the oracle-shared synthetic segment field.

The reference mutates pipeline dicts in place to attach segments (:298) and
re-walks them three times; here `segments` is computed once and cached —
the explicit-DAG equivalent (SURVEY.md §7 'hard parts').
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import (
    ANGULAR_TOLERANCE_DEG,
    DEFAULT_DETECTION_RANGE_M,
    MIN_PARALLEL_LENGTH_M,
    SEGMENT_LENGTH_M,
    US_SURVEY_MILE_M,
)
from ..caching import persist_tracked
from ..functions.geodesy import haversine_m
from ..operators.corridor import corridor_polygons
from ..operators.segmentize import segmentize
from ..operators.spatial import distance_self_join


def _clamp_params(detection_range, min_parallel, segment_length, angular_tol):
    """GUI-side parameter clamps are part of the engine contract
    (src/pipeline_calculator_v3.py:1075-1078)."""
    return (
        max(detection_range, 1.0),
        max(min_parallel, 10.0),
        max(segment_length, 1.0),
        min(max(angular_tol, 1.0), 90.0),
    )


def polyline_length_m(geometry: Column) -> Column:
    """Summed haversine hops of an ``ARRAY<STRUCT<lon, lat>>`` polyline, in
    vertex order, as one array fold: 0.0 for a single vertex, and a hop
    with a NULL end is skipped, as SUM skips it."""

    def hop(acc: Column, pt: Column) -> Column:
        h = haversine_m(acc.prev.lat, acc.prev.lon, pt.lat, pt.lon)
        return F.struct(
            pt.alias("prev"),
            F.when(h.isNull(), acc.m).otherwise(acc.m + h).alias("m"),
        )

    return F.aggregate(
        F.slice(geometry, 2, F.size(geometry)),
        F.struct(F.get(geometry, 0).alias("prev"), F.lit(0.0).alias("m")),
        hop,
        lambda acc: acc.m,
    )


def sessionize(pairs: DataFrame) -> DataFrame:
    """Ops 13-14: sort + 2-index gap sessionization (signed deltas > 2
    break a section, src/pipeline_calculator_v3.py:421-422).  Every input
    column rides through plus the ``is_new`` flag and the running bigint
    ``section`` id per (p1, p2)."""
    ws = Window.partitionBy("p1", "p2").orderBy("seg1", "seg2")
    flagged = pairs.withColumn(
        "is_new",
        F.when(
            (F.col("seg1") - F.lag("seg1").over(ws) > 2)
            | (F.col("seg2") - F.lag("seg2").over(ws) > 2)
            | F.lag("seg1").over(ws).isNull(),
            1,
        ).otherwise(0),
    )
    return flagged.withColumn(
        "section",
        F.sum("is_new").over(ws.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )


def bundled_hits(
    hits: DataFrame, segment_length_m: float, min_parallel_m: float
) -> DataFrame:
    """The HAVING gate: keep the hit rows of sections at least
    ``min_parallel_m`` long (:425,429) — rows, not aggregates, because the
    corridor kernel and the op-18 rollup need the hits themselves."""
    wsec = Window.partitionBy("p1", "p2", "section")
    return (
        hits.withColumn("sec_n", F.count(F.lit(1)).over(wsec))
        .where(F.col("sec_n") * segment_length_m >= min_parallel_m)
        .drop("sec_n", "is_new")
    )


def section_stats(hits: DataFrame, segment_length_m: float, *extra_aggs) -> DataFrame:
    """Op 15 per-section aggregates: hit count, bundled length in m and
    US survey miles, mean separation (plus any ``extra_aggs``)."""
    n = F.count(F.lit(1))
    return hits.groupBy("p1", "p2", "section").agg(
        n.cast("bigint").alias("n_hits"),
        (n * segment_length_m).alias("bundled_length_m"),
        (n * segment_length_m / US_SURVEY_MILE_M).alias("bundled_length_mi"),
        F.avg("dist_m").alias("average_separation"),
        *extra_aggs,
    )


def bundled_rollup(hits: DataFrame, segment_length_m: float) -> DataFrame:
    """Op 18: per-pipeline distinct bundled segments (:714-716,748-756) —
    the set-union of segment indices becomes mirror union + countDistinct."""
    exploded = hits.select(
        F.col("p1").alias("pipeline_id"), F.col("seg1").alias("seg")
    ).unionAll(
        hits.select(F.col("p2").alias("pipeline_id"), F.col("seg2").alias("seg"))
    )
    return (
        exploded.groupBy("pipeline_id")
        .agg(F.countDistinct("seg").cast("bigint").alias("bundled_segments"))
        .select(
            "pipeline_id",
            "bundled_segments",
            (F.col("bundled_segments") * segment_length_m).alias("bundled_length_m"),
            (
                F.col("bundled_segments") * segment_length_m / US_SURVEY_MILE_M
            ).alias("bundled_length_mi"),
        )
    )


def segment_effective(segments: DataFrame, pairs: DataFrame) -> DataFrame:
    """Op 21 k-cluster effective length over the segments: per (pipeline,
    segment), k = distinct parallel pipelines + 1 via the mirror union
    (:824-833); unmatched segments take k = 1.  Returns per pipeline the
    summed ``length / k`` (``seg_eff_m``) next to the segmented total
    (``seg_total_m``)."""
    neighbors = pairs.select(
        F.col("p1").alias("p"), F.col("seg1").alias("i"), F.col("p2").alias("o")
    ).unionAll(
        pairs.select(F.col("p2").alias("p"), F.col("seg2").alias("i"), F.col("p1").alias("o"))
    )
    k = neighbors.groupBy("p", "i").agg((F.countDistinct("o") + 1).alias("k"))
    return (
        segments.join(
            k,
            (k.p == segments.pipeline_id) & (k.i == segments.seg_index),
            "left",
        )
        .select(
            "pipeline_id",
            (F.col("length") / F.coalesce("k", F.lit(1))).alias("eff_m"),
            "length",
        )
        .groupBy("pipeline_id")
        .agg(F.sum("eff_m").alias("seg_eff_m"), F.sum("length").alias("seg_total_m"))
    )


def overlap_summary(
    effective: DataFrame,
    detection_range_m: float,
    min_parallel_m: float,
    segment_length_m: float,
    angular_tolerance_deg: float,
) -> DataFrame:
    """Op 22 result envelope over an ``effective`` table (pipeline_id,
    length_m, effective_m): totals, effective clamped to [0, total], savings
    with div-0 guard, analysis-parameter echo
    (src/pipeline_calculator_v3.py:872-896)."""
    return (
        effective.agg(
            F.sum("length_m").alias("total_m"),
            F.sum("effective_m").alias("raw_effective_m"),
        )
        .select(
            "total_m",
            F.least(F.greatest("raw_effective_m", F.lit(0.0)), F.col("total_m")).alias(
                "effective_m"
            ),  # clamp eff in [0, total] (:872)
        )
        .select(
            "total_m",
            "effective_m",
            F.greatest(F.col("total_m") - F.col("effective_m"), F.lit(0.0)).alias(
                "savings_m"
            ),  # (:873)
            F.when(
                F.col("total_m") > 0,
                (F.col("total_m") - F.col("effective_m")) / F.col("total_m") * 100.0,
            ).otherwise(0.0).alias("savings_pct"),  # div-0 guard (:879)
            F.lit(detection_range_m).alias("param_detection_range_m"),
            F.lit(min_parallel_m).alias("param_min_parallel_m"),
            F.lit(segment_length_m).alias("param_segment_length_m"),
            F.lit(angular_tolerance_deg).alias("param_angular_tolerance_deg"),
        )
    )


def analyze_pipelines(
    pipelines: DataFrame,
    detection_range_m: float = DEFAULT_DETECTION_RANGE_M,
    min_parallel_m: float = MIN_PARALLEL_LENGTH_M,
    segment_length_m: float = SEGMENT_LENGTH_M,
    angular_tolerance_deg: float = ANGULAR_TOLERANCE_DEG,
) -> dict[str, DataFrame]:
    detection_range_m, min_parallel_m, segment_length_m, angular_tolerance_deg = (
        _clamp_params(
            detection_range_m, min_parallel_m, segment_length_m, angular_tolerance_deg
        )
    )
    # ops 8-10: per-pipeline geodesic length + totals.  Pipelines with
    # NULL or empty geometry have no length row; a 1-vertex pipeline is
    # 0.0 m long.  Persisted: re-read by totals, effective and every sink
    # (module docstring).
    lengths = persist_tracked(
        pipelines.where(F.size("geometry") > 0).select(
            "pipeline_id", "name",
            polyline_length_m(F.col("geometry")).alias("length_m"),
        )
        .withColumn("length_mi", F.col("length_m") / US_SURVEY_MILE_M)
    )
    totals = lengths.agg(
        F.sum("length_m").alias("total_m"),
        (F.sum("length_m") / US_SURVEY_MILE_M).alias("total_mi"),
        F.count(F.lit(1)).cast("bigint").alias("n_pipelines"),
    )

    # op 11: 5 m segments — persisted: reused by ops 12, 18 and 21.
    # MEMORY_AND_DISK_DESER (== DataFrame cache()): corpus-scale segment
    # state spills to disk instead of evicting and re-running the Arrow
    # resampler; deserialized storage keeps re-reads cheap.  Tracked so
    # release_caches() frees it once the result envelope is materialized.
    segments = persist_tracked(segmentize(pipelines, segment_length_m))

    # op 12: distance + bearing self-join — persisted: BOTH the
    # sessionization branch and the op-21 neighbor branch consume it, and
    # without persistence the plan's most expensive shuffle (grid join +
    # 9x neighbor explode + haversine recheck) executed once per branch
    # (review r06)
    pairs = persist_tracked(
        distance_self_join(
            segments,
            detection_range_m,
            bearing_tol_deg=angular_tolerance_deg,
            keep_coords=True,
        )
    )

    # ops 13-17: sessions, kept >= min_parallel hits (persisted: the
    # section aggregate, the corridor kernel and the op-18 rollup read them)
    kept_hits = persist_tracked(
        bundled_hits(sessionize(pairs), segment_length_m, min_parallel_m)
    )
    # op 19 (:744-745), persisted (module docstring).  Ties on
    # bundled_length_mi (n_hits x segment length) are common: the key
    # columns break them so the export order does not follow the layout.
    sections = persist_tracked(
        section_stats(kept_hits, segment_length_m)
        .join(
            corridor_polygons(kept_hits, detection_range_m, segment_length_m),
            ["p1", "p2", "section", "n_hits"],
        )
        .orderBy(F.desc("bundled_length_mi"), "p1", "p2", "section")
    )
    per_pipeline_overlap = bundled_rollup(kept_hits, segment_length_m)

    # op 21: k-cluster effective length + per-pipeline tails (:824-845)
    effective = (
        lengths.join(segment_effective(segments, pairs), "pipeline_id", "left")
        .select(
            "pipeline_id",
            "length_m",
            (
                F.coalesce("seg_eff_m", F.lit(0.0))
                + F.greatest(
                    F.col("length_m") - F.coalesce("seg_total_m", F.lit(0.0)),
                    F.lit(0.0),
                )  # un-segmented tail remainder (:839-845)
            ).alias("effective_m"),
        )
    )

    # op 22 envelope: clamps + savings + parameter echo (:872-896)
    summary = overlap_summary(
        effective, detection_range_m, min_parallel_m, segment_length_m,
        angular_tolerance_deg,
    )

    return {
        "lengths": lengths,
        "totals": totals,
        "segments": segments,
        "sections": sections,
        "per_pipeline_overlap": per_pipeline_overlap,
        "effective": effective,
        "summary": summary,
    }
