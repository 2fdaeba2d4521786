"""End-to-end + UDF-surface queries (SURVEY.md §2.B q_parallel_overlap's
full-pipeline twin and q_udf_surface)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from . import (
    ANGULAR_TOLERANCE_DEG,
    DEFAULT_DETECTION_RANGE_M,
    MIN_PARALLEL_LENGTH_M,
    SEGMENT_LENGTH_M,
)
from .caching import persist_tracked
from .operators.spatial import distance_self_join
from .plans import synth
from .plans.overlap import (
    analyze_pipelines,
    bundled_hits,
    overlap_summary,
    section_stats,
    segment_effective,
    sessionize,
)
from .queries import query
from .queries_spatial import (
    _PAIR_DIST,
    _PAIRS_CTE,
    _SESSIONS_CTE,
    _persisted_pairs,
)


@query("q_overlap_e2e")  # rows-only: corridor polygons are output-only geometry
def q_overlap_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's entire analyze_complete flow (op 22) over the
    synthetic pipelines: segmentize -> distance join -> sessions -> sections
    with corridor polygons.  Returns the sections table (flattened polygons
    to counts for a stable rows-only schema)."""
    pipes = synth.pipelines_df(spark, sf_dir)
    res = analyze_pipelines(pipes)
    return res["sections"].select(
        "p1", "p2", "section", "n_hits", "bundled_length_m",
        "average_separation", "oriented_width_m",
        F.size("oriented_polygon").cast("bigint").alias("n_rect_pts"),
        F.size("corridor_polygon").cast("bigint").alias("n_corridor_pts"),
    )


# Corridor SCALARS, oracle-gated (VERDICT r09 #3 — the last no_oracle hole):
# everything the corridor kernel computes per section EXCEPT the literal
# polygon vertices replays in ANSI SQL — bbox over both midpoint sets with
# the 0.001-deg buffer and its midpoint center
# (src/pipeline_calculator_v3.py:461-474), width = max separation + 10 m
# margin clamped to 2 x detection range (:546-559) — on the SAME pair CTE
# and sessionization text the hash-green q_parallel_overlap oracle uses,
# so the section derivation cannot fork.  The polygons themselves stay
# rows-only (q_overlap_e2e) + golden-gated (tests/test_corridor.py).
# The synthetic field sits at lon -103.5, so the kernel's antimeridian
# unwrap (operators/corridor.py:197-200) is arithmetically the identity
# here; the oracle spells plain MIN/MAX.
@query(
    "q_overlap_sections",
    oracle=f"""
WITH {synth.SEGMENTS_CTE},
pairs_c AS (
    SELECT a.pipeline_id AS p1, b.pipeline_id AS p2,
           a.seg_index AS seg1, b.seg_index AS seg2,
           {_PAIR_DIST} AS dist_m,
           a.mid_lon AS a_lon, a.mid_lat AS a_lat,
           b.mid_lon AS b_lon, b.mid_lat AS b_lat
    FROM segments a JOIN segments b
      ON a.pipeline_id < b.pipeline_id
    WHERE {_PAIR_DIST} <= {DEFAULT_DETECTION_RANGE_M!r}
),
pairs AS (SELECT p1, p2, seg1, seg2, dist_m FROM pairs_c),
{_SESSIONS_CTE},
kh AS (
    SELECT sd.p1, sd.p2, CAST(sd.section AS BIGINT) AS section, sd.dist_m,
           c.a_lon, c.a_lat, c.b_lon, c.b_lat
    FROM sessioned sd
    JOIN sections sec ON sec.p1 = sd.p1 AND sec.p2 = sd.p2
                     AND sec.section = sd.section
    JOIN pairs_c c ON c.p1 = sd.p1 AND c.p2 = sd.p2
                  AND c.seg1 = sd.seg1 AND c.seg2 = sd.seg2
),
pts AS (
    SELECT p1, p2, section, a_lon AS lon, a_lat AS lat FROM kh
    UNION ALL
    SELECT p1, p2, section, b_lon, b_lat FROM kh
),
box AS (
    SELECT p1, p2, section,
           MIN(lon) - 0.001 AS min_lon, MAX(lon) + 0.001 AS max_lon,
           MIN(lat) - 0.001 AS min_lat, MAX(lat) + 0.001 AS max_lat
    FROM pts GROUP BY 1, 2, 3
),
wd AS (
    SELECT p1, p2, section,
           LEAST(MAX(dist_m) + 10.0, {2.0 * DEFAULT_DETECTION_RANGE_M!r})
               AS oriented_width_m
    FROM kh GROUP BY 1, 2, 3
)
SELECT s.p1, s.p2, s.section, s.n_hits, s.bundled_length_m,
       s.bundled_length_mi, s.avg_separation_m,
       (b.min_lon + b.max_lon) / 2.0 AS center_lon,
       (b.min_lat + b.max_lat) / 2.0 AS center_lat,
       b.min_lon, b.max_lon, b.min_lat, b.max_lat,
       w.oriented_width_m
FROM sections s
JOIN box b ON b.p1 = s.p1 AND b.p2 = s.p2 AND b.section = s.section
JOIN wd  w ON w.p1 = s.p1 AND w.p2 = s.p2 AND w.section = s.section
""",
)
def q_overlap_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corridor sections with every SCALAR the corridor kernel emits —
    section aggregates (n_hits, bundled length m/mi, avg separation) plus
    the kernel's bbox, center and oriented width — value-gated against the
    cross-join oracle; the polygon rings these scalars frame remain the
    rows-only q_overlap_e2e surface.  The scalars come FROM the real
    ``applyInPandas`` corridor kernel (operators/corridor.py), not a
    parallel reimplementation, so the oracle verdict covers the kernel's
    bbox/width arithmetic itself.

    Scale shape: identical exchanges to q_parallel_overlap (grid-bucket
    distance join, one (p1,p2)-keyed sessionization window) + the
    section-keyed corridor kernel; the kept-hits frame is persisted once
    for its two consumers (aggregate + kernel)."""
    from .operators.corridor import corridor_polygons

    seg = synth.segments_df(spark, sf_dir)
    pairs = distance_self_join(seg, DEFAULT_DETECTION_RANGE_M, keep_coords=True)
    kept = persist_tracked(
        bundled_hits(sessionize(pairs), SEGMENT_LENGTH_M, MIN_PARALLEL_LENGTH_M)
    )
    agg = section_stats(kept, SEGMENT_LENGTH_M).withColumnRenamed(
        "average_separation", "avg_separation_m"
    )
    corr = corridor_polygons(
        kept, DEFAULT_DETECTION_RANGE_M, SEGMENT_LENGTH_M
    ).select(
        "p1", "p2", "section", "n_hits",
        "center_lon", "center_lat",
        "min_lon", "max_lon", "min_lat", "max_lat",
        "oriented_width_m",
    )
    return agg.join(corr, ["p1", "p2", "section", "n_hits"])


@query(
    "q_overlap_summary",
    oracle=f"""
WITH {synth.SEGMENTS_CTE},
{_PAIRS_CTE},
neighbors AS (
    SELECT p1 AS p, seg1 AS i, p2 AS o FROM pairs
    UNION ALL
    SELECT p2 AS p, seg2 AS i, p1 AS o FROM pairs
),
k_per_seg AS (
    SELECT p, i, CAST(COUNT(DISTINCT o) + 1 AS BIGINT) AS k
    FROM neighbors GROUP BY p, i
),
eff AS (
    SELECT s.pipeline_id,
           COUNT(*) * {SEGMENT_LENGTH_M!r} AS length_m,
           SUM({SEGMENT_LENGTH_M!r} / COALESCE(k.k, 1)) AS effective_m
    FROM segments s
    LEFT JOIN k_per_seg k ON k.p = s.pipeline_id AND k.i = s.seg_index
    GROUP BY s.pipeline_id
),
tot AS (
    SELECT SUM(length_m) AS total_m, SUM(effective_m) AS raw_effective_m FROM eff
),
clamped AS (
    SELECT total_m,
           LEAST(GREATEST(raw_effective_m, 0.0), total_m) AS effective_m
    FROM tot
)
SELECT ROUND(total_m, 6) AS total_m,
       ROUND(effective_m, 6) AS effective_m,
       ROUND(GREATEST(total_m - effective_m, 0.0), 6) AS savings_m,
       ROUND(CASE WHEN total_m > 0
                  THEN (total_m - effective_m) / total_m * 100.0
                  ELSE 0.0 END, 6) AS savings_pct,
       {DEFAULT_DETECTION_RANGE_M!r} AS param_detection_range_m,
       {MIN_PARALLEL_LENGTH_M!r} AS param_min_parallel_m,
       {SEGMENT_LENGTH_M!r} AS param_segment_length_m,
       {ANGULAR_TOLERANCE_DEG!r} AS param_angular_tolerance_deg
FROM clamped
""",
)
def q_overlap_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 22's result envelope — totals, effective clamped to [0, total],
    savings with div-0 guard, parameter echo
    (src/pipeline_calculator_v3.py:872-896) — driven through the SAME
    ``overlap_summary`` code ``analyze_pipelines`` uses, over the
    oracle-shared synthetic segment field (the full-DAG twin with
    pandas-UDF resampling stays rows-only as q_overlap_e2e).  Float sums
    round to 6 dp on both sides for hash stability."""
    seg = synth.segments_df(spark, sf_dir)
    effective = segment_effective(seg, _persisted_pairs(seg)).select(
        "pipeline_id",
        F.col("seg_total_m").alias("length_m"),
        F.col("seg_eff_m").alias("effective_m"),
    )
    summary = overlap_summary(
        effective,
        DEFAULT_DETECTION_RANGE_M,
        MIN_PARALLEL_LENGTH_M,
        SEGMENT_LENGTH_M,
        ANGULAR_TOLERANCE_DEG,
    )
    return summary.select(
        F.round("total_m", 6).alias("total_m"),
        F.round("effective_m", 6).alias("effective_m"),
        F.round("savings_m", 6).alias("savings_m"),
        F.round("savings_pct", 6).alias("savings_pct"),
        "param_detection_range_m",
        "param_min_parallel_m",
        "param_segment_length_m",
        "param_angular_tolerance_deg",
    )


@query("q_udf_surface")  # rows-only: scalar pandas UDF demo surface
def q_udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF surface (SURVEY.md §2.B): a vectorized scalar pandas UDF (Arrow
    batches) computing haversine against the JVM column expression —
    max |delta| proves the two paths agree to float precision."""
    from .functions.geodesy import haversine_m
    from .shipping import ensure_pkg_shipped

    ensure_pkg_shipped(spark)

    @pandas_udf("double")
    def hav_np(lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series) -> pd.Series:
        import numpy as np

        la1, lo1, la2, lo2 = map(np.radians, (lat1, lon1, lat2, lon2))
        a = (
            np.sin((la2 - la1) / 2) ** 2
            + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2
        )
        return pd.Series(2.0 * 6371008.8 * np.arcsin(np.sqrt(np.minimum(1.0, a))))

    v = synth.vertices_df(spark, sf_dir)
    paired = v.withColumn("lat2", F.col("lat") + 0.001).withColumn(
        "lon2", F.col("lon") + 0.001
    )
    return paired.select(
        "pipeline_id",
        "pos",
        hav_np("lat", "lon", "lat2", "lon2").alias("dist_udf"),
        haversine_m(F.col("lat"), F.col("lon"), F.col("lat2"), F.col("lon2")).alias(
            "dist_jvm"
        ),
        F.abs(
            hav_np("lat", "lon", "lat2", "lon2")
            - haversine_m(F.col("lat"), F.col("lon"), F.col("lat2"), F.col("lon2"))
        ).alias("abs_delta"),
    )


@query("q_udtf_surface")  # rows-only: UDTF path; HOF-equivalence pytest-gated
def q_udtf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4, arrow-optimized): a table function
    expanding each document into fixed-size token windows — the UDTF twin
    of operators/chunking.py's pure-HOF expansion, registered + invoked
    via LATERAL join.  tests/test_packing.py proves the two paths emit
    IDENTICAL rows, the same JVM-vs-Python agreement gate q_udf_surface
    applies to scalar UDFs.  The HOF path remains the hot path (no Python
    in the loop); the UDTF exists because user-defined EXPANSIONS are part
    of the declared API surface and some real kernels (parsers, decoders)
    cannot be HOFs."""
    from pyspark.sql.functions import udtf

    from .queries import t as _t
    from .shipping import ensure_pkg_shipped

    ensure_pkg_shipped(spark)

    @udtf(returnType="chunk_idx bigint, n_tokens bigint, first_token string")
    class ChunkWindows:
        def eval(self, text: str):
            toks = [w for w in (text or "").lower().split() if w]
            step, width = 16, 32
            for ci, start in enumerate(range(0, len(toks), step)):
                w = toks[start:start + width]
                yield ci, len(w), w[0]

    spark.udtf.register("pcv3_chunk_windows", ChunkWindows)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.n_tokens, c.first_token
        FROM docs_udtf d, LATERAL pcv3_chunk_windows(d.text) c
        """
    )
