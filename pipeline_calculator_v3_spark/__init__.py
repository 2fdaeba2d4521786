"""pipeline_calculator_v3_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of
``ArchAerialData/pipeline_calculator-v3`` (reference snapshot at
``/root/reference``) as an idiomatic Spark DataFrame/SQL library, widened to a
general relational + text/embedding data-pipeline surface designed for
100 TB-scale execution.

Layout
------
- ``session``    SparkSession factory (AQE, Arrow, UTC).
- ``functions``  Column-expression libraries (geodesy, text, vectors).
- ``operators``  Reusable DataFrame->DataFrame transformations (distance join,
                 sessionize, as-of join, dedup, similarity, segmentize, ...).
- ``sources``    KML/KMZ + parquet readers.
- ``plans``      End-to-end compositions (overlap analysis) + synthetic
                 geometry derivations used by the correctness harness.
- ``streaming``  Structured Streaming wrappers over the batch transformations.
- ``sinks``      CSV/JSON/TXT/KML writers.
- ``queries``    The declared query registry consumed by ``__spark_entry__``.
"""

__version__ = "0.1.0"

# Constants preserved from the reference engine
# (src/pipeline_calculator_v3.py:38-49).
US_SURVEY_MILE_M = 1609.347218694  # src/pipeline_calculator_v3.py:49
DEFAULT_DETECTION_RANGE_M = 15.0   # src/pipeline_calculator_v3.py:38
MIN_PARALLEL_LENGTH_M = 200.0      # src/pipeline_calculator_v3.py:39
SEGMENT_LENGTH_M = 5.0             # src/pipeline_calculator_v3.py:40
ANGULAR_TOLERANCE_DEG = 15.0       # src/pipeline_calculator_v3.py:41
# GAP_TOLERANCE (:42) is dead in the reference; real gap rule is
# "segment-index delta <= 2" (src/pipeline_calculator_v3.py:421-422).
SESSION_GAP_SEGMENTS = 2


def release_caches(spark):
    """Free every cache/checkpoint the engine pinned (see ``caching``)."""
    from .caching import release_caches as _release

    _release(spark)
