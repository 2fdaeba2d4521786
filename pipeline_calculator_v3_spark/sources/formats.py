"""JSONL corpus interchange: an explicit-schema, PERMISSIVE reader, its
quarantine split, and a distributed writer.

The reference consumes only KMZ/KML + its GUI state (SURVEY.md §2.A ops 1-5);
a pipeline engine feeding a training run additionally ingests JSONL, the
dominant training-corpus interchange format.  Spark's json datasource does
the parsing; the value here is the stated schema and the bad-row capture
(tests/test_jsonl_source.py), not wrapper code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSONL corpus scan with an EXPLICIT schema and PERMISSIVE bad-row
    capture — the dominant training-corpus interchange format.

    Two non-negotiables at 100 TB, both encoded here:
    - explicit schema: json schema inference is a full extra pass over the
      data (and nondeterministic under sampling); a corpus reader states its
      contract up front (same rule as sql.SCHEMAS["events"]).
    - PERMISSIVE + corrupt-record column: a million-file crawl always
      contains malformed lines; failing the job (FAILFAST) or silently
      dropping (DROPMALFORMED) both lose information — landing bad lines in
      ``_corrupt`` keeps them countable/quarantinable downstream, the
      same skip-don't-crash semantics as the reference's KML parser
      (src/pipeline_calculator_v3.py:129-132).

    Spark restriction worth knowing: a query that references ONLY the
    corrupt column on the raw files is disallowed
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — cache or
    otherwise materialize the parsed frame before bad-row-only audits.
    """
    full = f"{schema}, _corrupt string"
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )



def write_jsonl(df: DataFrame, path: str) -> None:
    """Distributed JSONL write (one JSON object per line, N part files)."""
    df.write.mode("overwrite").json(path)



def read_jsonl_quarantined(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """(parsed, quarantined) from ONE cached permissive scan — the
    split every corpus ingest actually performs on :func:`read_jsonl`'s
    output: typed rows for lines that parsed, (raw line,) for lines that
    did not.  The split predicate is `_corrupt IS NULL` — Spark
    leaves the column null exactly when the whole line parsed under the
    explicit schema.  Cached both because the split reads the scan twice
    and because of the corrupt-column-only restriction documented on
    :func:`read_jsonl`."""
    from ..caching import persist_tracked

    raw = persist_tracked(read_jsonl(spark, path, schema))
    parsed = raw.where(F.col("_corrupt").isNull()).drop("_corrupt")
    quarantined = raw.where(F.col("_corrupt").isNotNull()).select(
        F.col("_corrupt").alias("raw")
    )
    return parsed, quarantined

