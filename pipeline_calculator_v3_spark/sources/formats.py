"""Columnar/text interchange formats beyond parquet: ORC and raw-text corpus
ingestion.

The reference consumes only KMZ/KML + its GUI state (SURVEY.md §2.A ops 1-5);
a pipeline engine feeding a training run additionally ingests whatever the
upstream lake holds.  Spark reads/writes ORC natively (same Catalyst
datasource path as parquet: predicate pushdown, column pruning, vectorized
reader), and raw text via the `text` source (one row per line, or
``wholetext`` for one row per file — the raw-corpus shape before document
parsing).  Both are thin, deliberately: the value is the round-trip contract
tests (tests/test_formats.py), not wrapper code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Distributed ORC write; ``partition_by`` produces hive-style dirs so
    downstream reads get partition pruning."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """ORC scan; pass ``schema`` to skip footer inference (the explicit-schema
    rule that matters at millions of files — see sql.SCHEMAS["events"])."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def _bytes_conf(spark: SparkSession, key: str) -> int:
    """A Spark size conf ('128MB', '1.5g', '134217728b', plain digits) as
    bytes.  The unit multiplier applies BEFORE truncation (review r12:
    int(float('1.5')) * 1GiB understated '1.5g' by half a unit, failing
    reads Spark itself would happily plan), and the petabyte unit Spark
    accepts is included."""
    raw = str(spark.conf.get(key)).strip().lower()
    units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
             "t": 1 << 40, "p": 1 << 50}
    for suffix in ("kb", "mb", "gb", "tb", "pb", "k", "m", "g", "t", "p",
                   "b"):
        if raw.endswith(suffix):
            return int(float(raw[: -len(suffix)]) * units[suffix[0]])
    return int(raw)


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """One row per line (column ``value``), with the source file and the
    line's position within it — the stable document identity a line-oriented
    corpus ingest needs (input_file_name + a per-file monotonic id would NOT
    be stable across partitionings; the (file, line_no) pair is computed
    per-partition on data that arrives file-contiguous from the text source).

    Files larger than ``spark.sql.files.maxPartitionBytes`` are REJECTED
    loudly (review r06): Spark bin-packs a big file's splits in size order,
    not offset order, so the split-local id ordering no longer follows file
    position and line_no would be silently wrong — plausible numbers,
    corrupted identities.  Raise the conf, or have oversized files carry
    their own ids upstream."""
    limit = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes")
    lines = spark.read.text(path).select(
        F.input_file_name().alias("path"),
        F.col("_metadata.file_size").alias("_fsize"),
        F.col("value"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("path").orderBy(F.monotonically_increasing_id())
    rn = F.row_number().over(w)
    # executor-side guard folded into the output column so pruning cannot
    # drop it (same pattern as the spatial latitude guard)
    line_no = F.when(F.col("_fsize") <= F.lit(limit), rn).otherwise(
        F.raise_error(F.concat(
            F.lit("read_text_lines: file "), F.col("path"),
            F.lit(f" exceeds spark.sql.files.maxPartitionBytes ({limit}); "
                  "its splits reorder and line_no would be wrong — raise "
                  "the conf or assign line ids upstream"),
        ))
    )
    return lines.withColumn("line_no", line_no).drop("_fsize")


def read_text_whole(spark: SparkSession, path: str) -> DataFrame:
    """One row per FILE (``path``, ``value``) — document-per-file corpora."""
    return spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("path"), F.col("value")
    )


def read_jsonl(
    spark: SparkSession, path: str, schema: str, corrupt_col: str = "_corrupt"
) -> DataFrame:
    """JSONL corpus scan with an EXPLICIT schema and PERMISSIVE bad-row
    capture — the dominant training-corpus interchange format.

    Two non-negotiables at 100 TB, both encoded here:
    - explicit schema: json schema inference is a full extra pass over the
      data (and nondeterministic under sampling); a corpus reader states its
      contract up front (same rule as sql.SCHEMAS["events"]).
    - PERMISSIVE + corrupt-record column: a million-file crawl always
      contains malformed lines; failing the job (FAILFAST) or silently
      dropping (DROPMALFORMED) both lose information — landing bad lines in
      ``corrupt_col`` keeps them countable/quarantinable downstream, the
      same skip-don't-crash semantics as the reference's KML parser
      (src/pipeline_calculator_v3.py:129-132).

    Spark restriction worth knowing: a query that references ONLY the
    corrupt column on the raw files is disallowed
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — cache or
    otherwise materialize the parsed frame before bad-row-only audits.
    """
    full = f"{schema}, {corrupt_col} string"
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def write_jsonl(df: DataFrame, path: str) -> None:
    """Distributed JSONL write (one JSON object per line, N part files)."""
    df.write.mode("overwrite").json(path)


def read_jsonl_quarantined(
    spark: SparkSession, path: str, schema: str, corrupt_col: str = "_corrupt"
) -> tuple[DataFrame, DataFrame]:
    """(parsed, quarantined) from ONE cached permissive scan — the
    split every corpus ingest actually performs on :func:`read_jsonl`'s
    output: typed rows for lines that parsed, (raw line,) for lines that
    did not.  The split predicate is `corrupt_col IS NULL` — Spark
    leaves the column null exactly when the whole line parsed under the
    explicit schema.  Cached both because the split reads the scan twice
    and because of the corrupt-column-only restriction documented on
    :func:`read_jsonl`."""
    from ..caching import persist_tracked

    raw = persist_tracked(read_jsonl(spark, path, schema, corrupt_col))
    parsed = raw.where(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantined = raw.where(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw")
    )
    return parsed, quarantined


def read_csv_corpus(
    spark: SparkSession,
    path: str,
    schema: str,
    corrupt_col: str = "_corrupt",
    header: bool = True,
    sep: str = ",",
    multiline: bool = False,
) -> DataFrame:
    """CSV ingestion with an EXPLICIT schema and PERMISSIVE bad-row capture
    — the same two non-negotiables as read_jsonl (schema inference is an
    extra full pass; FAILFAST loses the job, DROPMALFORMED loses the
    information), applied to the format flat-file exports actually arrive
    in.  Quoted fields, embedded separators, and multiline quoted values
    are the CSV-specific hazards the datasource handles; rows whose
    arity/types do not fit the schema land whole in ``corrupt_col``.

    ``multiline`` (default OFF) opts into quoted embedded newlines — it
    costs splittability (one task per whole file, however large) and
    turns a stray unbalanced quote into a file-swallowing mega-row, so a
    corpus reader only pays it when the data genuinely contains them.
    Null renders as an explicit ``\\N`` marker (both sides), so empty
    string and NULL survive the write->read cycle as DISTINCT values —
    with the default nullValue="" the reader collapses quoted "" and
    bare-empty alike to null and the cycle silently mutates the corpus.

    The QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction applies exactly as
    for JSON: materialize the parsed frame before bad-row-only audits."""
    full = f"{schema}, {corrupt_col} string"
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .option("header", "true" if header else "false")
        .option("sep", sep)
        .option("multiLine", "true" if multiline else "false")
        .option("escape", '"')
        .option("nullValue", "\\N")
        .option("emptyValue", "")
        .csv(path)
    )


def write_csv_corpus(df: DataFrame, path: str, header: bool = True) -> None:
    """Distributed CSV write (quoted as needed, N part files) — the
    scale-path twin of sinks.write_lengths_csv's single-file parity mode."""
    (
        df.write.mode("overwrite")
        .option("header", "true" if header else "false")
        .option("escape", '"')
        .option("nullValue", "\\N")
        .option("emptyValue", '""')
        .csv(path)
    )


def read_parquet_evolving(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """Parquet dataset whose files were written under an EVOLVING schema
    (columns added over time) — the normal state of a long-lived 100 TB
    corpus directory.

    Two modes, the 100 TB tradeoff made explicit:
    - ``schema=None``: ``mergeSchema`` unions every file footer into one
      superset schema; files lacking a column null-fill it.  Correct but
      pays a footer-read per file at planning time — fine for thousands of
      files, a planning stall for millions.
    - ``schema='...'`` (DDL string): the caller states the CURRENT contract
      up front; no footer sweep, old files null-fill the missing columns.
      This is the production path (same explicit-schema rule as
      sql.SCHEMAS["events"] / read_jsonl) — mergeSchema is for the
      exploratory "what is actually in this directory" pass.

    Either way the engine-level guarantee is the same: adding a column is
    a non-event for readers (old data reads as NULL); REMOVING or
    re-typing a column is a breaking change this reader deliberately does
    not paper over (a re-typed column fails loudly on read instead of
    silently coercing).
    """
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: str | None = None,
) -> DataFrame:
    """XML record scan via Spark 4's NATIVE xml datasource (the spark-xml
    package merged upstream — no external jar): one row per ``row_tag``
    element, nested elements as structs/arrays, attributes as
    ``_attrname`` columns.  Pass ``schema`` to skip inference (the
    explicit-schema rule: inference reads every file TWICE — fatal at
    millions of files — and a production feed's shape is a contract, not
    a discovery).

    Complements sources/kml.py, which stays the KML path on purpose: the
    reference's parser semantics (namespace inference, Item_{n}
    defaulting, Data-over-SimpleData precedence, archive dispatch) are
    reference-parity behavior a generic XML scan cannot spell.  This
    reader is for everything else the lake holds in XML (feeds, sitemap
    dumps, export formats)."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(
    df: DataFrame, path: str, row_tag: str, root_tag: str = "rows"
) -> None:
    """Distributed XML write (native datasource): each row becomes one
    ``row_tag`` element under ``root_tag`` per part file.  NULL fields
    are omitted (the datasource's contract) — round-trip tests pin
    that asymmetry so schema-contract readers aren't surprised."""
    (
        df.write.mode("overwrite")
        .format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .save(path)
    )
