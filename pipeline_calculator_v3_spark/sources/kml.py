"""KMZ/KML source — reference ops 1-7 (``extract_features_from_file``,
src/pipeline_calculator_v3.py:55-146) as a distributed Spark source.

Spark-first shape: ``spark.read.format("binaryFile")`` lists and reads the
files (driver never touches the bytes), then a ``mapInPandas`` kernel parses
each file's XML and emits feature rows.  One task per file — at 100 TB the
unit of parallelism is the archive, matching how KMZ data actually arrives
(many files), and the parser's memory is bounded per file by iterparse +
elem.clear() (the reference's own technique, src/pipeline_calculator_v3.py:80-90,134).

Semantics preserved:
- .kmz = zip, first inner .kml wins (src/pipeline_calculator_v3.py:58-68)
- XML namespace sniffed from the root tag (:86-88)
- feature dispatch (:110-128): features with ZERO valid coords are skipped
  entirely; LineString wins (`has_linestring or (>=2 coords and not
  has_point)` -> pipeline, so a Placemark holding both a LineString and a
  Point is a pipeline); `has_point or exactly 1 coord` -> placemark
- missing <name> -> Item_{pipelines+placemarks+1} (the index counts
  PROCESSED features, not every Placemark seen, :99-102); OBJECTID from
  ExtendedData Data/SimpleData with 'N/A' default (:148-165); placemark id
  defaults to PM_{placemark_count} when OBJECTID is absent (:125)
- coordinate parse: whitespace-split "lon,lat[,alt]", malformed dropped,
  validity filter -180<=lon<=180, -90<=lat<=90 (:185-214)
- malformed placemarks skipped, never fatal — PERMISSIVE (:129-132)

Extension over the reference: the FULL ExtendedData map is kept as
``attrs MAP<STRING,STRING>`` (the fixture declares 48/52-field schemas the
reference throws away — SURVEY.md §1.2).
"""

from __future__ import annotations

import io
import re
import zipfile
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import persist_tracked
from ..shipping import ensure_pkg_shipped

PIPELINES_SCHEMA = (
    "file string, pipeline_id bigint, objectid string, name string, "
    "attrs map<string,string>, "
    "geometry array<struct<lon:double, lat:double>>"
)
PLACEMARKS_SCHEMA = "file string, placemark_id string, name string, count int"


def _open_kml_bytes(path: str, content: bytes) -> bytes | None:
    """Archive dispatch (op 2): KMZ -> first inner .kml; plain KML passes
    through; unreadable archives -> None (PERMISSIVE)."""
    if path.lower().endswith(".kmz"):
        try:
            with zipfile.ZipFile(io.BytesIO(content)) as z:
                for n in z.namelist():
                    if n.lower().endswith(".kml"):
                        return z.read(n)
            return None
        except (
            zipfile.BadZipFile,
            zlib.error,        # corrupt deflate stream inside an intact
                               # central directory (review r06: escaped the
                               # PERMISSIVE contract and failed the job)
            RuntimeError,      # encrypted entry
            NotImplementedError,  # unsupported compression method
            OSError,
            EOFError,
        ):
            return None
    return content


def _sniff_ns(data: bytes) -> str:
    """Default-namespace prefix for element matching (op 3, :86-88).

    Both quote styles and a 2000-byte window (review r06: single-quoted
    xmlns or a long prolog/comment before the root tag silently yielded
    zero features); the pattern requires '=' right after 'xmlns' so
    prefixed declarations (xmlns:gx=...) never win over the default
    namespace.  Shared by the feature parser and schema_fields (review
    r12: schema_fields still carried the pre-r06 200-byte double-quote
    sniff, so single-quoted xmlns dropped the whole typed schema)."""
    head = data[:2000].decode("utf-8", errors="ignore")
    m = re.search(r"""xmlns=["']([^"']+)["']""", head)
    return f"{{{m.group(1)}}}" if m else ""


def _parse_kml(path: str, content: bytes):
    """Yields ('pipeline'|'placemark', rowdict) per Placemark."""
    import xml.etree.ElementTree as ET

    data = _open_kml_bytes(path, content)
    if data is None:
        return
    ns = _sniff_ns(data)

    try:
        it = ET.iterparse(io.BytesIO(data), events=("end",))
    except ET.ParseError:
        return
    pipeline_count = 0
    placemark_count = 0
    try:
        for _, elem in it:
            if elem.tag != f"{ns}Placemark":
                continue
            try:
                # op 4: Item_{n} counts processed features (:98), so a
                # skipped zero-coord feature does not consume an index
                item_index = pipeline_count + placemark_count + 1
                name_el = elem.find(f"{ns}name")
                name = (
                    name_el.text.strip()
                    if name_el is not None and name_el.text and name_el.text.strip()
                    else f"Item_{item_index}"  # default-name projection (op 4)
                )
                attrs: dict[str, str] = {}
                objectid = "N/A"
                oid_data = oid_simple = None
                for d in elem.iter(f"{ns}Data"):
                    key = d.get("name")
                    v = d.find(f"{ns}value")
                    if key and v is not None and v.text is not None:
                        attrs[key] = v.text
                        if key == "OBJECTID" and oid_data is None:
                            oid_data = v.text
                for sd in elem.iter(f"{ns}SimpleData"):
                    key = sd.get("name")
                    if key and sd.text is not None:
                        attrs[key] = sd.text
                        if key == "OBJECTID" and oid_simple is None:
                            oid_simple = sd.text
                # op 5 (:148-165): the reference tries Data[@name=
                # "OBJECTID"]/value FIRST and falls back to SimpleData,
                # matches the name EXACTLY (XPath attribute match, not
                # case-folded), and strips the text (review r12: the
                # attrs-map scan inverted the precedence, case-folded, and
                # skipped the strip).  Empty-after-the-fact text keeps the
                # 'N/A' default, like the reference's truthiness check.
                chosen = oid_data if oid_data is not None else oid_simple
                if chosen is not None and chosen.strip():
                    objectid = chosen.strip()

                has_point = elem.find(f".//{ns}Point") is not None
                has_linestring = elem.find(f".//{ns}LineString") is not None
                # FIRST <coordinates> element only — exact reference
                # parity (src/pipeline_calculator_v3.py:186-191 uses
                # find('.//coordinates'), also first-in-document-order), so
                # a Point preceding a LineString wins and MultiGeometry
                # parts beyond the first are dropped THERE too
                coords_el = elem.find(f".//{ns}coordinates")
                coords: list[tuple[float, float]] = []
                if coords_el is not None and coords_el.text:
                    for tok in coords_el.text.split():  # op 7 (:185-214)
                        parts = tok.split(",")
                        if len(parts) < 2:
                            continue
                        try:
                            lon, lat = float(parts[0]), float(parts[1])
                        except ValueError:
                            continue
                        if -180.0 <= lon <= 180.0 and -90.0 <= lat <= 90.0:
                            coords.append((lon, lat))
                # dispatch (op 6, :110-128): zero valid coords -> skipped
                # entirely; LineString takes precedence over Point
                if not coords:
                    continue
                if has_linestring or (len(coords) >= 2 and not has_point):
                    pipeline_count += 1
                    yield (
                        "pipeline",
                        {
                            "file": path,
                            "pipeline_id": pipeline_count - 1,  # 0-based (:117)
                            "objectid": objectid,
                            "name": name,
                            "attrs": attrs,
                            "geometry": [
                                {"lon": lon, "lat": lat} for lon, lat in coords
                            ],
                        },
                    )
                elif has_point or len(coords) == 1:
                    placemark_count += 1
                    yield (
                        "placemark",
                        {
                            "file": path,
                            "placemark_id": (
                                objectid
                                if objectid != "N/A"
                                else f"PM_{placemark_count}"  # (:125)
                            ),
                            # OBJECTID-less ids are per-file counters and
                            # collide across a multi-file glob (the
                            # read_pipelines re-key rationale, review r06/
                            # r12); the local index lets read_placemarks
                            # re-key them globally.
                            "local_idx": placemark_count,
                            "default_id": objectid == "N/A",
                            "name": name,
                            "count": 1,
                        },
                    )
            except Exception:
                continue  # PERMISSIVE: bad placemark skipped (:129-132)
            finally:
                elem.clear()  # bound memory (:134)
    except ET.ParseError:
        return  # truncated document: keep whatever was parsed


def _read_binary(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    return spark.read.format("binaryFile").load(paths).select("path", "content")


# KML <SimpleField> types (OGC KML 2.2 §9.9) -> Spark SQL types.
_KML_TYPE_TO_SPARK = {
    "string": "string",
    "double": "double",
    "float": "double",
    "int": "bigint",
    "uint": "bigint",
    "short": "bigint",
    "ushort": "bigint",
    "long": "bigint",
    "bool": "boolean",
}


def schema_fields(spark: SparkSession, paths: str | list[str]) -> list[tuple[str, str]]:
    """Discover declared ``<Schema><SimpleField type= name=>`` fields across
    KML/KMZ file(s), in declaration order (SURVEY.md §1.2: the fixture
    declares 48- and 52-field typed schemas that the reference throws away).

    Distributed like Spark's own schema inference: files parse on executors,
    only the (name, type) metadata reaches the driver.  First declaration of
    a name wins (the fixture's two schemas agree on every shared name)."""
    ensure_pkg_shipped(spark)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import xml.etree.ElementTree as ET

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                data = _open_kml_bytes(path, bytes(content))
                if data is None:
                    continue
                ns = _sniff_ns(data)
                try:
                    pos = 0
                    for _, elem in ET.iterparse(io.BytesIO(data), events=("end",)):
                        if elem.tag == f"{ns}SimpleField":
                            name, ftype = elem.get("name"), elem.get("type")
                            if name and ftype:
                                rows.append(
                                    {"name": name, "ftype": ftype,
                                     "pos": pos, "path": path}
                                )
                                pos += 1
                        elem.clear()
                except ET.ParseError:
                    pass
            yield pd.DataFrame(rows, columns=["name", "ftype", "pos", "path"])

    # Deterministic winner per field name: min over (pos, path, ftype) — NOT
    # F.first, whose pick is partition-order dependent.  ``pos`` resets per
    # file, so the contract is: within one file, declaration order; across
    # files, a name's type and rank come from its EARLIEST per-file position,
    # ties broken by lexicographic path.
    collected = (
        _read_binary(spark, paths)
        .mapInPandas(gen, "name string, ftype string, pos long, path string")
        .groupBy("name")
        .agg(F.min(F.struct("pos", "path", "ftype")).alias("w"))
        .select("name", "w.pos", "w.path", "w.ftype")
        .orderBy("pos", "path", "name")
        .collect()
    )
    return [(r.name, r.ftype) for r in collected]


def attrs_to_columns(
    df: DataFrame, fields: list[tuple[str, str]]
) -> DataFrame:
    """Pivot declared ExtendedData fields out of the ``attrs`` map into typed
    top-level columns (SURVEY.md §1.2 'optionally pivot known fields').

    Pure Column expressions — ``element_at`` + ``try_cast`` stay in
    whole-stage codegen; unparseable values become NULL, matching the
    permissive source contract.  try_cast, not cast (review r06, live-
    reproduced): under Spark 4's default ANSI mode a plain cast on a value
    like 'N/A' in a double-typed field throws CAST_INVALID_INPUT and kills
    the job.  Names already present on ``df`` are skipped.
    """
    existing = set(df.columns)
    typed = [
        F.element_at(F.col("attrs"), F.lit(name))
        .try_cast(_KML_TYPE_TO_SPARK.get(ftype, "string"))
        .alias(name)
        for name, ftype in fields
        if name not in existing
    ]
    return df.select("*", *typed)


def read_pipelines(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """T1 `pipelines` DataFrame from KMZ/KML path(s)/glob."""
    ensure_pkg_shipped(spark)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                for kind, row in _parse_kml(path, bytes(content)):
                    if kind == "pipeline":
                        rows.append(row)
            yield pd.DataFrame(
                rows,
                columns=["file", "pipeline_id", "objectid", "name", "attrs", "geometry"],
            )

    # One task parses one file, so a single large survey would run the
    # lengths fold and the segment kernel downstream in one task.  A parse
    # with fewer partitions than the session's parallelism is hashed out
    # by pipeline before it is cached; AQE sizes the partitions by bytes,
    # as it did the vertex shuffle segmentize once ran, so a small input
    # stays one partition.  Sorted within partitions, that partition keeps
    # the file's order, so the float sums downstream add in the same order
    # as without the shuffle.  Persisted once, the only cached copy of the
    # geometry: the overlap plan reads the pipelines for lengths and for
    # segments.
    raw = _read_binary(spark, paths)
    parsed = raw.mapInPandas(gen, PIPELINES_SCHEMA)
    if parsed.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        parsed = parsed.repartition("file", "pipeline_id").sortWithinPartitions(
            "file", "pipeline_id")
    parsed = persist_tracked(parsed)
    # pipeline_id is 0-based PER FILE (reference :117); across a multi-file
    # glob the ids would collide and downstream per-pipeline grouping would
    # merge unrelated polylines (review r06).  A single file keeps its ids
    # verbatim: its base is 0.  Several files re-key by the per-file base,
    # so the global ids run 0..N-1 in (file, local id) order.  The bases
    # (one row per file) are cached: the overlap plan reads the result
    # several times per pass, and each read then re-runs only their
    # broadcast, not the aggregate and the window.
    if len(raw.inputFiles()) <= 1:
        return parsed
    bases = persist_tracked(_file_bases(parsed, F.max("pipeline_id") + 1))
    return parsed.join(F.broadcast(bases), ["file"]).select(
        "file",
        (F.col("_base") + F.col("pipeline_id")).alias("pipeline_id"),
        "objectid", "name", "attrs", "geometry",
    )


def _file_bases(parsed: DataFrame, n_ids: Column) -> DataFrame:
    """(file, _base): how many ids the files sorted before each file use,
    ``n_ids`` being one file's count.  The parser numbers each file's
    features with a dense counter (``_parse_kml``), so base + local id is
    unique across a multi-file glob.  The unpartitioned window runs over
    ONE lightweight row per file, never the geometry arrays."""
    wf = Window.orderBy("file").rowsBetween(Window.unboundedPreceding, -1)
    return (
        parsed.groupBy("file").agg(n_ids.alias("_n"))
        .withColumn("_base", F.coalesce(F.sum("_n").over(wf), F.lit(0)))
        .select("file", "_base")
    )


def read_placemarks(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """T2 `placemarks` DataFrame (point features) from KMZ/KML path(s)."""
    ensure_pkg_shipped(spark)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                for kind, row in _parse_kml(path, bytes(content)):
                    if kind == "placemark":
                        rows.append(row)
            yield pd.DataFrame(
                rows,
                columns=["file", "placemark_id", "local_idx",
                         "default_id", "name", "count"],
            )

    parsed = persist_tracked(
        _read_binary(spark, paths).mapInPandas(
            gen, PLACEMARKS_SCHEMA + ", local_idx int, default_id boolean"
        )
    )
    # default PM_{n} ids are per-file counters: across a multi-file glob
    # they collide and a downstream groupBy/join on placemark_id merges
    # unrelated placemarks (exactly the read_pipelines re-key rationale,
    # review r06/r12).  Disambiguate the FILE dimension only: a default
    # placemark keeps its reference within-file number (local_idx, the
    # parser's placemark_count — which counts ALL point placemarks, so a
    # mixed OBJECTID/default file numbers defaults exactly like the
    # reference's PM_{placemark_count}, review r13) offset by a per-file
    # base (the total placemark count of preceding files).  A single file
    # is therefore reference-verbatim, mixed ids included; OBJECTID-derived
    # ids are data and stay untouched.  local_idx is 1-based, so a file's
    # count is its largest.
    bases = _file_bases(parsed, F.max("local_idx"))
    return (
        parsed.join(F.broadcast(bases), ["file"], "left")
        .withColumn(
            "placemark_id",
            F.when(
                F.col("default_id"),
                F.concat(
                    F.lit("PM_"),
                    (F.col("_base") + F.col("local_idx")).cast("string"),
                ),
            ).otherwise(F.col("placemark_id")),
        )
        .select("file", "placemark_id", "name", "count")
    )
