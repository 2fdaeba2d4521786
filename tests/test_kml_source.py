"""KML/KMZ source tests — G3 fixture (PERMISSIVE path) + the reference's own
synthetic fixture shape (generate_test_kml.py port, SURVEY.md §5)."""

from __future__ import annotations

import zipfile

import pytest

from pipeline_calculator_v3_spark.sources.kml import (
    attrs_to_columns,
    read_pipelines,
    read_placemarks,
)

FIXTURE = "/root/reference/test_data/Brazos_NGL and Delaware_Gas combined.kmz"

KML = """<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2">
<Document>
  <Placemark>
    <name>Pipeline A</name>
    <ExtendedData><Data name="OBJECTID"><value>101</value></Data>
    <Data name="DIAMETER"><value>12</value></Data></ExtendedData>
    <LineString><coordinates>
      -100.0,40.0,0 -101.0,41.0,0
    </coordinates></LineString>
  </Placemark>
  <Placemark>
    <LineString><coordinates>-100.0,40.5 -101.0,41.5</coordinates></LineString>
  </Placemark>
  <Placemark>
    <name>Marker</name>
    <Point><coordinates>-100.5,40.2,0</coordinates></Point>
  </Placemark>
  <Placemark>
    <name>Broken</name>
    <LineString><coordinates>abc,def 200.0,40.0 -100.0,999.0</coordinates></LineString>
  </Placemark>
  <Placemark>
    <name>Mixed</name>
    <LineString><coordinates>-102.0,42.0 -103.0,43.0</coordinates></LineString>
    <Point><coordinates>-102.0,42.0</coordinates></Point>
  </Placemark>
</Document>
</kml>
"""


@pytest.fixture(scope="module")
def kml_file(tmp_path_factory):
    d = tmp_path_factory.mktemp("kml")
    p = d / "test.kml"
    p.write_text(KML)
    return str(p)


@pytest.fixture(scope="module")
def kmz_file(tmp_path_factory):
    d = tmp_path_factory.mktemp("kmz")
    p = d / "test.kmz"
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("doc.kml", KML)
    return str(p)


def test_pipelines_parsed(spark, kml_file):
    rows = read_pipelines(spark, kml_file).collect()
    # 3 pipelines: Pipeline A, the unnamed LineString, and Mixed
    # (LineString+Point -> LineString wins, src :114).  'Broken' has 0 valid
    # coords -> skipped entirely (src :110), not fatal (G3 / PERMISSIVE).
    assert len(rows) == 3
    by_name = {r.name: r for r in rows}
    assert by_name["Pipeline A"].objectid == "101"
    assert by_name["Pipeline A"].attrs["DIAMETER"] == "12"
    assert len(by_name["Pipeline A"].geometry) == 2
    assert "Mixed" in by_name
    # unnamed placemark gets the Item_{n} default over PROCESSED features:
    # it is the 2nd processed feature (src :98) -> Item_2
    assert "Item_2" in by_name
    # ids are 0-based in file order (src :117)
    assert sorted(r.pipeline_id for r in rows) == [0, 1, 2]


def test_placemarks_and_permissive(spark, kml_file):
    rows = read_placemarks(spark, kml_file).collect()
    names = {r.name for r in rows}
    assert "Marker" in names       # Point feature -> placemark table
    assert "Broken" not in names   # 0 valid coords -> skipped entirely
    # no OBJECTID -> PM_{placemark_count} default (src :125)
    assert [r.placemark_id for r in rows] == ["PM_1"]
    # NB: r.count is tuple.count — index the Row by name
    assert all(r["count"] == 1 for r in rows)


def test_kmz_matches_kml(spark, kml_file, kmz_file):
    a = read_pipelines(spark, kml_file).drop("file").collect()
    b = read_pipelines(spark, kmz_file).drop("file").collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_end_to_end_from_kml(spark, kml_file):
    # the reference's debug_analyze.py flow: file -> analysis
    from pipeline_calculator_v3_spark.plans.overlap import analyze_pipelines

    pipes = read_pipelines(spark, kml_file).select("pipeline_id", "name", "geometry")
    res = analyze_pipelines(pipes)
    lengths = res["lengths"].collect()
    assert len(lengths) == 3
    assert all(130_000 < r.length_m < 150_000 for r in lengths)
    assert res["sections"].count() == 0  # pipelines are >= 55 km apart


def test_multi_file_pipeline_ids_unique(spark, tmp_path):
    """Review r06: per-file 0-based ids collided across a glob, merging
    unrelated polylines downstream.  Ids are now globally unique and dense,
    and single-file reads keep their original ids."""
    import shutil

    d = tmp_path / "many"
    d.mkdir()
    shutil.copy(FIXTURE, d / "a.kmz")
    shutil.copy(FIXTURE, d / "b.kmz")
    pipes = read_pipelines(spark, str(d))
    n = pipes.count()
    assert n == 90  # 45 per copy
    ids = [r.pipeline_id for r in pipes.select("pipeline_id").collect()]
    assert sorted(ids) == list(range(90))


def _lines_kml(names, n_vertices=2):
    marks = "".join(
        f"<Placemark><name>{n}</name><LineString><coordinates>"
        + " ".join(f"-100.{i},{40 + k * 1e-4:.4f}" for k in range(n_vertices))
        + "</coordinates></LineString></Placemark>"
        for i, n in enumerate(names)
    )
    return ('<?xml version="1.0"?><kml xmlns="http://www.opengis.net/kml/2.2">'
            f"<Document>{marks}</Document></kml>")


def test_multi_file_ids_dense_in_file_order(spark, tmp_path):
    """Per-file ids re-keyed to dense global ids in (file, local id)
    order, without the reference KMZ."""
    d = tmp_path / "glob"
    d.mkdir()
    (d / "a.kml").write_text(_lines_kml(["a0", "a1"]))
    (d / "b.kml").write_text(_lines_kml(["b0"]))
    rows = read_pipelines(spark, str(d)).select("pipeline_id", "name").collect()
    assert sorted((r.pipeline_id, r.name) for r in rows) == [
        (0, "a0"), (1, "a1"), (2, "b0")]


def test_multi_file_ids_skip_empty_file_and_repeat_path(spark, tmp_path):
    """A file with no pipelines takes no ids, and a path given twice is
    read twice under the same ids."""
    a, b, c = (str(tmp_path / n) for n in ("a.kml", "b.kml", "c.kml"))
    (tmp_path / "a.kml").write_text(_lines_kml(["a0", "a1", "a2"]))
    (tmp_path / "b.kml").write_text(KML.replace("LineString", "Point"))
    (tmp_path / "c.kml").write_text(_lines_kml(["c0", "c1"]))

    def ids(paths):
        rows = read_pipelines(spark, paths).select("pipeline_id", "name")
        return sorted((r.pipeline_id, r.name) for r in rows.collect())

    assert ids([c, b, a]) == [
        (0, "a0"), (1, "a1"), (2, "a2"), (3, "c0"), (4, "c1")]
    assert ids([a, a, c]) == [
        (0, "a0"), (0, "a0"), (1, "a1"), (1, "a1"), (2, "a2"), (2, "a2"),
        (3, "c0"), (4, "c1")]


def test_single_file_spread_with_ids_kept(spark, tmp_path):
    """One file is one parse task; pipelines holding more geometry than
    one AQE partition are spread by pipeline before they are cached (the
    lengths fold and the segment kernel run per partition), and keep their
    file's ids.  The 3 MB file shuffles to about 6 partitions at the
    session's 256k floor; a quarter of it stays in one."""
    f = tmp_path / "one.kml"
    names = [f"p{i}" for i in range(32)]
    f.write_text(_lines_kml(names, n_vertices=6000))
    pipes = read_pipelines(spark, str(f))
    assert pipes.rdd.getNumPartitions() > 1
    rows = pipes.select("pipeline_id", "name").collect()
    assert sorted((r.pipeline_id, r.name) for r in rows) == list(
        enumerate(names))


def test_unparseable_attr_value_is_null_not_fatal(spark, tmp_path):
    """Review r06 (live-reproduced): under Spark 4's default ANSI mode a
    plain cast on 'N/A' in a double field killed the job; try_cast yields
    NULL per the permissive contract."""
    kml = """<?xml version="1.0"?>
<kml xmlns="http://www.opengis.net/kml/2.2"><Document><Placemark>
<name>P</name>
<ExtendedData><Data name="GIS_MILES"><value>N/A</value></Data></ExtendedData>
<LineString><coordinates>-100,40 -100.1,40.1</coordinates></LineString>
</Placemark></Document></kml>"""
    f = tmp_path / "x.kml"
    f.write_text(kml)
    pipes = read_pipelines(spark, str(f))
    typed = attrs_to_columns(pipes, [("GIS_MILES", "double")])
    row = typed.select("GIS_MILES").collect()[0]
    assert row.GIS_MILES is None


def test_single_quoted_xmlns_parsed(spark, tmp_path):
    """Review r06: a valid KML with single-quoted xmlns silently yielded
    zero features."""
    kml = """<?xml version='1.0'?>
<kml xmlns='http://www.opengis.net/kml/2.2'><Document><Placemark>
<name>P</name>
<LineString><coordinates>-100,40 -100.1,40.1</coordinates></LineString>
</Placemark></Document></kml>"""
    f = tmp_path / "sq.kml"
    f.write_text(kml)
    assert read_pipelines(spark, str(f)).count() == 1


def test_corrupt_kmz_member_skipped_not_fatal(spark, tmp_path):
    """Review r06: a corrupt deflate stream inside an intact zip raised
    zlib.error through the PERMISSIVE contract and failed the whole job."""
    import shutil
    import struct
    import zipfile

    d = tmp_path / "mix"
    d.mkdir()
    shutil.copy(FIXTURE, d / "good.kmz")
    # hand-build a zip whose member data is garbage for its DEFLATE header
    bad = d / "bad.kmz"
    with zipfile.ZipFile(bad, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("doc.kml", b"<kml/>" * 100)
    raw = bytearray(bad.read_bytes())
    # corrupt the deflate payload bytes right after the local file header
    name_end = 30 + len("doc.kml")
    for i in range(name_end, min(name_end + 8, len(raw))):
        raw[i] ^= 0xFF
    bad.write_bytes(bytes(raw))
    pipes = read_pipelines(spark, str(d))
    assert pipes.count() == 45  # the good copy parses; the bad one skips


# --- review r12 regressions: OBJECTID precedence, schema sniff, re-key ---

OID_KML = """<?xml version='1.0' encoding='UTF-8'?>
<kml xmlns='http://www.opengis.net/kml/2.2'>
<Document>
  <Schema name='S' id='S'>
    <SimpleField type='int' name='OBJECTID'></SimpleField>
    <SimpleField type='double' name='GIS_MILES'></SimpleField>
  </Schema>
  <Placemark>
    <name>Both</name>
    <ExtendedData>
      <Data name="OBJECTID"><value> 42 </value></Data>
      <SchemaData schemaUrl="#S">
        <SimpleData name="OBJECTID">99</SimpleData>
      </SchemaData>
    </ExtendedData>
    <LineString><coordinates>-100.0,40.0 -101.0,41.0</coordinates></LineString>
  </Placemark>
  <Placemark>
    <name>CaseOnly</name>
    <ExtendedData><Data name="ObjectId"><value>7</value></Data></ExtendedData>
    <LineString><coordinates>-100.0,40.5 -101.0,41.5</coordinates></LineString>
  </Placemark>
</Document>
</kml>
"""


@pytest.fixture(scope="module")
def oid_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("oid") / "oid.kml"
    p.write_text(OID_KML)
    return str(p)


def test_objectid_reference_precedence(spark, oid_file):
    """Reference :148-165: Data[@name='OBJECTID']/value wins over
    SimpleData, the name match is EXACT (not case-folded), and the text
    is stripped (review r12 — the attrs-map scan inverted all three)."""
    by_name = {r.name: r for r in read_pipelines(spark, oid_file).collect()}
    assert by_name["Both"].objectid == "42"          # Data wins, stripped
    assert by_name["CaseOnly"].objectid == "N/A"     # exact-name only


def test_schema_fields_single_quoted_xmlns(spark, oid_file):
    """schema_fields shares the hardened namespace sniff (review r12: its
    private 200-byte double-quote regex dropped the typed schema for
    single-quoted xmlns, the exact r06 bug class)."""
    from pipeline_calculator_v3_spark.sources.kml import schema_fields

    fields = schema_fields(spark, oid_file)
    assert [tuple(f) for f in fields] == [
        ("OBJECTID", "int"), ("GIS_MILES", "double")
    ]


def test_placemark_default_ids_rekeyed_across_files(spark, tmp_path_factory):
    """Per-file PM_{n} counters collide across a multi-file glob; default
    ids keep their reference within-file number shifted by a per-file
    base (total placemarks of preceding files) while OBJECTID-derived
    ids stay verbatim (the read_pipelines re-key rationale, review
    r12/r13)."""
    point = """<?xml version="1.0"?>
<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
  <Placemark>{oid}<name>{nm}</name>
    <Point><coordinates>-100.5,40.2</coordinates></Point>
  </Placemark>
</Document></kml>
"""
    d = tmp_path_factory.mktemp("multi")
    (d / "a.kml").write_text(point.format(oid="", nm="m1"))
    (d / "b.kml").write_text(point.format(
        oid='<ExtendedData><Data name="OBJECTID"><value>X9</value></Data>'
            "</ExtendedData>", nm="m2"))
    (d / "c.kml").write_text(point.format(oid="", nm="m3"))
    rows = read_placemarks(spark, str(d / "*.kml")).collect()
    ids = {r.name: r.placemark_id for r in rows}
    assert ids["m2"] == "X9"
    # file a: base 0 -> PM_1; file b: 1 placemark (OBJECTID) so file c's
    # base is 2 -> PM_3.  No collision, within-file numbering preserved.
    assert {ids["m1"], ids["m3"]} == {"PM_1", "PM_3"}
    assert len({r.placemark_id for r in rows}) == 3


def test_placemark_default_ids_mixed_single_file(spark, tmp_path_factory):
    """Reference parity in a single file MIXING OBJECTID and default
    placemarks: the reference's PM_{placemark_count} counter (src :125)
    counts ALL point placemarks, so the first DEFAULT placemark after an
    OBJECTID one is PM_2, not PM_1 (ADVICE r12)."""
    kml = """<?xml version="1.0"?>
<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
  <Placemark><ExtendedData><Data name="OBJECTID"><value>X1</value></Data>
    </ExtendedData><name>first</name>
    <Point><coordinates>-100.5,40.2</coordinates></Point>
  </Placemark>
  <Placemark><name>second</name>
    <Point><coordinates>-100.6,40.3</coordinates></Point>
  </Placemark>
  <Placemark><name>third</name>
    <Point><coordinates>-100.7,40.4</coordinates></Point>
  </Placemark>
</Document></kml>
"""
    d = tmp_path_factory.mktemp("mixed")
    (d / "m.kml").write_text(kml)
    rows = read_placemarks(spark, str(d / "m.kml")).collect()
    ids = {r.name: r.placemark_id for r in rows}
    assert ids == {"first": "X1", "second": "PM_2", "third": "PM_3"}
