"""__main__.py — the reference's GUI workflow as a command: analyze a
small parallel-pair KML end-to-end (parse -> ops 1-22 -> stdout tables ->
every export format) through the real argparse entry point."""

from __future__ import annotations

import json
import os

import pytest

from pipeline_calculator_v3_spark.__main__ import main

# two due-north lines ~9 m apart for ~1.1 km: one bundled section under
# the default 15 m / 200 m parameters
_N_PTS = 24


def _coords(lon0: float) -> str:
    return " ".join(f"{lon0},{31.0 + i * 0.0004},0" for i in range(_N_PTS))


_KML = f"""<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2">
<Document>
  <Placemark><name>West</name>
    <LineString><coordinates>{_coords(-100.0)}</coordinates></LineString>
  </Placemark>
  <Placemark><name>East</name>
    <LineString><coordinates>{_coords(-99.9999)}</coordinates></LineString>
  </Placemark>
</Document>
</kml>
"""


@pytest.fixture(scope="module")
def analyzed(spark, tmp_path_factory):
    src = tmp_path_factory.mktemp("cli_src") / "pair.kml"
    src.write_text(_KML)
    out = tmp_path_factory.mktemp("cli_out")
    rc = main([
        "analyze", str(src), "--out-dir", str(out),
        "--single-file", "--top", "5",
    ])
    return rc, str(out)


def test_exit_code_zero(analyzed):
    assert analyzed[0] == 0


def test_all_export_formats_written(analyzed):
    _, out = analyzed
    for f in ("pipelines.csv", "pipelines_overlaps.csv",
              "analysis.json", "summary.txt"):
        assert os.path.exists(os.path.join(out, f)), f
    kmls = os.listdir(os.path.join(out, "corridors"))
    assert len(kmls) == 1 and kmls[0].endswith(".kml")


def test_envelope_contents(analyzed):
    _, out = analyzed
    env = json.load(open(os.path.join(out, "analysis.json")))
    assert {p["name"] for p in env["pipelines"]} == {"West", "East"}
    secs = env["overlap_analysis"]["bundled_sections"]
    assert len(secs) == 1 and secs[0]["n_hits"] >= 40
    lines = open(os.path.join(out, "summary.txt")).read().splitlines()
    assert lines[0] == "Total pipelines: 2"


def test_missing_input_is_a_clean_error(tmp_path, capsys):
    rc = main(["analyze", str(tmp_path / "nope.kml")])
    assert rc == 2
    assert "no such input" in capsys.readouterr().err


@pytest.mark.parametrize("flag", [["--top", "-1"], ["--cpus", "0"]])
def test_bad_counts_rejected_before_spark(tmp_path, capsys, flag):
    """A negative --top (a negative LIMIT in Spark) or --cpus 0
    (``local[0]``) is an argparse error, exit 2, with no export written."""
    src = tmp_path / "pair.kml"
    src.write_text(_KML)
    out = tmp_path / "out"
    with pytest.raises(SystemExit) as exc:
        main(["analyze", str(src), "--out-dir", str(out), *flag])
    assert exc.value.code == 2
    assert f"argument {flag[0]}" in capsys.readouterr().err
    assert not out.exists()


@pytest.mark.parametrize("value", ["nan", "inf", "-inf"])
@pytest.mark.parametrize(
    "option",
    ["--detection-range", "--min-parallel", "--segment-length",
     "--angular-tolerance"],
)
def test_non_finite_parameters_rejected_before_spark(
    tmp_path, capsys, monkeypatch, option, value
):
    """A NaN or infinite analysis parameter is an argparse error, exit 2,
    before any Spark session starts and with no export written.  A NaN
    angular tolerance used to disable the bearing predicate silently; a
    NaN detection range failed deep inside the spatial join."""
    import pipeline_calculator_v3_spark.session as session

    def no_spark(*args, **kwargs):
        raise AssertionError("Spark session requested")

    monkeypatch.setattr(session, "get_spark", no_spark)
    src = tmp_path / "pair.kml"
    src.write_text(_KML)
    out = tmp_path / "out"
    with pytest.raises(SystemExit) as exc:
        # --opt=value: argparse would take a bare "-inf" for an option
        main(["analyze", str(src), "--out-dir", str(out), f"{option}={value}"])
    assert exc.value.code == 2
    assert f"argument {option}: must be finite" in capsys.readouterr().err
    assert not out.exists()


@pytest.mark.parametrize("sink_fails", [False, True])
def test_analyze_leaves_no_cache(spark, tmp_path, sink_fails):
    """Every frame the analysis pins is released before main() returns or
    raises: repeated runs in one session must not pile up cached blocks.
    The failing case points --out-dir at a regular file, so the export
    step raises after the stdout tables have materialized the caches."""
    from pipeline_calculator_v3_spark import release_caches

    from .conftest import persistent_ids

    release_caches(spark)
    src = tmp_path / "pair.kml"
    src.write_text(_KML)
    out = tmp_path / "out"
    argv = ["analyze", str(src), "--out-dir", str(out)]
    if sink_fails:
        out.write_text("not a directory")
        with pytest.raises(FileExistsError):
            main(argv)
    else:
        assert main(argv) == 0
    assert persistent_ids(spark) == set()


def test_distributed_exports_and_multi_input(spark, tmp_path):
    """The 100 TB export path: part-file CSV/JSON (no driver collect of
    the big tables), summary still a single small file; plus multi-file
    input (pipeline ids stay unique across files)."""
    a, b = tmp_path / "a.kml", tmp_path / "b.kml"
    a.write_text(_KML)
    b.write_text(_KML.replace("West", "North").replace("East", "South"))
    out = tmp_path / "out"
    rc = main([
        "analyze", str(a), str(b), "--out-dir", str(out),
        "--distributed-json", "--no-kml",
    ])
    assert rc == 0
    # distributed CSV: a directory of part files per table
    assert any(
        f.startswith("part-")
        for f in os.listdir(out / "pipelines")
    )
    # distributed JSON: part files for the big tables, one summary.json
    assert any(
        f.startswith("part-")
        for f in os.listdir(out / "json" / "sections")
    )
    summary = json.load(open(out / "json" / "summary.json"))
    assert len(summary) == 1
    assert not os.path.exists(out / "corridors")
    names = {
        r.name
        for r in spark.read.option("header", True)
        .csv(str(out / "pipelines"))
        .collect()
    }
    assert names == {"West", "East", "North", "South"}


_SMALL_FRAMES = ("totals", "summary", "sections", "lengths",
                 "per_pipeline_overlap")


def _spied_analyze(monkeypatch, argv):
    """Run ``main(argv)`` recording every collect / toLocalIterator /
    toPandas call, and the result frames ``analyze_pipelines`` returned.
    The spy sits on the classic DataFrame: in Spark 4 the actions are
    defined there, not on ``pyspark.sql.DataFrame``."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    import pipeline_calculator_v3_spark.plans.overlap as overlap

    calls = []
    for action in ("collect", "toLocalIterator", "toPandas"):
        def spy(self, *args, _real=getattr(ClassicDataFrame, action),
                _action=action, **kwargs):
            calls.append((_action, self))
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(ClassicDataFrame, action, spy)
    results = {}

    def analyze(*args, _real=overlap.analyze_pipelines, **kwargs):
        results.update(_real(*args, **kwargs))
        return results

    monkeypatch.setattr(overlap, "analyze_pipelines", analyze)
    assert main(argv) == 0
    return calls, results


def test_default_mode_collects_each_result_once(spark, tmp_path, monkeypatch):
    """Envelope-JSON mode: stdout, JSON, TXT and KML are written from one
    collect of each small result frame."""
    src = tmp_path / "pair.kml"
    src.write_text(_KML)
    calls, results = _spied_analyze(
        monkeypatch, ["analyze", str(src), "--out-dir", str(tmp_path / "out")])
    for name in _SMALL_FRAMES:
        reads = [a for a, df in calls if df is results[name]]
        assert len(reads) <= 1, (name, reads)
    assert len(os.listdir(tmp_path / "out" / "corridors")) == 1


def test_distributed_json_never_collects_sections(spark, tmp_path,
                                                  monkeypatch):
    """--distributed-json: stdout takes the first rows and the KML export
    streams, so the sections table is never collected whole."""
    src = tmp_path / "pair.kml"
    src.write_text(_KML)
    calls, results = _spied_analyze(monkeypatch, [
        "analyze", str(src), "--out-dir", str(tmp_path / "out"),
        "--distributed-json",
    ])
    sections = [a for a, df in calls if df is results["sections"]]
    assert sections == ["toLocalIterator"]
    assert len(os.listdir(tmp_path / "out" / "corridors")) == 1


def test_query_subcommand(spark, tmp_path, capsys):
    rc = main([
        "query", "q_tpch_q6_forecast_revenue",
        "--sf-dir", os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001"),
        "--limit", "5", "--out", str(tmp_path / "res"),
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "rows: 1" in out and "revenue" in out
    assert spark.read.parquet(str(tmp_path / "res")).count() == 1


def test_query_subcommand_list_and_unknown(capsys):
    assert main(["query", "list"]) == 0
    assert "q_geodesic_length" in capsys.readouterr().out
    assert main(["query", "q_nope"]) == 2
    assert "unknown query" in capsys.readouterr().err
