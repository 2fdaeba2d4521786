"""worker_daemon.py — the engine's Python worker daemon: an unchanged zip on
the import path is not re-read by ``importlib.invalidate_caches()`` (which
every PySpark task calls), a changed one is, and a driver that found the
package through ``sys.path`` from a foreign cwd still runs the CLI end to
end with its workers forked from that daemon."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from pipeline_calculator_v3_spark import worker_daemon
from tests.test_cli import _KML

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)


def test_zip_gate_rereads_only_changed_archives(tmp_path, monkeypatch):
    # monkeypatch restores the class attribute the gate replaces
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    worker_daemon.install_zip_gate()

    archive = tmp_path / "gate_probe.zip"
    _write_zip(archive, {"gate_probe_a.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("gate_probe_a").VALUE == 1
        importlib.invalidate_caches()  # stamps every importer

        reads = []
        read_directory = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counted)
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"gate_probe_a.py": "VALUE = 1\n",
                             "gate_probe_b.py": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads == [str(archive)]
        assert importlib.import_module("gate_probe_b").VALUE == 2
    finally:
        for name in ("gate_probe_a", "gate_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def _count_rereads(batches):
    """mapInPandas body: how many archive directories one
    ``importlib.invalidate_caches()`` re-reads inside this worker, after the
    task's own call."""
    import pandas as pd

    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counted
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    for _ in batches:
        yield pd.DataFrame({"rereads": [len(reads)]})


def test_worker_task_rereads_no_zip(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == worker_daemon.__name__
    for _ in range(2):  # a fresh worker, then a reused one
        (row,) = (
            spark.range(1, numPartitions=1)
            .mapInPandas(_count_rereads, "rereads long")
            .collect()
        )
        assert row.rereads == 0


def test_cli_from_foreign_cwd(tmp_path):
    """A driver started outside the repo puts the repo on sys.path and runs
    the CLI.  Its workers must start the engine's daemon and import the
    package."""
    src = tmp_path / "pair.kml"
    src.write_text(_KML)
    out = tmp_path / "out"
    code = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from pipeline_calculator_v3_spark.__main__ import main\n"
        f"sys.exit(main(['analyze', {str(src)!r}, '--out-dir', {str(out)!r},"
        " '--cpus', '2']))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "effective:" in proc.stdout
    for table in ("pipelines", "pipelines_overlaps"):
        assert any(f.startswith("part-") for f in os.listdir(out / table))
    assert (out / "analysis.json").is_file()
    assert (out / "summary.txt").is_file()
    assert len(list((out / "corridors").glob("*.kml"))) == 1
