"""session.get_spark's class-data-sharing archive: the first launch dumps
the driver JVM's classes to a per-process file at exit, the next one
publishes that file and maps it, an incomplete file is never mapped, a conf
dir with real settings launches as before, the launch's own and a caller's
driver options reach the JVM, and a dumping CLI run prints no JVM log
line.

Each case starts its drivers as subprocesses with their own
XDG_CACHE_HOME, so the archive under test is never the user's own."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.find_spark_home import _find_spark_home

import bench
from pipeline_calculator_v3_spark import session
from tests.test_cli import _KML

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPTIONS = ("UseSharedSpaces", "SharedArchiveFile", "ArchiveClassesAtExit")

# One driver: its HotSpot archive options, JVM arguments, one conf value
# and a small query's rows, printed as the last stdout line once the JVM
# (and so any dump it makes at exit) is done.
_PROBE = f"""
import json, sys
sys.path.insert(0, {REPO!r})
from pyspark import SparkContext
from pipeline_calculator_v3_spark.session import get_spark

spark = get_spark("pcv3-cds-probe", master="local[2]")
jvm = spark._jvm
mf = jvm.java.lang.management.ManagementFactory
hotspot = mf.getPlatformMXBean(jvm.java.lang.Class.forName(
    "com.sun.management.HotSpotDiagnosticMXBean"))
out = {{
    "options": {{k: hotspot.getVMOption(k).getValue() for k in {OPTIONS!r}}},
    "args": list(mf.getRuntimeMXBean().getInputArguments()),
    "probe_conf": spark.sparkContext.getConf().get("spark.pcv3.probe", None),
    "rows": [list(r) for r in spark.range(40).selectExpr("id % 7 AS k", "id")
             .groupBy("k").sum("id").orderBy("k").collect()],
}}
proc = SparkContext._gateway.proc
spark.stop()
SparkContext._gateway.shutdown()
proc.stdin.close()  # the JVM exits when its stdin closes
proc.wait(timeout=300)
print(json.dumps(out))
"""

EXPECTED_ROWS = [[k, sum(i for i in range(40) if i % 7 == k)]
                 for k in range(7)]


def _env(tmp_path, conf_files: dict[str, str], submit_args=None) -> dict:
    """The test process's environment with the cache under ``tmp_path``
    and a conf dir holding ``conf_files``; nothing else reaches the
    driver's classpath."""
    conf = tmp_path / "conf"
    conf.mkdir(exist_ok=True)
    for name, text in conf_files.items():
        (conf / name).write_text(text)
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS",
                        *session._CLASSPATH_ENV)}
    env.update(XDG_CACHE_HOME=str(tmp_path / "cache"),
               SPARK_CONF_DIR=str(conf))
    if submit_args:
        env["PYSPARK_SUBMIT_ARGS"] = submit_args
    return env


def _probe(tmp_path, env) -> dict:
    proc = subprocess.run([sys.executable, "-c", _PROBE], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _state(out) -> str:
    return bench.class_archive_state(*(out["options"][k] for k in OPTIONS))


def _cds(tmp_path):
    return tmp_path / "cache" / "pipeline_calculator_v3_spark" / "cds"


def _header(path) -> bytes:
    with open(path, "rb") as f:
        return f.read(4)


def test_first_launch_dumps_and_the_next_maps(tmp_path):
    env = _env(tmp_path, {"spark-defaults.conf.template": "spark.x 1\n"})
    key = session._archive_key(_find_spark_home(),
                               os.environ.get("SPARK_DRIVER_MEM", "8g"))
    cds = _cds(tmp_path)
    cds.mkdir(parents=True)
    final = cds / f"{key}.jsa"
    # a header of zeros, as a dumper killed before it wrote its header
    # leaves, under the published name and under another process's name
    for path in (final, cds / f"{key}.1.jsa"):
        path.write_bytes(bytes(4096))

    first = _probe(tmp_path, env)
    opts = first["options"]
    assert opts["SharedArchiveFile"] == ""
    assert _state(first) == "dumping"
    dumped = opts["ArchiveClassesAtExit"]
    assert os.path.dirname(dumped) == str(cds)
    assert os.path.basename(dumped) not in (f"{key}.jsa", f"{key}.1.jsa")
    assert _header(dumped) == session._CDS_MAGIC
    assert _header(final) == bytes(4)
    assert first["rows"] == EXPECTED_ROWS

    caller = "-Dpcv3.probe.caller=1"
    second = _probe(tmp_path, _env(
        tmp_path, {}, f"--driver-java-options {caller} pyspark-shell"))
    opts = second["options"]
    assert opts["UseSharedSpaces"] == "true"
    assert opts["SharedArchiveFile"] == str(final)
    assert _state(second) == "mapped"
    assert caller in second["args"]
    assert f"-XX:SharedArchiveFile={final}" in second["args"]
    assert second["rows"] == first["rows"]
    # published, and the stray pid files are gone
    assert _header(final) == session._CDS_MAGIC
    assert set(os.listdir(cds)) == {"conf", f"{key}.jsa"}


def test_conf_dir_with_settings_gets_no_archive(tmp_path):
    env = _env(tmp_path, {"spark-defaults.conf": "spark.pcv3.probe set\n"})
    out = _probe(tmp_path, env)
    assert out["probe_conf"] == "set"
    assert not [a for a in out["args"]
                if "SharedArchiveFile" in a or "ArchiveClassesAtExit" in a]
    assert _state(out) == "off"
    assert out["rows"] == EXPECTED_ROWS
    assert not list(tmp_path.glob("cache/**/*.jsa"))


def test_cli_dump_run_prints_no_jvm_log_line(tmp_path):
    src = tmp_path / "pair.kml"
    src.write_text(_KML)
    code = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from pipeline_calculator_v3_spark.__main__ import main\n"
        "sys.exit(main(['analyze', 'pair.kml', '--out-dir', 'out',"
        " '--cpus', '2']))\n"
    )
    env = _env(tmp_path, {})
    # the pipes close when the JVM exits, after its dump
    proc = subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    (dumped,) = _cds(tmp_path).glob("*.*.jsa")
    assert _header(dumped) == session._CDS_MAGIC
    lines = proc.stdout.splitlines()
    assert lines[0].startswith("pipelines: 2")
    assert "effective:" in proc.stdout
    # unified JVM logging prints "[<uptime>][<level>][<tags>] ..."
    assert not [line for line in lines if "][" in line or "cds" in line]
