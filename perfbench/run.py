"""Seeded end-to-end benchmark of the pipeline engine.

    python3 perfbench/run.py --workload survey --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` times the end-to-end metrics
with tracing off; ``--trace 1`` runs the warm passes in fresh Spark
contexts, one untraced and then with the event log on, and prints the
per-layer metrics.  The last line of standard output is one JSON object;
see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

import star
import survey
from hostclock import HostClock

ROOT = Path(__file__).resolve().parent.parent
PKG = "pipeline_calculator_v3_spark"
WORKLOADS = {"survey": survey, "star": star}
# End-to-end metrics (printed with --trace 0) and their units.
END_TO_END = {
    "setup_s": "s",
    "cold_wall_s": "s",
    "wall_s": "s",
    "first_result_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
}


def _percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default definition)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class TreeRss:
    """Samples the resident memory of this process and all its descendants
    (the JVM and its Python workers) from /proc, keeping the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "TreeRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.scandir("/proc"):
            if not entry.name.isdigit():
                continue
            try:
                with open(f"/proc/{entry.name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry.name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)


def _configure_environment(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    run on all cores of this host, as ``local[$(nproc)]``."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LAUNCHER_OPTS": java_opts,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote(f"spark.local.dir={local}"),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell",
        ]),
    })
    import tempfile
    tempfile.tempdir = str(tmp)


def _identity(batches):
    yield from batches


class Session:
    """The engine's own Spark session plus the timings of bringing it up."""

    def __init__(self, clock: HostClock):
        self.clock = clock
        self.spark = None
        self.start_s = 0.0   # get_spark: JVM and SparkContext
        self.warm_s = 0.0    # package shipped, Python workers answering

    def open(self) -> "Session":
        from pipeline_calculator_v3_spark.session import get_spark
        from pipeline_calculator_v3_spark.shipping import ensure_pkg_shipped

        t0 = self.clock.now()
        # the same factory and app name the CLI uses
        self.spark = get_spark("pcv3-cli")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = self.clock.now()
        ensure_pkg_shipped(self.spark)
        cores = self.spark.sparkContext.defaultParallelism
        self.spark.range(0, cores, 1, cores).mapInPandas(
            _identity, "id long").collect()
        self.start_s, self.warm_s = t1 - t0, self.clock.now() - t1
        return self

    def restart(self, event_log_dir: Path | None = None) -> None:
        """Stop the context and open a new one in the same JVM, optionally
        with an event log written as one uncompressed JSON-lines file.  The
        log settings go in as JVM system properties, which every new
        SparkConf reads, so the engine's session factory is used unchanged."""
        from pyspark import SparkContext

        self.spark.stop()
        if event_log_dir is not None:
            event_log_dir.mkdir(parents=True, exist_ok=True)
            system = SparkContext._jvm.java.lang.System
            for key, value in {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": event_log_dir.resolve().as_uri(),
            }.items():
                system.setProperty(key, value)
        self.open()

    def close(self) -> None:
        """Stop Spark and its JVM, and wait until both have exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(args: argparse.Namespace, work: Path) -> dict:
    module = WORKLOADS[args.workload]
    # every time below is host-clock time; only the start of the process,
    # before the clock runs, is read from /proc as plain wall time
    clock = HostClock()
    setup_s = _process_age_s() - clock.now()
    raw0 = time.perf_counter()
    session = Session(clock)
    layers = None
    with TreeRss() as rss:
        try:
            session.open()
            setup_s += clock.now()
            session_layer = {"session.start_s": session.start_s,
                             "session.warm_s": session.warm_s}
            inputs = module.generate(args.seed, work / "inputs")
            ops = module.Workload(session.spark, inputs, work, args.seed,
                                  clock)
            cold = ops.run_pass()
            if args.trace:
                # like for like: one untraced pass here and the traced ones
                # below, each in a fresh context of the same, warm JVM
                session.restart()
                ops.spark = session.spark
                warm = [ops.run_pass()]
            else:
                warm = []
                t_end = time.perf_counter() + args.seconds
                while not warm or time.perf_counter() < t_end:
                    warm.append(ops.run_pass())
            session_layer["session.peak_rss_mb"] = (rss.peak_bytes
                                                    / float(1 << 20))
            checked = ops.check([cold] + warm)
            if args.trace:
                session.restart(work / "eventlog")
                ops.spark = session.spark
                layers = ops.traced(work / "eventlog", args.seconds)
                layers["trace.untraced_wall_s"] = warm[0].wall_s
                layers["trace.overhead_s"] = (layers["trace.wall_s"]
                                              - warm[0].wall_s)
                layers.update(session_layer)
        finally:
            session.close()
            # the share of the CPU time asked for that the host gave
            cpu_share = clock.now() / (time.perf_counter() - raw0)
            clock.close()

    passes = [cold] + warm
    attempted = sum(len(p.ops) for p in passes)
    failed = sum(1 for p in passes for op in p.ops if not op.ok)
    latencies = [op.latency_s for p in warm for op in p.ops]
    print(f"workload={args.workload} seed={args.seed} warm_passes={len(warm)} "
          f"latency_samples={len(latencies)} attempted={attempted} "
          f"failed={failed} fail_ratio={failed / attempted:.4f} "
          f"checks={checked} cold_s={cold.wall_s:.3f} "
          f"warm_s={[round(p.wall_s, 3) for p in warm]} "
          f"peak_rss_mb={session_layer['session.peak_rss_mb']:.0f} "
          f"run_s={_process_age_s():.1f} host_cpu_share={cpu_share:.3f}")
    if layers is not None:
        metrics = {name: _metric(value, layer_unit(name))
                   for name, value in sorted(layers.items())}
    else:
        values = {
            "setup_s": setup_s,
            "cold_wall_s": cold.wall_s,
            "wall_s": statistics.median(p.wall_s for p in warm),
            "first_result_s": statistics.median(
                p.first_result_s for p in warm),
            "query_p50_s": _percentile(latencies, 0.5),
            "query_p90_s": _percentile(latencies, 0.9),
        }
        metrics = {name: _metric(values[name], unit)
                   for name, unit in END_TO_END.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def layer_unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    if suffix.endswith("_s") or suffix == "s":
        return "s"
    if suffix.endswith("_mb"):
        return "MiB"
    if suffix in ("bytes_in", "bytes_out"):
        return "bytes"
    if suffix in ("pair_yield", "slot_util"):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"error: the engine package {PKG}/ is not in {ROOT}; run from "
              f"a checkout of the repository", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = (ROOT / ".perfbench_work"
            / f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _configure_environment(work)
    sys.path.insert(0, str(ROOT))
    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
