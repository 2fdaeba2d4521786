"""What a run records: timed passes of operations, and, in a traced run,
spans that each own one Spark job group."""

from __future__ import annotations

import statistics
from contextlib import contextmanager
from dataclasses import dataclass, field

from eventlog import COUNTERS, EventLog, Stage, counters, stages_of

# Layers that carry the Spark counter block, then every per-layer metric a
# traced run prints, in BENCHMARK.json order.  A layer a workload does not
# touch reports 0, which is that workload's no-change prediction.
COUNTED_LAYERS = ("sources", "segmentize", "spatial", "corridor", "summary",
                  "sinks", "queries")
PER_LAYER = (
    ["session.start_s", "session.warm_s", "session.peak_rss_mb",
     "sources.parse_s", "sources.bytes_in", "sources.pipelines",
     "sources.vertices",
     "plans.build_s", "plans.build_jobs",
     "segmentize.s", "segmentize.segments",
     "spatial.s", "spatial.pairs", "spatial.pair_yield",
     "corridor.s", "corridor.sections",
     "summary.s",
     "caching.cached_mb", "caching.disk_mb", "caching.release_s",
     "sinks.s", "sinks.bytes_out", "sinks.files_out",
     "queries.build_s", "queries.build_jobs", "queries.exec_s",
     "queries.slot_util",
     "trace.wall_s", "trace.untraced_wall_s", "trace.overhead_s"]
    + [f"{layer}.{c}" for layer in COUNTED_LAYERS for c in COUNTERS]
)


@dataclass
class Op:
    name: str
    latency_s: float
    ok: bool


@dataclass
class Pass:
    wall_s: float
    first_result_s: float
    ops: list[Op]
    out_dir: object = None
    stdout: list[str] = field(default_factory=list)


@dataclass
class Span:
    pass_no: int
    layer: str
    group: str
    wall_s: float


class Spans:
    """Spans kept in memory; each sets one Spark job group so the event
    log attributes every job, stage and task to it."""

    def __init__(self, spark, clock):
        self.sc = spark.sparkContext
        self.clock = clock
        self.records: list[Span] = []

    @contextmanager
    def span(self, pass_no: int, layer: str, name: str = ""):
        group = f"pb{pass_no}:{layer}" + (f":{name}" if name else "")
        self.sc.setJobGroup(group, group)
        t0 = self.clock.now()
        try:
            yield
        finally:
            wall = self.clock.now() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.records.append(Span(pass_no, layer, group, wall))

    def of(self, pass_no: int, layer: str) -> list[Span]:
        return [s for s in self.records
                if s.pass_no == pass_no and s.layer == layer]

    def wall(self, pass_no: int, layer: str) -> float:
        return sum(s.wall_s for s in self.of(pass_no, layer))


def block(log: EventLog, layer: str, stages: list[Stage],
          jobs: int) -> dict[str, float]:
    return {f"{layer}.{k}": v for k, v in counters(log, stages, jobs).items()}


def group_stages(log: EventLog, spans: list[Span]) -> list[Stage]:
    return [st for s in spans for st in stages_of(log, s.group)]


def cached_bytes(spark) -> tuple[int, int]:
    """(memory, disk) bytes of every cached RDD block right now."""
    mem = disk = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        mem += info.memSize()
        disk += info.diskSize()
    return mem, disk


def finish(per_pass: list[dict[str, float]]) -> dict[str, float]:
    """Median of each metric over the traced passes; every per-layer name
    present, 0 where the workload never entered the layer."""
    out = {name: 0.0 for name in PER_LAYER}
    for name in out:
        values = [p[name] for p in per_pass if name in p]
        if values:
            out[name] = statistics.median(values)
    return out
