"""Workload ``survey``: the paper's CLI flow over a seeded KMZ corpus.

One pass is one ``python -m pipeline_calculator_v3_spark analyze`` run,
driven in-process through ``__main__.main``: parse, lengths, 5 m segments,
the grid distance join, bundled sections, effective length, corridor
polygons and every export.
"""

from __future__ import annotations

import csv
import io
import json
import math
import os
import sys
import time
import traceback
from collections import Counter
from contextlib import redirect_stdout
from pathlib import Path

import eventlog
import gen
from record import Op, Pass, Spans, block, cached_bytes, finish, group_stages

DETECTION_RANGE_M = 15.0   # the CLI default the corpus is planted around
_REL_TOL = 1e-9


def generate(seed: int, out_dir: Path) -> gen.SurveyCorpus:
    return gen.make_survey(seed, out_dir)


class _LineClock(io.TextIOBase):
    """stdout stand-in that keeps the lines and the time the first line
    with ``prefix`` was printed."""

    def __init__(self, prefix: str, clock):
        self.prefix = prefix
        self.clock = clock
        self.lines: list[str] = []
        self.at: float | None = None
        self._buf = ""

    def write(self, s: str) -> int:
        self._buf += s
        while "\n" in self._buf:
            line, self._buf = self._buf.split("\n", 1)
            self.lines.append(line)
            if self.at is None and line.startswith(self.prefix):
                self.at = self.clock.now()
        return len(s)


class Workload:
    def __init__(self, spark, corpus: gen.SurveyCorpus, work: Path, seed: int,
                 clock):
        self.spark = spark
        self.clock = clock
        self.corpus = corpus
        self.work = work
        self.n = 0

    def _out_dir(self) -> Path:
        self.n += 1
        return self.work / f"out{self.n}"

    def run_pass(self) -> Pass:
        from pipeline_calculator_v3_spark.__main__ import main as cli

        out = self._out_dir()
        clock = _LineClock("effective:", self.clock)
        t0 = self.clock.now()
        try:
            with redirect_stdout(clock):
                ok = cli(["analyze", str(self.corpus.kmz),
                          "--out-dir", str(out)]) == 0
        except Exception:
            traceback.print_exc()
            ok = False
        wall = self.clock.now() - t0
        first = clock.at - t0 if clock.at is not None else wall
        return Pass(wall, first, [Op("analyze", wall, ok)], out, clock.lines)

    # ---------------------------------------------------------------- checks

    def check(self, passes: list[Pass]) -> int:
        """Check every pass's printed tables and exports; a pass with a
        problem counts as failed.  Returns the number of passes checked."""
        expected = self._expected()
        for p in passes:
            if not p.ops[0].ok:
                continue
            problems = self._problems(p, expected)
            if problems:
                p.ops[0].ok = False
                for msg in problems:
                    print(f"survey check failed ({p.out_dir.name}): {msg}",
                          file=sys.stderr)
        return len(passes)

    def _expected(self) -> dict:
        lengths = {name: gen.polyline_length_m(v)
                   for name, v in zip(self.corpus.names, self.corpus.vertices)}
        return {"lengths": lengths, "total_m": sum(lengths.values())}

    def _problems(self, p: Pass, expected: dict) -> list[str]:
        out = Path(p.out_dir)
        problems = []
        try:
            with open(out / "analysis.json") as f:
                env = json.load(f)
        except (OSError, ValueError) as e:
            return [f"analysis.json unreadable: {e}"]
        pipes = env["pipelines"]
        names = {r["pipeline_id"]: r["name"] for r in pipes}
        if sorted(names.values()) != sorted(self.corpus.names):
            problems.append(
                f"parsed {len(pipes)} pipelines, generated "
                f"{len(self.corpus.names)}, or their names differ")
        for r in pipes:
            want = expected["lengths"].get(r["name"])
            if want is None or not math.isclose(r["length_m"], want,
                                                rel_tol=_REL_TOL):
                problems.append(f"{r['name']}: length {r['length_m']} != {want}")
                break
        summary = env["summary"][0]
        total, effective = summary["total_m"], summary["effective_m"]
        if not math.isclose(total, expected["total_m"], rel_tol=_REL_TOL):
            problems.append(f"total_m {total} != {expected['total_m']}")
        if not 0 < effective <= total:
            problems.append(f"effective_m {effective} not in (0, {total}]")
        sections = env["overlap_analysis"]["bundled_sections"]
        found = {frozenset((names.get(s["p1"]), names.get(s["p2"])))
                 for s in sections}
        if found != self.corpus.planted_pairs:
            problems.append(
                f"sections on {len(found)} pairs, planted "
                f"{len(self.corpus.planted_pairs)} adjacent pairs "
                f"({len(found - self.corpus.planted_pairs)} unexpected)")
        if not any(line.startswith("effective:") for line in p.stdout):
            problems.append("no effective-length line printed")
        rows = {name: _csv_rows(out / name)
                for name in ("pipelines", "pipelines_overlaps")}
        if rows["pipelines"] != len(pipes):
            problems.append(f"pipelines CSV has {rows['pipelines']} rows")
        if rows["pipelines_overlaps"] != len(sections):
            problems.append(
                f"overlaps CSV has {rows['pipelines_overlaps']} rows, "
                f"{len(sections)} sections")
        kml = list((out / "corridors").glob("*.kml"))
        if len(kml) != len(sections):
            problems.append(f"{len(kml)} corridor KML files, "
                            f"{len(sections)} sections")
        try:
            txt = (out / "summary.txt").read_text().splitlines()
        except OSError:
            txt = []
        if len(txt) != 4 or txt[0] != f"Total pipelines: {len(pipes)}":
            problems.append("summary.txt is not the 4-line totals report")
        return problems

    # ---------------------------------------------------------------- traced

    def traced(self, log_dir: Path, seconds: float) -> dict:
        """Warm passes in an event-logged context, the CLI's steps split
        into one span per layer, materialized in the order the DAG
        consumes them."""
        spans = Spans(self.spark, self.clock)
        walls, extra = [], []
        t_end = time.perf_counter() + seconds
        while not walls or time.perf_counter() < t_end:
            wall, info = self._traced_pass(spans, len(walls))
            walls.append(wall)
            extra.append(info)
        self.spark.stop()  # flushes the event log
        (path,) = [p for p in log_dir.iterdir() if p.is_file()]
        log = eventlog.read(path)
        per_pass = [self._fold(log, spans, i, walls[i], extra[i])
                    for i in range(len(walls))]
        return finish(per_pass)

    def _traced_pass(self, spans: Spans, i: int) -> tuple[float, dict]:
        from pyspark.sql import functions as F

        from pipeline_calculator_v3_spark.caching import release_caches
        from pipeline_calculator_v3_spark.plans.overlap import analyze_pipelines
        from pipeline_calculator_v3_spark.sinks import (
            write_corridor_kml, write_csv, write_json, write_txt_summary)
        from pipeline_calculator_v3_spark.sources.kml import read_pipelines

        spark = self.spark
        out = self._out_dir()
        info: dict = {}
        t0 = self.clock.now()
        with spans.span(i, "sources"):
            pipes = read_pipelines(spark, [str(self.corpus.kmz)])
            row = pipes.agg(F.count(F.lit(1)),
                            F.sum(F.size("geometry"))).collect()[0]
            info["sources.pipelines"], info["sources.vertices"] = row[0], row[1]
        with spans.span(i, "plans"):
            results = analyze_pipelines(
                pipes.select("pipeline_id", "name", "geometry"))
        with spans.span(i, "segmentize"):
            info["segmentize.segments"] = results["segments"].count()
        with spans.span(i, "sections"):
            info["corridor.sections"] = len(results["sections"].collect())
        with spans.span(i, "summary"):
            results["totals"].collect()
            results["summary"].collect()
        with spans.span(i, "sinks"):
            os.makedirs(out, exist_ok=True)
            write_csv(results, str(out))
            write_json(results, str(out / "analysis.json"))
            write_txt_summary(results, str(out / "summary.txt"))
            kml_dir = out / "corridors"
            os.makedirs(kml_dir, exist_ok=True)
            for r in results["sections"].toLocalIterator():
                write_corridor_kml(
                    r, str(kml_dir / f"corridor_p{r.p1}_p{r.p2}_s{r.section}.kml"))
        wall = self.clock.now() - t0
        # outside the timed pass: what is cached, and the grid's candidates
        mem, disk = cached_bytes(spark)
        info["caching.cached_mb"] = mem / float(1 << 20)
        info["caching.disk_mb"] = disk / float(1 << 20)
        info["candidates"] = _grid_candidates(
            results["segments"].select("mid_lon", "mid_lat").toPandas())
        t1 = self.clock.now()
        with spans.span(i, "caching"):
            release_caches(spark)
        wall += self.clock.now() - t1
        files = [p for p in out.rglob("*")
                 if p.is_file() and not p.name.startswith((".", "_"))]
        info["sinks.files_out"] = len(files)
        info["sinks.bytes_out"] = sum(p.stat().st_size for p in files)
        return wall, info

    def _fold(self, log, spans: Spans, i: int, wall: float, info: dict) -> dict:
        m = {k: v for k, v in info.items() if k != "candidates"}
        m["trace.wall_s"] = wall
        m["sources.parse_s"] = spans.wall(i, "sources")
        m["sources.bytes_in"] = self.corpus.bytes
        m["plans.build_s"] = spans.wall(i, "plans")
        m["plans.build_jobs"] = sum(eventlog.jobs_of(log, s.group)
                                    for s in spans.of(i, "plans"))
        m["segmentize.s"] = spans.wall(i, "segmentize")
        m["summary.s"] = spans.wall(i, "summary")
        m["sinks.s"] = spans.wall(i, "sinks")
        m["caching.release_s"] = spans.wall(i, "caching")
        for layer in ("sources", "segmentize", "summary", "sinks"):
            sp = spans.of(i, layer)
            m.update(block(log, layer, group_stages(log, sp),
                           sum(eventlog.jobs_of(log, s.group) for s in sp)))

        # one call covers the distance join and the corridor kernel: split
        # the span by the operators each stage ran
        (sec,) = spans.of(i, "sections")
        stages = eventlog.stages_of(log, sec.group)
        corridor = [st for st in stages if any(
            n.name == "FlatMapGroupsInPandas" and "section#" in n.desc
            for n in log.nodes_run(st))]
        spatial = [st for st in stages if st not in corridor]
        m["corridor.s"] = eventlog.covered_s(corridor)
        m["spatial.s"] = max(0.0, sec.wall_s - m["corridor.s"])
        m.update(block(log, "corridor", corridor,
                       eventlog.jobs_of(log, sec.group, corridor)))
        m.update(block(log, "spatial", spatial,
                       eventlog.jobs_of(log, sec.group, spatial)))
        pairs = 0.0
        for st in spatial:
            for n in log.nodes_run(st):
                if "Join" in n.name and "cx#" in n.desc:
                    pairs += log.metric_total(st, n, "number of output rows")
        m["spatial.pairs"] = pairs
        m["spatial.pair_yield"] = pairs / max(info["candidates"], 1)
        return m


def _grid_candidates(mid) -> int:
    """Candidate pairs the grid join tests: every segment against every
    segment in its 3x3 cell neighbourhood (cells sized by the engine's own
    ``cell_size_deg`` for the CLI's detection range)."""
    from pipeline_calculator_v3_spark.operators.spatial import cell_size_deg

    cell = cell_size_deg(DETECTION_RANGE_M, 60.0)
    n_cols = int(360.0 // cell)
    counts = Counter(
        (min(math.floor((lon + 180.0) / cell), n_cols - 1),
         math.floor(lat / cell))
        for lon, lat in zip(mid["mid_lon"], mid["mid_lat"]))
    return sum(
        n * counts.get(((cx + dx) % n_cols, cy + dy), 0)
        for (cx, cy), n in counts.items()
        for dx in (-1, 0, 1) for dy in (-1, 0, 1))


def _csv_rows(directory: Path) -> int:
    rows = 0
    for part in directory.glob("part-*.csv"):
        with open(part, newline="") as f:
            rows += max(0, sum(1 for _ in csv.reader(f)) - 1)
    return rows
