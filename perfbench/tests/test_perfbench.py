"""The benchmark's own tests; they need no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

import eventlog  # noqa: E402
import gen  # noqa: E402
import hostclock  # noqa: E402
import record  # noqa: E402
import run  # noqa: E402
import star  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


# ------------------------------------------------------------ generators

def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_survey_corpus_is_deterministic(tmp_path):
    a = gen.make_survey(7, tmp_path / "a")
    b = gen.make_survey(7, tmp_path / "b")
    c = gen.make_survey(8, tmp_path / "c")
    assert a.kmz.read_bytes() == b.kmz.read_bytes()
    assert a.kmz.read_bytes() != c.kmz.read_bytes()
    assert a.planted_pairs == b.planted_pairs
    # every seed asks for the same amount of work
    assert len(a.names) == len(c.names) == sum(
        gen.SURVEY_SIZE["group_lines"])


def test_survey_bundles_straddle_the_detection_range(tmp_path):
    """Adjacent lines inside 15 m, lines two apart >= 1.8 m outside it."""
    corpus = gen.make_survey(3, tmp_path)
    by_name = dict(zip(corpus.names, corpus.vertices))
    for pair in corpus.planted_pairs:
        a, b = (by_name[n] for n in sorted(pair))
        d = gen.haversine_np(a[:, 1], a[:, 0], b[:, 1], b[:, 0])
        assert d.max() < 15.0
    names = corpus.names
    for x, y, z in zip(names, names[1:], names[2:]):
        if {frozenset((x, y)), frozenset((y, z))} <= corpus.planted_pairs:
            a, c = by_name[x], by_name[z]
            # nearest vertex of c to each vertex of a
            d = gen.haversine_np(a[:, None, 1], a[:, None, 0],
                                 c[None, :, 1], c[None, :, 0]).min(axis=1)
            assert d.min() >= 16.8


def test_star_tables_are_deterministic(tmp_path):
    a = _files(gen.make_star(7, tmp_path / "a"))
    b = _files(gen.make_star(7, tmp_path / "b"))
    c = _files(gen.make_star(8, tmp_path / "c"))
    assert sorted(a) == sorted(f"{t}.parquet" for t in gen.STAR_TABLES)
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_star_checks_cover_the_mix_over_four_seeds():
    quarters = [star.Workload(None, Path("."), Path("."), seed, None).checked
                for seed in range(10, 14)]
    assert all(len(q) == 3 for q in quarters)
    assert sorted(q for qs in quarters for q in qs) == sorted(star.MIX)


# ------------------------------------------------------------ event log

@pytest.fixture(scope="module")
def small_log():
    return eventlog.read(BENCH / "tests" / "data" / "small_eventlog.json")


def test_fold_attributes_stages_to_job_groups(small_log):
    kernel = eventlog.stages_of(small_log, "pb0:kernel")
    join = eventlog.stages_of(small_log, "pb0:join")
    assert len(kernel) == 2 and len(join) == 3
    assert eventlog.jobs_of(small_log, "pb0:kernel") == 1
    assert eventlog.jobs_of(small_log, "pb0:join") == 1
    k = eventlog.counters(small_log, kernel, 1)
    j = eventlog.counters(small_log, join, 1)
    assert set(k) == set(eventlog.COUNTERS)
    assert k["tasks"] == 4 and j["tasks"] == 6
    assert k["failed_tasks"] == j["failed_tasks"] == 0
    assert 0 < k["python_s"] <= k["task_s"]
    assert j["python_s"] == 0
    assert k["shuffle_mb"] > 0 and j["shuffle_mb"] > 0
    assert k["queue_s"] >= 0 and j["queue_s"] >= 0


def test_fold_finds_the_plan_nodes_a_stage_ran(small_log):
    join = eventlog.stages_of(small_log, "pb0:join")
    hits = [(st, n) for st in join for n in small_log.nodes_run(st)
            if n.name == "SortMergeJoin"]
    assert len(hits) == 1
    st, node = hits[0]
    # 40 rows on keys 0..3, each key once on the other side
    assert small_log.metric_total(st, node, "number of output rows") == 40
    kernel = eventlog.stages_of(small_log, "pb0:kernel")
    assert any(n.name == "FlatMapGroupsInPandas"
               for st in kernel for n in small_log.nodes_run(st))
    # only the stage that ran the kernel splits off as Python time
    split = [st for st in kernel if small_log.python_s(st) > 0]
    assert len(split) == 1
    assert 0 < eventlog.covered_s(split) <= eventlog.covered_s(kernel)
    assert eventlog.jobs_of(small_log, "pb0:kernel", split) == 1


def test_covered_time_is_the_union_of_stage_intervals():
    stages = [eventlog.Stage(submit_ms=a, complete_ms=b)
              for a, b in [(0, 1000), (500, 1500), (3000, 3500)]]
    assert eventlog.covered_s(stages) == 2.0
    assert eventlog.covered_s([]) == 0.0


# ------------------------------------------------------------ host clock

def test_host_clock_takes_out_steal_time(monkeypatch):
    # 30 busy and 10 steal ticks in the first second, then only busy ones
    ticks = iter([(100, 0), (130, 10), (170, 10)])
    times = iter([0.0, 1.0, 1.0, 1.5, 3.0, 3.0])
    monkeypatch.setattr(hostclock, "_cpu_ticks", lambda: next(ticks))
    monkeypatch.setattr(hostclock.time, "perf_counter", lambda: next(times))
    clock = hostclock.HostClock(interval_s=3600)   # starts at t=0
    try:
        clock._sample()                    # t=1: got 30 of 40 ticks asked
        assert clock.now() == 0.75         # t=1
        assert clock.now() == 0.75 + 0.5 * 0.75  # t=1.5, last share
        clock._sample()                    # t=3: no steal
        assert clock.now() == 0.75 + 2.0   # t=3
    finally:
        clock.close()


# ------------------------------------------------------------ names

def test_spec_names_match_the_emitted_metrics():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert e2e == run.END_TO_END
    per_layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert list(per_layer) == list(record.PER_LAYER)
    assert per_layer == {n: run.layer_unit(n) for n in record.PER_LAYER}


def test_names_use_the_allowed_characters():
    names = ([w["name"] for w in SPEC["workloads"]]
             + [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]])
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name) and len(name) <= 64, name
