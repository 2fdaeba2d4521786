"""bench.py's per-query record: the event-log fold that writes the
"layers" entry of BENCH_LOCAL.json (no Spark session needed)."""

from __future__ import annotations

import json

import bench
from perfbench import eventlog


def _job(job_id, group, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}}


def _stage(kind, sid, t):
    return {"Event": f"SparkListenerStage{kind}",
            "Stage Info": {"Stage ID": sid, "Submission Time": t,
                           "Completion Time": t + 50}}


def _task(sid, run_ms, shuffle_bytes=0, ok=True):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Info": {"Launch Time": 1000, "Accumulables": []},
            "Task End Reason": {"Reason": "Success" if ok else "Failed"},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 0,
                             "Shuffle Write Metrics":
                                 {"Shuffle Bytes Written": shuffle_bytes}}}


def _log(tmp_path):
    # q_a: pass 0 picked; q_b: pass 1 picked, its pass-0 exec job must
    # not leak into the record
    events = [
        _job(0, "q_a:build:0", [0]), _stage("Submitted", 0, 1000),
        _task(0, 100), _task(0, 100), _stage("Completed", 0, 1000),
        _job(1, "q_a:exec:0", [1]), _stage("Submitted", 1, 1000),
        *[_task(1, 200, 1 << 20) for _ in range(3)],
        _stage("Completed", 1, 1000),
        _job(2, "q_b:exec:0", [2]), _stage("Submitted", 2, 1000),
        *[_task(2, 300) for _ in range(7)], _stage("Completed", 2, 1000),
        _job(3, "q_b:build:1", [3]), _stage("Submitted", 3, 1000),
        _task(3, 50), _stage("Completed", 3, 1000),
        _job(4, "q_b:exec:1", [4, 5]),
        _stage("Submitted", 4, 1000), *[_task(4, 10) for _ in range(4)],
        _stage("Completed", 4, 1000),
        _stage("Submitted", 5, 1000), _task(5, 10), _task(5, 10, ok=False),
        _stage("Completed", 5, 1000),
    ]
    (tmp_path / "local-1").write_text(
        "".join(json.dumps(e) + "\n" for e in events))
    return bench.read_log(str(tmp_path))


# (start, end, codegen compiles) per job group; the windows hold no
# stage's submission time, so they adopt no job
SPANS = {"q_a:build:0": (0, 1, 3), "q_a:exec:0": (2, 3, 40),
         "q_b:exec:0": (4, 5, 7), "q_b:build:1": (6, 7, 0),
         "q_b:exec:1": (8, 9, 2)}


def test_fold_gives_build_and_exec_blocks_per_query(tmp_path):
    layers = bench.fold_layers(_log(tmp_path),
                               {"q_a": (0.5, 0), "q_b": (0.25, 1)}, SPANS)
    assert set(layers) == {"q_a", "q_b"}
    for rec in layers.values():
        assert set(rec) == {"build", "exec"}
        assert set(rec["build"]) == {"build_s", *eventlog.COUNTERS,
                                     "codegen_compiles"}
        assert set(rec["exec"]) == {*eventlog.COUNTERS, "codegen_compiles"}
    a, b = layers["q_a"], layers["q_b"]
    assert (a["build"]["build_s"], a["build"]["jobs"], a["build"]["tasks"],
            a["build"]["task_s"]) == (0.5, 1, 2, 0.2)
    assert (a["exec"]["jobs"], a["exec"]["tasks"], a["exec"]["task_s"],
            a["exec"]["shuffle_mb"]) == (1, 3, 0.6, 3.0)
    assert (b["build"]["build_s"], b["build"]["jobs"],
            b["build"]["tasks"]) == (0.25, 1, 1)
    assert (b["exec"]["jobs"], b["exec"]["tasks"],
            b["exec"]["failed_tasks"]) == (1, 6, 1)


def test_each_phase_carries_its_own_codegen_compiles(tmp_path):
    """A phase's count is the JVM compile delta of its own span: the
    picked pass's, never the other pass's or the other phase's."""
    layers = bench.fold_layers(_log(tmp_path),
                               {"q_a": (0.5, 0), "q_b": (0.25, 1)}, SPANS)
    assert {(q, phase): rec[phase]["codegen_compiles"]
            for q, rec in layers.items() for phase in rec} == {
        ("q_a", "build"): 3, ("q_a", "exec"): 40,
        ("q_b", "build"): 0, ("q_b", "exec"): 2}


def test_streaming_jobs_count_in_the_span_they_ran_in(tmp_path):
    """Micro-batch jobs run under the stream's own run-id group: each one
    counts in the span whose window holds its submission time, and one
    submitted outside every span counts nowhere."""
    run = "5b3c2f0e-run-id"
    events = [
        _job(0, "q_s:build:0", [0]),
        _stage("Submitted", 0, 1000), _task(0, 100),
        _stage("Completed", 0, 1000),
        _job(1, run, [1]),
        _stage("Submitted", 1, 1500), *[_task(1, 200) for _ in range(3)],
        _stage("Completed", 1, 1500),
        _job(2, run, [2]),
        _stage("Submitted", 2, 3100), _task(2, 400),
        _stage("Completed", 2, 3100),
        _job(3, "q_s:exec:0", [3]),
        _stage("Submitted", 3, 3000), _task(3, 50),
        _stage("Completed", 3, 3000),
        _job(4, run, [4]),
        _stage("Submitted", 4, 9000), _task(4, 700),
        _stage("Completed", 4, 9000),
    ]
    (tmp_path / "local-1").write_text(
        "".join(json.dumps(e) + "\n" for e in events))
    spans = {"q_s:build:0": (900, 2000, 0), "q_s:exec:0": (2900, 3500, 0)}
    layers = bench.fold_layers(bench.read_log(str(tmp_path)),
                               {"q_s": (1.1, 0)}, spans)
    build, exe = layers["q_s"]["build"], layers["q_s"]["exec"]
    assert (build["jobs"], build["tasks"], build["task_s"]) == (2, 4, 0.7)
    assert (exe["jobs"], exe["tasks"], exe["task_s"]) == (2, 2, 0.45)


def test_class_archive_state_from_hotspot_options():
    """The "jvm" record's class_archive, from the HotSpot option values
    UseSharedSpaces, SharedArchiveFile and ArchiveClassesAtExit."""
    state = bench.class_archive_state
    assert state("true", "", "/c/k.123.jsa") == "dumping"
    assert state("true", "/c/k.jsa", "") == "mapped"
    # a stale or rejected archive: the JVM turns sharing off
    assert state("false", "/c/k.jsa", "") == "off"
    # only the JDK's own base archive, or no sharing at all
    assert state("true", "", "") == "off"
    assert state("false", "", "") == "off"
