#!/usr/bin/env python3
"""Per-query profiler: build each named query once in an event-logged,
bench-style session (bench.py's warmup, job groups and noop sink), then
print its wall, build and exec seconds, the counter block of each phase
(with the codegen compiles the phase made), the top stages by task-s with
the plan nodes they ran, and the formatted plan of the frame that ran (to
<plans-dir>/<query>_<tag>.txt if given).

Usage:
    python scripts/profile_query.py q_a q_b ...
    python scripts/profile_query.py --plans-dir plans/r14 --tag before q_a
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from pipeline_calculator_v3_spark import release_caches  # noqa: E402
from pipeline_calculator_v3_spark.queries import QUERIES  # noqa: E402
from pipeline_calculator_v3_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description="Profile registry queries.")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plans-dir")
    ap.add_argument("--tag", default="before")
    args = ap.parse_args()
    unknown = [q for q in args.names if q not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs, spans = {}, {}
    with bench.event_logged() as log_dir:
        spark = get_spark("pcv3-profile")
        spark.sparkContext.setLogLevel("ERROR")
        bench.warm(spark, sf_dir)
        formatted = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
            .fromString("formatted")
        for name in args.names:
            df, build_s = bench.build(spark, name, sf_dir, 0, spans)
            plan = df._jdf.queryExecution().explainString(formatted)
            exec_s = bench.execute(spark, df, name, 0, spans)
            release_caches(spark)
            runs[name] = (build_s, exec_s, plan)
        spark.stop()  # flushes the event log
        log = bench.read_log(log_dir)
    layers = bench.fold_layers(
        log, {name: (r[0], 0) for name, r in runs.items()}, spans)

    for name, (build_s, exec_s, plan) in runs.items():
        print(f"\n=== {name}: wall {build_s + exec_s:.3f}s "
              f"(build {build_s:.3f}s, exec {exec_s:.3f}s) ===")
        for phase, block in layers[name].items():
            print(f"{phase:>6}: "
                  + "  ".join(f"{k} {v:g}" for k, v in block.items()))
        groups = {f"{name}:build:0": "build", f"{name}:exec:0": "exec"}
        stages = sorted(
            ((sid, st) for sid, st in log.stages.items()
             if st.tasks and st.group in groups),
            key=lambda s: -s[1].run_ms,
        )
        print("  stage  phase  task-s  tasks  shuffle-MB  nodes")
        for sid, st in stages[:10]:
            nodes = ", ".join(dict.fromkeys(n.name for n in log.nodes_run(st)))
            print(f"  {sid:>5} {groups[st.group]:>6} {st.run_ms / 1e3:7.2f} "
                  f"{st.tasks:>6} {st.shuffle_bytes / (1 << 20):11.2f}  "
                  f"{nodes}")
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            Path(args.plans_dir, f"{name}_{args.tag}.txt").write_text(plan)
        else:
            print(plan)


if __name__ == "__main__":
    main()
