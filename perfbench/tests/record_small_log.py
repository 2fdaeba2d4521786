"""Record the small event log the event-log folder test reads.

    python3 perfbench/tests/record_small_log.py

Writes perfbench/tests/data/small_eventlog.json: two job groups, one
running a grouped-map Python kernel, one a shuffle join and aggregate.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent


def _plus_one(pdf):
    pdf["v"] = pdf["v"] + 1
    return pdf


def main() -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log_dir = Path(tempfile.mkdtemp(dir=HERE))
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.dir", log_dir.as_uri())
        .getOrCreate()
    )
    sc = spark.sparkContext
    try:
        df = spark.range(40).select((F.col("id") % 4).alias("k"),
                                    F.col("id").cast("double").alias("v"))
        sc.setJobGroup("pb0:kernel", "kernel")
        df.groupBy("k").applyInPandas(_plus_one, "k long, v double").collect()
        sc.setJobGroup("pb0:join", "join")
        other = spark.range(4).select(F.col("id").alias("k"))
        df.join(other, "k").groupBy("k").count().collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
    finally:
        spark.stop()
    (log,) = [p for p in log_dir.iterdir() if p.is_file()]
    with open(log) as src, open(HERE / "data" / "small_eventlog.json",
                                "w") as dst:
        for line in src:
            event = _trim(json.loads(line))
            if event is not None:
                dst.write(json.dumps(event, separators=(",", ":")) + "\n")
    shutil.rmtree(log_dir)
    return 0


_SQL = "org.apache.spark.sql.execution.ui."
_TASK_METRICS = ("Executor Run Time", "JVM GC Time", "Shuffle Write Metrics",
                 "Disk Bytes Spilled")


def _trim(e: dict) -> dict | None:
    """Keep only what eventlog.read uses: no environment, call sites or
    plan text, which name the machine the log was recorded on."""
    kind = e["Event"]
    props = {k: v for k, v in e.get("Properties", {}).items()
             if k == "spark.jobGroup.id"}
    if kind == "SparkListenerJobStart":
        return {"Event": kind, "Job ID": e["Job ID"],
                "Stage IDs": e["Stage IDs"], "Properties": props}
    if kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
        info = {k: v for k, v in e["Stage Info"].items()
                if k in ("Stage ID", "Submission Time", "Completion Time")}
        return {"Event": kind, "Stage Info": info, "Properties": props}
    if kind == "SparkListenerTaskEnd":
        info = e["Task Info"]
        return {
            "Event": kind, "Stage ID": e["Stage ID"],
            "Task End Reason": e["Task End Reason"],
            "Task Info": {
                "Launch Time": info["Launch Time"],
                "Finish Time": info["Finish Time"],
                "Accumulables": [{"ID": a["ID"], "Update": a["Update"]}
                                 for a in info["Accumulables"]
                                 if "Update" in a],
            },
            "Task Metrics": {k: v for k, v in e["Task Metrics"].items()
                             if k in _TASK_METRICS},
        }
    if kind in (_SQL + "SparkListenerSQLExecutionStart",
                _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
        return {"Event": kind, "executionId": e["executionId"],
                "sparkPlanInfo": e["sparkPlanInfo"]}
    return None


if __name__ == "__main__":
    sys.exit(main())
