"""Re-record ``eventlog_tiny.jsonl`` and its op windows.

    python3 perfbench/testdata/record_eventlog.py

Runs two tagged ops on ``local[2,2]`` (two threads, a task may fail once)
with an uncompressed event log, then keeps only the job and task events
the reader uses, with the fields it reads plus their identifiers.
"""

from __future__ import annotations

import json
import shutil
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
OUT = HERE / "eventlog_tiny.jsonl"
TASK_METRICS = (
    "Executor Run Time",
    "Executor CPU Time",
    "JVM GC Time",
    "Memory Bytes Spilled",
    "Disk Bytes Spilled",
    "Shuffle Read Metrics",
    "Shuffle Write Metrics",
)


def flaky(x):
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("first attempt of partition 0 fails")
    return x


def trim(ev: dict) -> dict | None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        keep = {k: ev[k] for k in ("Event", "Job ID", "Submission Time", "Stage IDs")}
        group = props.get("spark.jobGroup.id")
        keep["Properties"] = {"spark.jobGroup.id": group} if group else {}
        return keep
    if kind == "SparkListenerJobEnd":
        return {k: ev[k] for k in ("Event", "Job ID", "Completion Time", "Job Result")}
    if kind == "SparkListenerTaskEnd":
        info = ev["Task Info"]
        metrics = ev.get("Task Metrics") or {}
        return {
            "Event": kind,
            "Stage ID": ev["Stage ID"],
            "Stage Attempt ID": ev["Stage Attempt ID"],
            "Task End Reason": {"Reason": ev["Task End Reason"]["Reason"]},
            "Task Info": {
                k: info[k]
                for k in ("Task ID", "Attempt", "Launch Time", "Finish Time", "Failed", "Killed")
            },
            "Task Metrics": {k: metrics[k] for k in TASK_METRICS if k in metrics},
        }
    return None


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    logdir = Path(tempfile.mkdtemp(prefix="eventlog-", dir=HERE))
    try:
        spark = (
            SparkSession.builder.master("local[2,2]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", logdir.as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        ops = []
        sc.setJobGroup("bench:t:op0", "bench:t:op0")
        t0 = time.time()
        spark.range(0, 1000, 1, 2).groupBy((F.col("id") % 7).alias("k")).count().collect()
        ops.append(["bench:t:op0", t0, time.time()])
        sc.setJobGroup("bench:t:op1", "bench:t:op1")
        t0 = time.time()
        sc.parallelize(range(10), 2).map(flaky).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.parallelize(range(10), 2).count()
        ops.append(["bench:t:op1", t0, time.time()])
        spark.stop()
        events = []
        for f in sorted(p for p in logdir.rglob("*") if p.is_file()):
            for line in f.read_text().splitlines():
                if line.startswith("{") and (ev := trim(json.loads(line))) is not None:
                    events.append(json.dumps(ev))
        OUT.write_text("\n".join(events) + "\n")
        OUT.with_suffix(".ops.json").write_text(json.dumps(ops) + "\n")
    finally:
        shutil.rmtree(logdir, ignore_errors=True)


if __name__ == "__main__":
    main()
