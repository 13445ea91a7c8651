"""Re-records data/tiny_eventlog.jsonl, the fixture of test_eventlog.py.

    python3 perfbench/tests/record_eventlog.py

Two jobs on local[2,2] (tasks may retry once): a shuffle of 100 rows into
4 partitions, then a Python UDF whose first attempt on partition 0 raises,
so the log holds one failed task. The two jobs' time windows go to
data/tiny_spans.json.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))


def flaky(x):
    from pyspark import TaskContext
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("first attempt fails on purpose")
    return x


def scrub(ev: dict) -> dict | None:
    """Keeps the fields the reader uses (plus stage ends, which it must
    skip) and drops properties, call sites and stack traces, which hold
    paths of the machine that recorded the log."""
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        return {k: ev[k] for k in ("Event", "Job ID", "Submission Time",
                                   "Stage IDs")}
    if kind == "SparkListenerJobEnd":
        return {k: ev[k] for k in ("Event", "Job ID", "Completion Time")}
    if kind == "SparkListenerStageCompleted":
        return {"Event": kind,
                "Stage Info": {"Stage ID": ev["Stage Info"]["Stage ID"]}}
    if kind == "SparkListenerTaskEnd":
        info, metrics = ev["Task Info"], ev["Task Metrics"]
        return {
            "Event": kind, "Stage ID": ev["Stage ID"],
            "Task End Reason": {"Reason": ev["Task End Reason"]["Reason"]},
            "Task Info": {k: info[k] for k in (
                "Task ID", "Launch Time", "Finish Time", "Failed")},
            "Task Metrics": {k: metrics[k] for k in (
                "Executor Run Time", "Memory Bytes Spilled",
                "Disk Bytes Spilled", "Shuffle Write Metrics")},
        }
    return None


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from perfbench.host import spark_conf

    scratch = os.path.join(HERE, "..", ".work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(dir=scratch)
    try:
        builder = SparkSession.builder.master("local[2,2]").appName("tiny")
        for k, v in spark_conf(work, 1024,
                               os.path.join(work, "ev")).items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        windows = {}
        t0 = time.time()
        spark.range(100).repartition(4).groupBy(
            (F.col("id") % 3).alias("k")).count().collect()
        windows["shuffle"] = (t0, time.time())
        time.sleep(0.2)
        t0 = time.time()
        spark.sparkContext.parallelize(range(8), 2).map(flaky).collect()
        windows["flaky"] = (t0, time.time())
        spark.stop()
        (log,) = glob.glob(os.path.join(work, "ev", "*"))
        os.makedirs(os.path.join(HERE, "data"), exist_ok=True)
        with open(log) as src, open(os.path.join(
                HERE, "data", "tiny_eventlog.jsonl"), "w") as dst:
            for line in src:
                ev = scrub(json.loads(line))
                if ev:
                    dst.write(json.dumps(ev, separators=(",", ":")) + "\n")
        with open(os.path.join(HERE, "data", "tiny_spans.json"), "w") as f:
            json.dump(windows, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
