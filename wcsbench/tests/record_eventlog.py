"""Record the small event log ``test_eventlog.py`` folds.

    python3 wcsbench/tests/record_eventlog.py

Runs four spans on a ``local[2,2]`` session (two task attempts allowed):

* ``identity_map``: an identity ``mapInArrow``;
* ``grouped_shuffle``: a ``groupBy().agg()`` with a shuffle;
* ``retried_task``: a ``mapInArrow`` whose first attempt of partition 0
  fails, so that task is retried once;
* ``background``: one job from the span's own thread and one submitted
  from another thread, which carries no job group.

Writes ``data/eventlog.json`` (JSON lines, cut down to the events and
fields the fold reads) and ``data/spans.json`` next to this file.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from spans import Tracer  # noqa: E402

KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time", "Job Result"),
    "SparkListenerStageCompleted": ("Stage Info",),
    "SparkListenerTaskEnd": ("Stage ID", "Stage Attempt ID", "Task Type",
                             "Task End Reason", "Task Info", "Task Metrics"),
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
        ("executionId", "time", "sparkPlanInfo"),
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate":
        ("executionId", "sparkPlanInfo"),
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveSQLMetricUpdates":
        ("executionId", "sqlPlanMetrics"),
}


def _plan(node: dict) -> dict:
    return {"nodeName": node["nodeName"], "metrics": node.get("metrics", []),
            "children": [_plan(c) for c in node.get("children", ())]}


def _trim(ev: dict) -> dict | None:
    keep = KEEP.get(ev["Event"])
    if keep is None:
        return None
    out = {"Event": ev["Event"]}
    out.update({k: ev[k] for k in keep if k in ev})
    if "sparkPlanInfo" in out:
        out["sparkPlanInfo"] = _plan(out["sparkPlanInfo"])
    if "Properties" in out:
        out["Properties"] = {k: v for k, v in out["Properties"].items()
                             if k == "spark.jobGroup.id"}
    if "Stage Info" in out:
        out["Stage Info"] = {k: v for k, v in out["Stage Info"].items()
                             if k != "RDD Info"}
    return out


def identity(batches):
    yield from batches


def flaky(batches):
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("injected failure, retried by Spark")
    yield from batches


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    scratch = os.path.join(os.path.dirname(os.path.dirname(HERE)), ".bench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="record-eventlog-", dir=scratch)
    try:
        spark = (
            SparkSession.builder.master("local[2,2]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + tmp)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark.sparkContext)
        df = spark.range(0, 1000, numPartitions=2).withColumn("k", F.col("id") % 7)
        with tracer.span("identity_map"):
            df.mapInArrow(identity, df.schema).write.format("noop").mode("overwrite").save()
        with tracer.span("grouped_shuffle"):
            df.groupBy("k").agg(F.sum("id")).collect()
        with tracer.span("retried_task"):
            df.mapInArrow(flaky, df.schema).write.format("noop").mode("overwrite").save()
        with tracer.span("background"):
            side = threading.Thread(target=lambda: spark.range(0, 100, numPartitions=2).count())
            side.start()
            side.join()
            spark.range(0, 100, numPartitions=2).count()
        spark.stop()
        (log,) = [f for f in os.listdir(tmp) if f.startswith(("local-", "app-"))]
        data = os.path.join(HERE, "data")
        os.makedirs(data, exist_ok=True)
        with open(os.path.join(tmp, log), encoding="utf-8") as src, \
                open(os.path.join(data, "eventlog.json"), "w", encoding="utf-8") as dst:
            for line in src:
                ev = _trim(json.loads(line))
                if ev is not None:
                    dst.write(json.dumps(ev, separators=(",", ":")) + "\n")
        tracer.dump(os.path.join(data, "spans.json"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass


if __name__ == "__main__":
    main()
