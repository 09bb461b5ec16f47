"""One Spark session per benchmark process, with all its scratch under the
run's temp root, and a stop that reaps the JVM and its Python workers."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

from procs import descendants, wait_gone


def prepare_env(checkout: str, tmp_root: str) -> None:
    """Point every scratch location at ``tmp_root`` and put the checkout on
    the Python workers' path. Must run before the JVM starts: the JVM and
    the workers it forks inherit this environment."""
    tmp = os.path.join(tmp_root, "tmp")
    local = os.path.join(tmp_root, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = checkout + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # staging.stage_dir and every other tempfile user in this process
    tempfile.tempdir = tmp


def start(tmp_root: str, cores: int, *, event_log: bool = False,
          app: str = "wcsbench"):
    from pyspark.sql import SparkSession

    tmp = os.path.join(tmp_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap is committed and touched up front, so the PSS peak measures
    # what grows beyond it (off-heap, metaspace, Python workers) instead of
    # G1's run-to-run heap growth; no perf data file under /tmp
    java_opts = (f"-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData "
                 f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", os.path.join(tmp_root, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(tmp_root, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        log_dir = os.path.join(tmp_root, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def event_log_path(tmp_root: str) -> str:
    log_dir = os.path.join(tmp_root, "eventlog")
    logs = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log, found {logs}")
    return os.path.join(log_dir, logs[0])


def stop(spark) -> None:
    """Stop Spark, shut the JVM down and wait until it and every Python
    worker under it have exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    tree = descendants(proc.pid)
    try:
        spark.stop()
    finally:
        try:
            gateway.shutdown()
        finally:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            wait_gone(tree, 30.0)
            SparkContext._gateway = None
            SparkContext._jvm = None
