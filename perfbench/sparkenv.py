"""Spark session for the benchmark: host-sized, and confined to the work
directory (warehouse, spark.local.dir, JVM and Python temp files)."""

from __future__ import annotations

import os
import subprocess

import host


def confine(work: str) -> None:
    """Point every temp-file writer of this process and of the processes it
    starts (the JVM, Spark's Python workers) at `work`. Call before pyspark
    starts a JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # -XX:-UsePerfData: no hsperfdata files in /tmp from any JVM the
        # launcher starts (the launcher's own included)
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Spark's Python workers must not write bytecode to site-packages
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start(work: str, app: str, event_log: str | None):
    """Build the engine session on local[nproc] with host-sized memory.
    `event_log`: directory for the Spark event log (traced runs only)."""
    confine(work)
    from embulk_output_databricks_spark.session import build_session

    n = host.cpus()
    local = os.environ["SPARK_LOCAL_DIRS"]
    os.makedirs(local, exist_ok=True)
    conf = {
        **host.memory_conf(),
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = build_session(app_name=app, master=f"local[{n}]",
                          shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop(spark, timeout_s: float = 60) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    spark.stop()
    proc = gw.proc
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
