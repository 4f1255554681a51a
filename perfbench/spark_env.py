"""The benchmark's pinned Spark environment: every core of the box in
one local process, a driver heap well below physical RAM, and every
scratch file (shuffle, spill, JVM temp, warehouse) inside the
benchmark's own work directory."""

from __future__ import annotations

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEM = "2g"


def pin_env() -> dict:
    """Set the environment the session factory reads; returns it."""
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": os.path.join(WORK, "tmp"),
        # every JVM, the spark-submit launcher's included, keeps its
        # temp files inside the work directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    for d in (pinned["SPARK_LOCAL_DIRS"], pinned["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(pinned)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return pinned


def session_conf() -> dict:
    return {"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
