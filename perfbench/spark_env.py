"""Start and stop the engine's Spark session inside a scratch directory.

Spark's shuffle and block files, the JVM's temp files and Python's temp
files all go under ``scratch``, so a run writes nothing outside it. ``stop``
ends the JVM and waits for it, so no process outlives the run.
"""

from __future__ import annotations

import os


def start(app_name: str, scratch: str):
    from shuttlestandalonedbcreator_spark.session import get_spark

    scratch = os.path.abspath(scratch)
    os.makedirs(scratch, exist_ok=True)
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir; the options
    # reach every JVM, the launcher's too, whose perf-data file would
    # otherwise go to /tmp
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = scratch
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}"
    spark = get_spark(
        app_name=app_name,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": scratch,
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark, timeout_s: float = 60.0) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout_s)
        except Exception:
            proc.kill()
            proc.wait()
