"""SparkSession factory.

The reference tunes SQLite for bulk load (WAL, 2 GB page cache, 1000-row
batches — ``SQLiteDirectImporter.java:265-271``). The Spark-native analogue
is AQE + sized shuffle partitions + Arrow, set once here so every entry
point (tests, bench, driver) gets the same profile.

Scale notes (100 TB target):
- ``spark.sql.adaptive.enabled``: runtime coalescing/skew-join — the knob
  that replaces hand-tuned partition counts when data volume varies 1000×.
- ``spark.sql.shuffle.partitions`` is the local core count here;
  on a real cluster this should be ~2-3× total executor cores (or left to
  AQE's coalescing with a high initial value).
- session timezone pinned to UTC so timestamp semantics are deterministic
  across driver/oracle/cluster (the reference renders dates in the system
  default zone — ``SQLiteDirectImporter.java:1000`` — which we deliberately
  normalize to UTC).
- ``spark.python.sql.dataFrameDebugging.enabled`` off: PySpark's default
  wraps every ``Column``/``functions`` call to capture its Python call site,
  about five extra py4j round trips per call plus a stack walk (and an
  IPython import on the first call). Off, a build makes half to a third of
  the round trips; a DataFrame error keeps its SQL and plan context but no
  longer names the Python line that built the failing expression. Pass
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
  to get that line back. It is a static conf: only a session's first
  build sets it, and PySpark reads it once per process.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def spark_graft_cpus() -> int:
    """Core count from $SPARK_GRAFT_CPUS. A missing, malformed or
    non-positive value falls back to os.cpu_count() instead of crashing
    session start."""
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", ""))
    except ValueError:
        cpus = 0
    return cpus if cpus > 0 else (os.cpu_count() or 4)


def get_spark(
    app_name: str = "shuttlestandalonedbcreator-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard profile:
    master ``$SPARK_MASTER`` (else ``local[<cpus>]``), one shuffle
    partition per core, then ``extra_conf`` over everything."""
    cpus = spark_graft_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # no per-call call-site capture on Column/functions calls (module
        # docstring); a static conf, so it is set here at build
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # driver testdata stores some timestamps as parquet TIMESTAMP(NANOS),
        # which Spark's reader rejects natively; read as long and convert
        # (sources.registry normalizes back to TimestampType)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # AQE's parallelism-first coalescing still floors every post-shuffle
        # partition at minPartitionSize (default 1m). That floor only binds
        # when total shuffle bytes < parallelism x floor — i.e. small-byte
        # stages, which in this engine are exactly the compute-dense ones
        # (posting-list pair expansion, candidate verify, per-pair set
        # intersection: ~8-byte keyed rows carrying heavy per-row work).
        # The 1m floor serialized those stages onto 1-4 tasks; 64k restores
        # full parallelism (measured r10: prefix_filter_jaccard -53%,
        # split_contamination -38%, pagerank/kcore/neardup/closure -10..-25%,
        # no entry slower across an interleaved 3-value sweep). At
        # production shuffle volumes the floor never binds, so the setting
        # is local-scale-inert by construction; a cluster that wants the
        # stock floor passes it in extra_conf.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
