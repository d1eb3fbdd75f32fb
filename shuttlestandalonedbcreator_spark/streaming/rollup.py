"""Continuously-maintained time rollup — the "continuous aggregate" /
hypertable-rollup pattern: an always-fresh hourly aggregate table over an
event stream, maintained incrementally.

No reference counterpart (the reference is batch-only, SURVEY.md §2.9);
built from the same public primitives as the folder protocol
(`file_protocol.py`): a file-source stream + `foreachBatch`.

Scale design:
- the rollup stores only MERGEABLE state (count + exact scaled-long sum),
  so refreshing a partition combines the batch's partial aggregate with
  the previously-written aggregate — raw history is NEVER re-read.
- each micro-batch rewrites ONLY the hour partitions it touches
  (`partitionOverwriteMode=dynamic`); an out-of-order event just refreshes
  its own old partition. Untouched partitions are never opened, so a batch
  that spans k hours costs O(batch + k partitions) regardless of the
  table's total history.
- derived ratios (avg) are computed by readers from the mergeable columns,
  never stored — storing them would make partitions non-mergeable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def hourly_partial(events: DataFrame) -> DataFrame:
    """Mergeable hourly partial aggregate of an event frame over ``ts``:
    (epoch_hour, n_events, sum_scaled) with the ``value`` sum as an exact
    scaled long (cents-style decimal encode, associative to merge)."""
    scaled = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    return (
        events.groupBy(
            (F.unix_timestamp(F.col("ts")) / 3600).cast("long").alias("epoch_hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(scaled).alias("sum_scaled"),
        )
    )


def merge_partials(frames: DataFrame) -> DataFrame:
    """Re-aggregate a union of partial rollups into one row per hour."""
    return frames.groupBy("epoch_hour").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_scaled").alias("sum_scaled"),
    )


def read_rollup(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """Reader view over the rollup: mergeable columns + derived avg."""
    df = spark.read.parquet(rollup_dir)
    return df.select(
        "epoch_hour",
        "n_events",
        (F.col("sum_scaled") / 100.0).alias("total_value"),
        F.round(F.col("sum_scaled") / 100.0 / F.col("n_events"), 6).alias("avg_value"),
    )


def maintain_hourly_rollup(
    spark: SparkSession,
    source_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    schema: str,
) -> StreamingQuery:
    """Watch ``source_dir`` for parquet event drops (``ts``, ``value``)
    and keep the hourly rollup at ``rollup_dir`` fresh. AvailableNow
    trigger: drains what exists, then stops — rerun per poll cycle, like
    the reference's folder protocol (SQLiteDirectImporter.java:125-134).
    """
    raw = spark.readStream.schema(schema).parquet(source_dir)

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        import os

        partial = hourly_partial(batch)
        have_rollup = os.path.isdir(rollup_dir) and any(
            f.startswith("epoch_hour=") for f in os.listdir(rollup_dir)
        )
        if have_rollup:
            touched = [r["epoch_hour"] for r in partial.select("epoch_hour").distinct().collect()]
            existing = spark.read.parquet(rollup_dir).filter(
                F.col("epoch_hour").isin(touched)  # partition pruning: only touched hours open
            )
            merged = merge_partials(partial.unionByName(existing))
        else:
            merged = partial
        (
            merged.repartition(1, "epoch_hour")  # one file per refreshed partition
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_hour")
            .parquet(rollup_dir)
        )

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
