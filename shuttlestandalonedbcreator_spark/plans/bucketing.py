"""Bucketed-table physical design — the Spark analogue of the reference's
secondary indexes (S7: 9 indexes dropped/recreated around bulk load,
SQLiteDirectImporter.java:774-792).

Spark has no secondary indexes; the equivalents are:
- partition columns for low-cardinality filter keys (sinks.py), and
- BUCKETING for high-cardinality JOIN keys: both sides pre-hashed into
  the same bucket layout join WITHOUT a shuffle — at 100 TB this turns
  the recurring orders⋈lineitem shuffle (the dominant network cost) into
  a local zip of co-located buckets.

Bucketed tables require the session catalog (saveAsTable); `explain` on
the joined result shows no Exchange on the bucketed keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
) -> None:
    """Overwrite ``table`` as parquet hashed into ``n_buckets`` buckets
    on ``bucket_col``."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    writer.format("parquet").saveAsTable(table)


def cobucket_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Inner-join two co-bucketed tables on their bucket keys — planned
    as a shuffle-free sort-merge join when bucket layouts match."""
    left = spark.table(left_table)
    right = spark.table(right_table)
    return left.join(right, left[left_key] == right[right_key])


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int = 32,
) -> None:
    """Range-cluster on write, overwriting ``path``: repartitionByRange +
    sortWithinPartitions on the hot predicate columns, so every output
    file covers a NARROW value range and parquet row-group min/max
    statistics prune most files at scan time (the poor man's Z-order; for
    true multi-dimensional clustering interleave key bits into a z-value
    column and range-cluster on that).

    At 100 TB this is the difference between reading every file for a
    selective predicate and reading ~1/n_files of them.
    """
    cols = [F.col(c) for c in cluster_cols]
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    n_files: int = 32,
) -> None:
    """Multi-dimensional clustering on write, overwriting ``path``:
    range-cluster on the interleaved z-value so every output file covers
    a small HYPER-RECTANGLE of the key space — parquet min/max footer
    statistics then prune files for selective predicates on ANY of the
    z-ordered columns, where 1-D `write_clustered` only helps its leading
    column. The z column is computational-only and dropped before the
    write.

    At 100 TB this is the data-layout half of scan performance: a
    filter like `l_orderkey BETWEEN a AND b AND l_partkey BETWEEN c AND d`
    reads the few files whose rectangles intersect the box instead of
    every file. Columns must be ints (hash or dictionary-encode anything
    else first).

    Each column is first NORMALIZED to the full 16-bit range from
    its observed min/max (one tiny driver-side agg). Interleaving RAW
    bits is the classic z-order mistake: with columns of different
    magnitude (a 13-bit orderkey vs an 8-bit partkey) the wide column's
    high bits own every significant z position and the layout degrades
    to 1-D clustering on it alone."""
    stats = df.agg(
        *[F.min(c).cast("long").alias(f"_mn_{i}") for i, c in enumerate(zorder_cols)],
        *[F.max(c).cast("long").alias(f"_mx_{i}") for i, c in enumerate(zorder_cols)],
    ).collect()[0]
    bits = 16
    top = (1 << bits) - 1
    norm = []
    for i, c in enumerate(zorder_cols):
        mn, mx = stats[f"_mn_{i}"], stats[f"_mx_{i}"]
        span = max((mx or 0) - (mn or 0), 1)
        norm.append(
            ((F.col(c).cast("long") - F.lit(mn)) * top / F.lit(span)).cast("long")
        )
    z = zorder_value(norm, bits=bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_value(cols: list, bits: int = 16):
    """Interleave the low ``bits`` bits of 2+ non-negative int columns into
    one z-value (bit-interleaving via shifts — pure JVM expressions).
    Range-clustering on the z-value gives multi-dimensional locality."""
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + i))
    return z


def shuffle_count(df: DataFrame) -> int:
    """Number of SHUFFLE Exchange operators in the executed plan (0 on a
    co-bucketed join) — BroadcastExchange is deliberately not counted; it
    ships a dimension, not the fact table."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        plan.count(marker)
        for marker in (
            "Exchange hashpartitioning",
            "Exchange rangepartitioning",
            "Exchange SinglePartition",
        )
    )
