"""Aggregation / filter / top-k operators — the reference's view surface.

Parity targets (file:line into /root/reference):
- ``status_summary``   — conditional aggregation grouped on a coalesced
  status, ordered by count desc (SQLiteDirectImporter.java:877-885,
  SCHEMA.sql:60-68). Operators A3+P7+O1.
- ``files_filter`` / ``folders_filter`` — the files/folders partition views
  (:869-874, SCHEMA.sql:52-57). Operators P3/P4.
- ``grouped_count``    — `GROUP BY job_name` / `GROUP BY level` counts
  (README.md:76,100). Operator A2.
- ``top_k``            — `ORDER BY record_count DESC LIMIT 5` (:1052-1057).
  Operator O3; Spark plans it as TakeOrderedAndProject (no global sort).

Scale notes: all are single-shuffle hash aggregations with map-side partial
aggregation supplied by Catalyst; group keys are low-cardinality so the
reduce side is tiny regardless of input size. `top_k` avoids a total sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def status_summary(
    df: DataFrame,
    status_col: str,
    file_predicate: Column,
    folder_predicate: Column,
) -> DataFrame:
    """`status_summary` shape: for each COALESCE(status,'Unknown') emit
    total / conditional-file / conditional-folder counts, desc by total."""
    status = F.coalesce(F.col(status_col), F.lit("Unknown")).alias("status_name")
    return (
        df.groupBy(status)
        .agg(
            F.count(F.lit(1)).alias("record_count"),
            F.count(F.when(file_predicate, 1)).alias("file_count"),
            F.count(F.when(folder_predicate, 1)).alias("folder_count"),
        )
        .orderBy(F.desc("record_count"), F.asc("status_name"))
    )


def files_filter(df: DataFrame, size_col: str) -> DataFrame:
    """files_view: rows with size > 0 (:869-870)."""
    return df.filter(F.col(size_col) > 0)


def folders_filter(df: DataFrame, size_col: str) -> DataFrame:
    """folders_view: size = 0 OR size IS NULL (:873-874)."""
    c = F.col(size_col)
    return df.filter((c == 0) | c.isNull())


def grouped_count(df: DataFrame, key_col: str) -> DataFrame:
    return (
        df.groupBy(F.col(key_col))
        .agg(F.count(F.lit(1)).alias("record_count"))
        .orderBy(F.asc(key_col))
    )


def top_k(df: DataFrame, key_col: str, k: int = 5) -> DataFrame:
    """Top-k groups by count — `TakeOrderedAndProject`, never a full sort."""
    return (
        df.groupBy(F.col(key_col))
        .agg(F.count(F.lit(1)).alias("record_count"))
        .orderBy(F.desc("record_count"), F.asc(key_col))
        .limit(k)
    )
