"""Parquet table registry over a scale-factor directory.

The driver materializes TPC-H-ish tables (TESTDATA.md) as one parquet file
per table. Scans stay declarative (`spark.read.parquet`) so Catalyst keeps
predicate pushdown / column pruning / partition pruning; at 100 TB the same
call reads a partitioned directory tree and prunes on partition columns.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def ensure_utc(spark: SparkSession) -> None:
    """Pin the session timezone to UTC — an engine-wide invariant
    (session.get_spark sets it at build; this enforces it for
    caller-provided sessions). Called unconditionally before every table
    load so timestamp semantics NEVER depend on which table happened to
    be loaded first: NTZ->LTZ casts, string->timestamp parsing,
    date_trunc and unix_timestamp all read the session zone, and the
    DuckDB oracle evaluates naive timestamps, i.e. UTC wall clock."""
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def footer_schema(arrow_schema, ns_cols: list[str]) -> StructType | None:
    """The schema Spark infers for a single parquet file, built from its
    footer instead of by a schema-merge job: all columns nullable, timestamps
    without a zone as TIMESTAMP_NTZ, and ``ns_cols`` as the longs that
    `nanosAsLong` reads. None when a column's type has no Spark type or
    Spark reads it otherwise (unsigned ints, time of day, durations, nested
    nanosecond timestamps): the caller lets Spark infer."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type

    def mapped(t, nested: bool) -> bool:
        ns = pa.types.is_timestamp(t) and t.unit == "ns"
        if pa.types.is_time(t) or pa.types.is_duration(t) or (nested and ns):
            return False
        return all(mapped(t.field(i).type, True) for i in range(t.num_fields))

    if not all(mapped(field.type, False) for field in arrow_schema):
        return None
    try:
        return StructType([
            StructField(
                field.name,
                LongType() if field.name in ns_cols
                else from_arrow_type(field.type, prefer_timestamp_ntz=True),
                True,
            )
            for field in arrow_schema
        ])
    except TypeError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table, normalizing parquet TIMESTAMP(NANOS) columns (which
    Spark reads as long under `nanosAsLong`) back to TimestampType via
    exact integer division — semantics identical to DuckDB's truncation.

    A single-file table is read with the schema its footer declares, so the
    load fires no schema-inference job; a directory (a partitioned or
    Spark-written table) or an unmapped type falls back to inference.

    Legacy INT96 timestamps also surface in pyarrow as ``timestamp[ns]``,
    but Spark reads them as TIMESTAMP, not as nanosecond longs: they stay
    out of the nanos columns, and a file holding one is left to inference
    (which types it TIMESTAMP)."""
    import pyarrow as pa

    ensure_utc(spark)

    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols, schema = [], None
    try:
        parquet_schema = pq.read_metadata(path).schema
    except (OSError, pa.ArrowException):
        pass  # a directory or a scheme pyarrow cannot open: Spark infers
    else:
        arrow_schema = parquet_schema.to_arrow_schema()
        int96 = {
            parquet_schema.column(i).path.split(".")[0]
            for i in range(len(parquet_schema))
            if parquet_schema.column(i).physical_type == "INT96"
        }
        ns_cols = [
            field.name
            for field in arrow_schema
            if pa.types.is_timestamp(field.type)
            and field.type.unit == "ns"
            and field.name not in int96
        ]
        if not int96:
            schema = footer_schema(arrow_schema, ns_cols)
    if ns_cols:
        # runtime-set so it works on ANY caller-provided session (the
        # driver builds its own); conf only affects nanos columns
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    for col_name in ns_cols:
        # integer div keeps full precision (ns values overflow double)
        df = df.withColumn(col_name, F.expr(f"timestamp_micros({col_name} div 1000)"))
    # Parquet timestamp[us] without tz reads as TIMESTAMP_NTZ; the engine's
    # time functions (unix_micros, range frames) need TIMESTAMP. The session
    # is pinned UTC (ensure_utc above), so the NTZ->LTZ cast is the identity
    # on the wall clock (matches DuckDB's naive-timestamp reading bit-for-bit).
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (the engine's SQL surface —
    reference exposes its data the same way, as SQLite views)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
