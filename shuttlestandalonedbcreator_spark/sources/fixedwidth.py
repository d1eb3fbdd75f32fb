"""Fixed-width text source/sink — the fourth interchange format, for the
mainframe/EDI-style exports that still feed enterprise transfer reports
(the reference's CSV/XLSX intake has no answer for them).

A record is one line; each column is a (name, start, width) byte slice.
Parsing is pure JVM `substring`/`trim`/`try_cast` expressions over
`spark.read.text` — zero UDFs, full whole-stage codegen.

Error tolerance follows the house E1 contract (per-row skip + side
channel, never a job abort): a row is malformed when it is shorter than
the layout or a typed column fails `try_cast`; PERMISSIVE keeps it with
the raw line in `_corrupt_record`, DROPMALFORMED drops it executor-side.

Scale notes:
- plain text splits by byte range (the scanner resyncs on newlines), so
  one huge export file still parallelizes; gz is not splittable — shard
  via the writer's `num_files` instead.
- the layout is applied as column pruning manually: only referenced
  slices are computed, and `spark.read.text` ships one string column —
  there is nothing else to push down.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.sources.jsonl import CORRUPT_COL

# (name, start, width, type) — start is 0-based; type is a Spark DDL
# scalar type ("string", "long", "double", "date", ...)
ColSpec = tuple[str, int, int, str]


def _min_line_len(colspecs: list[ColSpec]) -> int:
    return max(start + width for _, start, width, _ in colspecs)


def read_fixed_width(
    spark: SparkSession,
    path: str,
    colspecs: list[ColSpec],
    keep_corrupt: bool = False,
) -> DataFrame:
    """Parse a fixed-width layout; blank lines are skipped.
    ``keep_corrupt=True`` = PERMISSIVE (malformed rows survive with all
    columns NULL + the raw line in ``_corrupt_record``); default =
    DROPMALFORMED (malformed rows are filtered executor-side)."""
    raw = spark.read.text(path).filter(F.length(F.rtrim(F.col("value"))) > 0)

    cols = []
    ok = F.length(F.col("value")) >= _min_line_len(colspecs)
    for name, start, width, typ in colspecs:
        sliced = F.trim(F.substring(F.col("value"), start + 1, width))
        empty_null = F.when(sliced == "", None).otherwise(sliced)
        if typ == "string":
            cols.append((name, empty_null))
        else:
            cast = empty_null.try_cast(typ)
            # a non-empty slice that fails its cast marks the row bad
            ok = ok & ~(empty_null.isNotNull() & cast.isNull())
            cols.append((name, cast))

    parsed = raw.select(
        *[c.alias(n) for n, c in cols], ok.alias("_ok"), F.col("value").alias("_raw")
    )
    if keep_corrupt:
        return parsed.select(
            *[
                F.when(F.col("_ok"), F.col(n)).alias(n)
                for n, _ in cols
            ],
            F.when(~F.col("_ok"), F.col("_raw")).alias(CORRUPT_COL),
        )
    return parsed.filter(F.col("_ok")).drop("_ok", "_raw")


def write_fixed_width(
    df: DataFrame,
    path: str,
    colspecs: list[ColSpec],
    num_files: int | None = None,
) -> None:
    """Render rows into the fixed-width layout (left-justified,
    space-padded; values longer than their slice are truncated — the
    format's own contract) and write as plain text shards."""
    ordered = sorted(colspecs, key=lambda c: c[1])
    parts = []
    prev_end = 0
    for name, start, width, _typ in ordered:
        if start > prev_end:
            parts.append(F.lit(" " * (start - prev_end)))
        parts.append(
            F.rpad(F.coalesce(F.col(name).cast("string"), F.lit("")), width, " ").substr(
                1, width
            )
        )
        prev_end = start + width
    out = df.select(F.concat(*parts).alias("value"))
    if num_files is not None:
        out = out.repartition(num_files)
    out.write.mode("overwrite").text(path)
