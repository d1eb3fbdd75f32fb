"""Small shared operator utilities."""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType

# The only justifications under which an EXPLICIT broadcast hint is
# scale-safe. An explicit hint overrides spark.sql.autoBroadcastJoinThreshold,
# so a side that grows with the data (customer/supplier/part, per-user or
# per-doc aggregates, LSH candidate sets...) must NEVER carry one — at the
# 100 TB design point it is a guaranteed executor/driver OOM. Those joins
# go hint-free: AQE + the broadcast threshold still pick a broadcast-hash
# join whenever the side is ACTUALLY small at runtime, and degrade to a
# shuffle join when it is not. See SCALING.md ("broadcast only what is
# KNOWN bounded").
_BOUNDED_KINDS = frozenset({
    # keyed by a closed value domain that does not grow with SF:
    # nation/region (TPC-H fixes both), event_type, language, histogram
    # band ids, grouping-period labels
    "domain",
    # a global (or k-row constant-arity) aggregate: scalar totals,
    # thresholds, medians-by-domain
    "one_row",
    # output of an explicit LIMIT / top-k: bounded by the literal k
    "top_k",
    # a user-supplied probe set (ANN query vectors, benchmark-suite
    # n-grams, k-means centroids): sized by the request, not the corpus
    "query_set",
    # an API whose documented contract requires the caller to pass a
    # bounded dimension (the reference holds the same table in an
    # in-memory HashMap, so the bound is inherited from its semantics)
    "caller_contract",
})


def bounded_broadcast(df: DataFrame, kind: str) -> DataFrame:
    """The ONLY sanctioned way to attach an explicit broadcast hint.

    ``kind`` names the reason the side is bounded at any SF (see
    ``_BOUNDED_KINDS``). A plan-quality test greps the package for raw
    ``F.broadcast`` so every hint is forced through this audit point.
    """
    if kind not in _BOUNDED_KINDS:
        raise ValueError(
            f"broadcast hint needs a bounded-size justification, one of "
            f"{sorted(_BOUNDED_KINDS)}; got {kind!r}"
        )
    return F.broadcast(df)


# Driver-memory caps of bounded_collect, read at call time (tests patch
# them): rows, and estimated bytes — the widest row's Catalyst width
# (StructType.defaultSize — fixed-width types at their size, 20 B per
# string — with each top-level array or map at its real element count)
# times the rows.
MAX_COLLECT_ROWS = 2_000_000
MAX_COLLECT_BYTES = 1 << 30


def bounded_collect(df: DataFrame, kind: str, hint: str = "") -> list:
    """The ONLY sanctioned way to ``collect()`` an UNBOUNDED-shaped frame
    to the driver inside an operator/query path — the collect analogue of
    ``bounded_broadcast`` (same ``kind`` vocabulary, same audit intent:
    a driver collect of a side that grows with the data is a guaranteed
    driver OOM at the 100 TB design point).

    ``MAX_COLLECT_ROWS`` enforces the bound at runtime: the collect
    itself is capped via ``limit(MAX_COLLECT_ROWS + 1)`` so the driver
    NEVER materializes more than the cap even on a runaway input, and
    exceeding it raises
    with ``hint`` naming the scale-safe alternative (e.g. the
    ``exact=False`` LSH path for the exact cosine baseline). Under the
    cap ``limit`` returns every row, so callers see the full result.
    ``MAX_COLLECT_BYTES`` tightens the row cap the same way for wide
    rows: at most ``MAX_COLLECT_BYTES // row width`` rows come back.
    Collects that are already bounded by construction (``.limit(k)``,
    a ≤N_BLOCKS aggregate, an explicit size gate) stay raw — the
    plan-quality source gate pins their exact census.
    """
    if kind not in _BOUNDED_KINDS:
        raise ValueError(
            f"driver collect needs a bounded-size justification, one of "
            f"{sorted(_BOUNDED_KINDS)}; got {kind!r}"
        )
    width = max(_row_width(df), 1)
    cap = min(MAX_COLLECT_ROWS, MAX_COLLECT_BYTES // width)
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        bound = (
            f"{MAX_COLLECT_ROWS} rows" if cap == MAX_COLLECT_ROWS
            else f"{MAX_COLLECT_BYTES} estimated bytes ({width} B/row)"
        )
        raise ValueError(
            f"bounded_collect({kind!r}): side exceeded {bound}"
            + (f" — {hint}" if hint else "")
        )
    return rows


def _row_width(df: DataFrame) -> int:
    """Catalyst width of ``df``'s widest row. ``defaultSize`` counts an
    array or a map as ONE element, so a frame with a top-level array or
    map column adds the widest row's other elements, found by one
    top-1 job (no shuffle); other frames need no job."""
    schema = df._jdf.schema()
    multi = [
        f.name for f in df.schema.fields if isinstance(f.dataType, ArrayType | MapType)
    ]
    if not multi:
        return schema.defaultSize()
    extra = sum(
        F.greatest(F.size(df[c]).cast("long") - 1, F.lit(0))
        * schema.apply(c).dataType().defaultSize()
        for c in multi
    )
    widest = df.select(extra.alias("_extra")).orderBy(F.desc("_extra")).first()
    return schema.defaultSize() + (widest[0] if widest else 0)


def local_frame(spark, rows, ddl: str) -> DataFrame:
    """The engine's one way to turn driver-side rows into a DataFrame.

    ``spark.createDataFrame(<python list>, ddl)`` plans a Python RDD
    (``Scan ExistingRDD``): executing it starts Python workers only to
    unpickle the rows, a fixed ~0.4 s per use on a warm 4-core session
    for a 1,025-row offsets table. Here the rows become a
    ``pyarrow.Table`` typed by the parsed ``ddl`` and Spark plans a JVM
    ``LocalTableScan`` with no Python worker behind it. The Arrow build
    is exact: a ``long`` above 2^53 round-trips, ``None`` is NULL, and a
    Python int outside the column's range raises ``OverflowError``
    instead of wrapping. ``rows=[]`` gives a typed empty frame.

    Callers keep their own size bound: every row crosses the driver. A
    plan-quality test scans the package for raw ``createDataFrame(`` and
    ``parallelize(`` calls outside this helper.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    schema = DataType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows, strict=True)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type)
         for c, f in zip(cols, arrow_schema, strict=True)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


@contextmanager
def runtime_bloom_filters(spark, app_side_scan_threshold: str = "10GB"):
    """Scope Spark's runtime bloom-filter join pruning to a block.

    When a shuffle join's build side carries a selective filter, Spark
    (3.3+) can inject a `bloom_filter_might_contain` semi-filter into
    the probe side's scan, skipping most of the big table's rows before
    the shuffle — the runtime analogue of static predicate pushdown and
    the single biggest scan-saver for selective dim→fact joins at the
    100 TB point. It only fires above size thresholds (the probe scan
    must be big enough to be worth it, the build side small enough to
    sketch), so toy-SF tests never see it with the defaults; this
    context manager pins the knobs (pass "0" for the app-side threshold
    to force injection at any scan size; the creation side stays at
    Spark's 10MB) and restores the previous session values on exit. At
    production scale the DEFAULTS are correct — call sites should not
    lower thresholds permanently.
    """
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": app_side_scan_threshold,
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure at least ``defaultParallelism`` input splits before
    compute-heavy narrow transforms (shingling, hashing, per-row scoring).

    A small parquet file arrives as ONE split, serializing all per-row
    compute onto a single core; at 100 TB inputs already split past the
    core count and this is a no-op. The repartition shuffles only the raw
    input (cheap when it matters, absent when it doesn't).
    """
    if df.isStreaming:
        # streaming frames can't be partition-inspected (df.rdd throws);
        # file sources already split by file per micro-batch
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def ordered_pairs(
    arr: Column,
    pair: Callable[[Column, Column], Column],
    keep: Callable[[Column], Column] | None = None,
) -> Column:
    """One row per ``pair(x, y)`` over the elements of ``arr`` with ``x``
    before ``y`` — the posting-list expansion behind every pair detector.

    Group rows into a sorted list per key, then expand pairs INSIDE each
    list: one keyed exchange instead of a two-sided self-join, and a key
    held by one row produces nothing. With an ascending list, ``x``
    sorts before ``y``, so no ``x < y`` predicate is needed. ``keep``
    drops pairs inside the expansion, before anything downstream (the
    pair exchange) sees them. The work per list is quadratic in its
    length; a hot key is the caller's to bound."""
    def tail(x: Column, i: Column) -> Column:
        ys = F.transform(F.slice(arr, i + 2, F.size(arr)), lambda y: pair(x, y))
        return ys if keep is None else F.filter(ys, keep)

    return F.explode(F.flatten(F.transform(arr, tail)))
