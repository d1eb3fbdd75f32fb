"""Scalable replacements for global-order windows.

A ``Window.orderBy(...)`` with no ``partitionBy`` moves the WHOLE frame
through one task (Spark's WindowExec plans ``Exchange SinglePartition``
and warns at runtime). Over a per-entity aggregate that is bounded by a
dimension this is tolerable at benchmark scale, but at the 100 TB design
point a 10^9-customer rank/running-sum through a single task is the
canonical scale-killer. This module decomposes the three global-order
primitives the catalog uses — ROW_NUMBER, running SUM, NTILE — into:

1. a MONOTONE value-range block id on the leading sort key
   (``(v - min) * N_BLOCKS / (span + 1)``: any monotone non-decreasing
   map works, because rows in different blocks are already totally
   ordered by the leading key, and rows in the SAME block are ordered by
   the full sort spec inside the block);
2. a per-block window (``partitionBy(_blk)`` — parallel, spills never
   exceed one block);
3. a block-offset stitch: per-block row counts / value sums are a frame
   of at most ``N_BLOCKS`` rows (a module constant, 1024 — the
   "histogram buckets" bounded class); it is collected once, the
   cumulative offsets are computed driver-side in exact Python
   integers, and the tiny offsets relation broadcast-joins back as a
   JVM local relation (``util.local_frame``: a ``LocalTableScan``, no
   Python worker). No unpartitioned window appears anywhere in the
   plan, and the same collected rows feed the skew observation for
   free.

The result is BIT-IDENTICAL to the single-partition form for any total
order: global row_number = block-local row_number + (rows in earlier
blocks); global running sum = block-local running sum + (sum of earlier
blocks); NTILE derives exactly from (global rank, global count) via the
standard bucket formula both Spark and DuckDB implement. The catalog
entries that use this module therefore keep their original ANSI-SQL
oracles unchanged.

Input contract: the leading sort key must be numeric. NULLs map to a
sentinel block consistent with Spark's defaults (ASC => NULLS FIRST,
DESC => NULLS LAST); NaN floating keys map to the top block (Spark
sorts NaN greatest under both directions). Equal leading-key values
always land in the same block, so ties are broken entirely inside a
block by the remaining sort columns — a dominant equal-value atom
bounds parallelism, which the helpers observe and surface as a
`BlockSkewWarning` (a ``warnings`` filter turns it into an error or
silences it). The frame is ``localCheckpoint(eager=True)``-ed once so the
block assignment, the per-block windows, and the block-size aggregate
all consume one materialization of the (already aggregated) input
instead of re-evaluating its subtree.

Skew note: value-range blocking keys on the VALUE distribution, not the
row distribution — a heavy-tailed key (Zipf revenue) can pile most rows
into few blocks. That still beats one task by the number of occupied
blocks, and a caller with a known-skewed key prepends a monotone proxy
column to the spec: ``[("_p", "desc"), ("rev", "desc"), ...]`` with
``_p = log1p(rev)`` is the same total order (ties on ``_p`` fall to
``rev``), and the blocks spread on ``_p``. A DATE key takes the same
recipe with ``_p = unix_date(d)``.

``N_BLOCKS`` is a module constant read at call time; tests patch it.
"""

from __future__ import annotations

import warnings
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import bounded_broadcast, local_frame

OrderSpec = Sequence[tuple[str, str]]  # [(column, "asc"|"desc"), ...]

N_BLOCKS = 1024

# Above this share of the frame in ONE block, value-range blocking has
# effectively degenerated to the single-partition window it exists to
# replace (equal-value atoms of the leading key cannot be split across
# blocks). The helpers observe the realized share and warn past the
# threshold, so the hazard is a runtime signal instead of a doc note.
BLOCK_SHARE_WARN = 0.5


class BlockSkewWarning(UserWarning):
    """A scalewin block holds most of the frame — parallelism degraded.

    Fired when the largest value-range block exceeds the warn threshold
    share of rows. Fix: a finer-grained leading sort key, or a prepended
    monotone proxy column (e.g. ``log1p`` of a heavy-tailed revenue)."""


# NOTE: this module plans NO unpartitioned window at all — the offset
# stitch computes cumulative block offsets driver-side from the
# collected (<= N_BLOCKS+1 row) block-size aggregate, so the JVM
# WindowExec "No Partition Defined" WARN can never fire from here.


def _order_exprs(order_by: OrderSpec) -> list[Column]:
    out = []
    for col, direction in order_by:
        if direction not in ("asc", "desc"):
            raise ValueError(f"direction must be asc|desc, got {direction!r}")
        out.append(F.asc(col) if direction == "asc" else F.desc(col))
    return out


def _block_expr(lead: Column, mn: Column, mx: Column) -> Column:
    """Monotone non-decreasing map of the leading key into
    [0, N_BLOCKS-1]; NULLs to the sentinel block that matches Spark's
    default null ordering. All arithmetic runs in double AFTER the cast:
    IEEE subtract/multiply/divide by positive constants are weakly
    monotone (block assignment only needs v1 <= v2 => blk(v1) <=
    blk(v2)), and casting each operand BEFORE subtracting means a key
    range wider than int64 (large negative min, large positive max)
    can never overflow integer math. NaN floating keys sort greatest
    under BOTH Spark orderings (asc and desc treat NaN as the largest
    value), so they map to the top block explicitly — NaN arithmetic
    would otherwise silently land them in block 0."""
    leadd = lead.cast("double")
    mnd, mxd = mn.cast("double"), mx.cast("double")
    span = (mxd - mnd) + F.lit(1.0)
    raw = F.floor((leadd - mnd) * F.lit(float(N_BLOCKS)) / span)
    blk = F.greatest(F.lit(0), F.least(F.lit(N_BLOCKS - 1), raw))
    # Spark defaults: ASC => NULLS FIRST, DESC => NULLS LAST. Block -1
    # satisfies both: it sorts before every real block ascending and
    # after every real block descending. NaN is the symmetric top case.
    return (
        F.when(lead.isNull(), F.lit(-1))
        .when(F.isnan(leadd), F.lit(N_BLOCKS - 1))
        .otherwise(blk)
        .cast("long")
    )


def _stitch(d: DataFrame, blk: str, local_col: str, bulk_agg: Column,
            direction: str, out: str, total_col: str | None = None,
            nonnull_count_agg: Column | None = None,
            context: str = "",
            sizes_rows: list | None = None) -> DataFrame:
    """Add ``out`` = block-local value + cumulative offset of earlier
    blocks. The offsets window runs over at most N_BLOCKS+1 rows — a
    constant-bounded frame, never data-sized. ``total_col`` additionally
    attaches the GRAND total (sum over all blocks) — free here, because
    the per-block sums already exist; callers that need the scalar
    (NTILE's n, an 80%-of-total threshold) read it from this column
    instead of re-aggregating the frame in a second pass.

    ``nonnull_count_agg`` (running sums over a nullable value column):
    a per-block COUNT of non-null values whose cumulative offset decides
    the NULL case exactly as the global window would — a row whose
    block-local cumulative sum is NULL (all-NULL block prefix) still
    returns the earlier blocks' sum when any earlier non-null value
    exists, and NULL only when none does.

    The per-block aggregate (at most N_BLOCKS+1 rows by construction)
    is collected ONCE and the cumulative offsets are computed
    driver-side in exact Python integers, then broadcast-joined back
    as a JVM local relation (``local_frame``): no unpartitioned stitch
    window remains in the plan, and the same collected rows feed the
    max-block-share degeneration signal for free (``context``) —
    observing skew costs zero extra jobs. Multi-spec callers pass
    ``sizes_rows`` (rows keyed ``_b``/``_bulk``/``_cnt``, pre-collected for ALL specs
    in one job) so K specs cost one job, not K.

    Overflow contract: the driver-side cumulative offsets are exact
    Python integers, so a running sum whose prefix exceeds int64 range
    raises ``OverflowError`` LOUDLY when ``local_frame`` builds the
    Arrow ``_off`` column (int64 rejects the out-of-range value)
    instead of wrapping silently — the same inputs would overflow
    Spark's own ``SUM(long)`` global window too; this decomposition
    surfaces it at the stitch rather than producing a wrapped result."""
    if sizes_rows is None:
        aggs = [bulk_agg.alias("_bulk"), F.count(F.lit(1)).alias("_cnt")]
        if nonnull_count_agg is not None:
            aggs.append(nonnull_count_agg.alias("_nn"))
        sizes_rows = (
            d.groupBy(F.col(blk).alias("_b")).agg(*aggs).collect()
        )  # <= N_BLOCKS+1 rows
    sizes = sorted(
        sizes_rows, key=lambda r: r["_b"], reverse=(direction == "desc")
    )
    _warn_block_share(sizes, context)

    nonnull_bulks = [r["_bulk"] for r in sizes if r["_bulk"] is not None]
    total = sum(nonnull_bulks) if nonnull_bulks else None
    cum = cumn = 0
    off_rows = []
    for r in sizes:
        row = [r["_b"], cum]
        if nonnull_count_agg is not None:
            row.append(cumn)
            cumn += r["_nn"]
        if total_col is not None:
            row.append(total)
        off_rows.append(tuple(row))
        if r["_bulk"] is not None:
            cum += r["_bulk"]
    schema = f"{blk} long, _off long"
    if nonnull_count_agg is not None:
        schema += ", _offn long"
    if total_col is not None:
        schema += f", {total_col} long"
    offs = local_frame(d.sparkSession, off_rows, schema)

    joined = d.join(bounded_broadcast(offs, "domain"), blk)
    if nonnull_count_agg is None:
        out_expr = (F.col(local_col) + F.col("_off")).cast("long")
        drop = [local_col, "_off"]
    else:
        out_expr = (
            F.when(
                F.col(local_col).isNotNull(),
                F.col(local_col) + F.col("_off"),
            )
            .when(F.col("_offn") > 0, F.col("_off"))
            .cast("long")  # otherwise NULL: no non-null value seen yet
        )
        drop = [local_col, "_off", "_offn"]
    return joined.withColumn(out, out_expr).drop(*drop)


def _warn_block_share(sizes, context: str) -> None:
    """Surface blocking degeneration from the stitch's own collected
    per-block rows (zero extra jobs). Equal-value atoms of the leading
    key cannot be split across blocks, so a dominant atom bounds
    parallelism at 1/share — warn past the threshold instead of leaving
    the hazard as documentation (a ``warnings`` filter on
    `BlockSkewWarning` gives "raise" or "ignore"). Frames smaller than
    ``N_BLOCKS`` rows never warn: below that, even the single-partition
    window is in the constant-bounded class the plan gate allowlists."""
    n = sum(r["_cnt"] for r in sizes)
    if n < N_BLOCKS:
        return
    share = max(r["_cnt"] for r in sizes) / n
    if share > BLOCK_SHARE_WARN:
        msg = (
            f"scalewin {context}: largest value-range block holds "
            f"{share:.0%} of {n} rows (> {BLOCK_SHARE_WARN:.0%}) — "
            "blocking has degenerated toward a single partition. Use a "
            "finer leading sort key, or prepend a monotone proxy column "
            "to the spec: [('_p', 'desc'), ('rev', 'desc'), ...] with "
            "_p = log1p(rev) is the same total order (ties on _p fall to "
            "rev)."
        )
        warnings.warn(msg, BlockSkewWarning, stacklevel=4)


def with_global_row_numbers(
    df: DataFrame,
    specs: Mapping[str, OrderSpec],
    count_col: str | None = None,
) -> DataFrame:
    """df + one exact global ROW_NUMBER() column per spec, with no
    data-sized single-partition window. ``specs`` maps output column ->
    total-order spec; several ranks (e.g. RFM's three orderings) share
    one checkpointed materialization of ``df``. ``count_col`` attaches
    the frame's total row count (from the first spec's block sizes — no
    extra pass), the ``n`` that `ntile_from_rank` needs. A dominant
    block warns with `BlockSkewWarning`."""
    mins, maxs = [], []
    for out, spec in specs.items():
        lead = F.col(spec[0][0])
        # NaN-EXCLUDED bounds: F.max over a double column returns NaN if
        # ANY value is NaN (Spark sorts NaN greatest), which would poison
        # the span and collapse every non-NaN row into block 0 — the
        # exact single-task shape this module exists to prevent. NaN
        # rows are routed to the top block explicitly by _block_expr,
        # so the bounds must come from the non-NaN values only.
        clean = F.nanvl(lead.cast("double"), F.lit(None).cast("double"))
        mins.append(F.min(clean).alias(f"_mn_{out}"))
        maxs.append(F.max(clean).alias(f"_mx_{out}"))
    # checkpoint the INPUT once — every per-spec window and block-size
    # aggregate then reads the materialized frame instead of
    # re-evaluating its (often expensive) subtree, and the
    # materialization makes the block assignment consistent across
    # those consumers even for a nondeterministic input. The min/max
    # block bounds ride the SAME job via observe() (CollectMetrics) —
    # no separate stats pass, and the bounds become driver-side
    # literals instead of a crossJoined one-row frame.
    from pyspark.sql import Observation

    obs = Observation()
    d = df.observe(obs, *mins, *maxs).localCheckpoint(eager=True)
    stats = obs.get
    for out, spec in specs.items():
        mn, mx = stats[f"_mn_{out}"], stats[f"_mx_{out}"]
        if mn is None:  # empty frame or all-null leading key
            mn = mx = 0
        d = d.withColumn(
            f"_blk_{out}",
            _block_expr(F.col(spec[0][0]), F.lit(mn), F.lit(mx)),
        )
    # block sizes for ALL specs in ONE collected job (explode to
    # (spec, block) pairs; map-side combine collapses each task's
    # contribution to <= specs x (N_BLOCKS+1) rows) — K specs cost one
    # extra job, not K, and the same rows feed the skew observation
    pair_structs = [
        F.struct(F.lit(out).alias("_s"), F.col(f"_blk_{out}").alias("_b"))
        for out in specs
    ]
    all_rows = (
        d.select(F.explode(F.array(*pair_structs)).alias("_p"))
        .groupBy(F.col("_p._s").alias("_s"), F.col("_p._b").alias("_b"))
        .agg(
            F.count(F.lit(1)).alias("_bulk"),
            F.count(F.lit(1)).alias("_cnt"),
        )
        .collect()
    )
    sizes_by_spec: dict[str, list] = {out: [] for out in specs}
    for r in all_rows:
        sizes_by_spec[r["_s"]].append(r)

    for i, (out, spec) in enumerate(specs.items()):
        blk = f"_blk_{out}"
        wloc = Window.partitionBy(blk).orderBy(*_order_exprs(spec))
        d = d.withColumn(f"_lrn_{out}", F.row_number().over(wloc))
        d = _stitch(d, blk, f"_lrn_{out}", F.count(F.lit(1)),
                    spec[0][1], out,
                    total_col=count_col if i == 0 else None,
                    context=f"row_numbers[{out}]",
                    sizes_rows=sizes_by_spec[out]).drop(blk)
    return d


def with_global_running_sum(
    df: DataFrame,
    order_by: OrderSpec,
    value_col: str,
    out: str,
    total_col: str | None = None,
) -> DataFrame:
    """df + exact global ``SUM(value) OVER (ORDER BY ... ROWS UNBOUNDED
    PRECEDING..CURRENT ROW)`` without a data-sized single-partition
    window. Exactness requires an exact-typed value column (int64 cents
    in every catalog caller) — reordering float partial sums would not
    be bit-stable. NULLs in ``value_col`` reproduce the window's exact
    semantics (NULL until the first non-null value in order, then the
    running sum of non-nulls) via a per-block non-null count in the
    stitch. ``total_col`` attaches the grand total (free from the
    block sums; the cum/tot threshold comparisons read it instead of a
    second aggregation pass). A dominant block warns with
    `BlockSkewWarning`, as in `with_global_row_numbers`."""
    from pyspark.sql import Observation

    lead, direction = order_by[0]
    # one materialization; bounds ride the checkpoint job (see above).
    # NaN-excluded bounds — see with_global_row_numbers.
    clean = F.nanvl(F.col(lead).cast("double"), F.lit(None).cast("double"))
    obs = Observation()
    d = df.observe(
        obs, F.min(clean).alias("_mn"), F.max(clean).alias("_mx")
    ).localCheckpoint(eager=True)
    stats = obs.get
    mn, mx = stats["_mn"], stats["_mx"]
    if mn is None:
        mn = mx = 0
    d = d.withColumn(
        "_blk", _block_expr(F.col(lead), F.lit(mn), F.lit(mx))
    )
    wloc = (
        Window.partitionBy("_blk")
        .orderBy(*_order_exprs(order_by))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("_lcum", F.sum(value_col).over(wloc))
    return _stitch(d, "_blk", "_lcum", F.sum(value_col), direction,
                   out, total_col=total_col,
                   nonnull_count_agg=F.count(value_col),
                   context=f"running_sum[{out}]").drop("_blk")


def ntile_from_rank(rank: Column, n: Column, k: int) -> Column:
    """Exact NTILE(k) from a 1-indexed global rank and the frame size —
    the standard bucket formula Spark and DuckDB both implement: the
    first ``n % k`` buckets take ``n div k + 1`` rows, the rest take
    ``n div k``. Lets NTILE ride the blocked row_number instead of its
    own single-partition window. Pure integral division (``div`` —
    IntegralDivide) on non-negative operands, where truncation equals
    floor — exact for ALL int64 inputs, with no double round-trip."""
    def idiv(a: Column, b: Column) -> Column:
        return F.call_function("div", a.cast("long"), b.cast("long"))

    q = idiv(n, F.lit(k))
    rem = n % F.lit(k)
    cut = (q + 1) * rem
    small = idiv(rank - 1, q + 1) + 1
    big = rem + idiv(rank - cut - 1, F.greatest(q, F.lit(1))) + 1
    return F.when(rank <= cut, small).otherwise(big).cast("int")
