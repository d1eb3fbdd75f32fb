"""operators/scalewin.py — blocked global-order windows.

Cross-engine parity cannot catch a symmetric formula error here because
the catalog entries' oracles use plain OVER (ORDER BY ...) SQL on both
sides; these tests pin the blocked decomposition DIRECTLY against
Spark's own single-partition window on adversarial frames (ties, nulls,
negatives, all-equal keys, singletons, floats) and the NTILE derivation
against F.ntile for several k.
"""

from __future__ import annotations

import random
from unittest import mock

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.operators import scalewin as SW


def _order_cols(spec):
    return [F.asc(c) if d == "asc" else F.desc(c) for c, d in spec]


@pytest.fixture(scope="module")
def frame(spark):
    random.seed(11)
    rows = [
        (i, random.randint(-500, 10**6), random.random() * 0.9,
         random.randint(0, 5))
        for i in range(5000)
    ]
    # heavy ties on v and f; a null-bearing tail on v
    rows += [(5000 + i, 777, 0.5, 3) for i in range(300)]
    rows += [(5300 + i, None, 0.1, 1) for i in range(7)]
    return spark.createDataFrame(
        rows, "id long, v long, s double, f long"
    ).cache()


@pytest.mark.parametrize(
    "spec",
    [
        [("v", "asc"), ("id", "asc")],
        [("v", "desc"), ("id", "asc")],
        [("s", "desc"), ("id", "asc")],
        [("f", "desc"), ("id", "asc")],  # 6 distinct keys -> huge ties
    ],
    ids=["int-asc", "int-desc-nulls", "float-desc", "tie-heavy"],
)
def test_row_numbers_match_global_window(spark, frame, spec, monkeypatch):
    monkeypatch.setattr(SW, "N_BLOCKS", 64)
    got = SW.with_global_row_numbers(frame, {"rn": spec})
    exp = frame.withColumn(
        "rn", F.row_number().over(Window.orderBy(*_order_cols(spec))).cast("long")
    )
    assert got.count() == exp.count()
    assert got.select("id", "rn").exceptAll(exp.select("id", "rn")).count() == 0
    assert exp.select("id", "rn").exceptAll(got.select("id", "rn")).count() == 0


def test_multiple_specs_share_one_frame(spark, frame, monkeypatch):
    monkeypatch.setattr(SW, "N_BLOCKS", 32)
    specs = {
        "a": [("v", "asc"), ("id", "asc")],
        "b": [("s", "desc"), ("id", "asc")],
        "c": [("f", "desc"), ("id", "asc")],
    }
    got = SW.with_global_row_numbers(frame, specs)
    exp = frame
    for out, spec in specs.items():
        exp = exp.withColumn(
            out,
            F.row_number().over(Window.orderBy(*_order_cols(spec))).cast("long"),
        )
    cols = ["id", *specs]
    assert got.count() == exp.count()
    assert got.select(cols).exceptAll(exp.select(cols)).count() == 0
    assert exp.select(cols).exceptAll(got.select(cols)).count() == 0


@pytest.mark.parametrize("direction", ["asc", "desc"])
def test_running_sum_matches_global_window(spark, frame, direction, monkeypatch):
    monkeypatch.setattr(SW, "N_BLOCKS", 64)
    spec = [("v", direction), ("id", "asc")]
    got = SW.with_global_running_sum(
        frame.filter(F.col("v").isNotNull()), spec, "v", "cum"
    )
    w = Window.orderBy(*_order_cols(spec)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    exp = frame.filter(F.col("v").isNotNull()).withColumn(
        "cum", F.sum("v").over(w).cast("long")
    )
    assert got.count() == exp.count()
    assert got.select("id", "cum").exceptAll(exp.select("id", "cum")).count() == 0
    assert exp.select("id", "cum").exceptAll(got.select("id", "cum")).count() == 0


@pytest.mark.parametrize("k", [4, 7, 10, 100])
def test_ntile_from_rank_matches_ntile(spark, frame, k, monkeypatch):
    monkeypatch.setattr(SW, "N_BLOCKS", 64)
    n = frame.count()
    spec = [("v", "asc"), ("id", "asc")]
    ranked = SW.with_global_row_numbers(frame, {"r": spec})
    got = ranked.select(
        "id", SW.ntile_from_rank(F.col("r"), F.lit(n).cast("long"), k).alias("t")
    )
    exp = frame.select(
        "id", F.ntile(k).over(Window.orderBy(*_order_cols(spec))).alias("t")
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_ntile_fewer_rows_than_tiles(spark):
    df = spark.createDataFrame([(i, i * 3) for i in range(3)], "id long, v long")
    ranked = SW.with_global_row_numbers(df, {"r": [("v", "asc"), ("id", "asc")]})
    got = ranked.select(
        "id", SW.ntile_from_rank(F.col("r"), F.lit(3).cast("long"), 10).alias("t")
    )
    exp = df.select(
        "id",
        F.ntile(10).over(Window.orderBy(F.asc("v"), F.asc("id"))).alias("t"),
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_degenerate_frames(spark):
    # all-equal leading key: one occupied block == the old single
    # partition, still correct
    eq = spark.createDataFrame([(i, 5) for i in range(50)], "id long, v long")
    got = SW.with_global_row_numbers(eq, {"rn": [("v", "asc"), ("id", "asc")]})
    assert [r["rn"] for r in got.orderBy("id").collect()] == list(range(1, 51))
    # singleton
    one = spark.createDataFrame([(1, 9)], "id long, v long")
    assert (
        SW.with_global_row_numbers(one, {"rn": [("v", "asc"), ("id", "asc")]})
        .collect()[0]["rn"]
        == 1
    )
    # empty
    empty = spark.createDataFrame([], "id long, v long")
    assert (
        SW.with_global_row_numbers(empty, {"rn": [("v", "asc"), ("id", "asc")]})
        .count()
        == 0
    )
    assert (
        SW.with_global_running_sum(
            empty, [("v", "asc"), ("id", "asc")], "v", "cum"
        ).count()
        == 0
    )


def test_no_data_sized_single_partition_window(spark, frame):
    """The whole point: the only unpartitioned window in the plan is the
    block-offset stitch over <= N_BLOCKS+1 rows."""
    got = SW.with_global_row_numbers(frame, {"rn": [("v", "asc"), ("id", "asc")]})
    plan = got._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        s = line.lstrip(" :+-*")
        if s.startswith("Window [") and "_blk" not in s:
            # any window over the data frame must be partitioned by _blk
            raise AssertionError(f"unexpected window node: {s[:120]}")


# --- property-based: random frames, random direction, tiny block count --
# N_BLOCKS = 4 forces many rows per block AND many occupied blocks, so the
# stitch math is exercised far harder than the 1024-block default; the
# oracle is Spark's own single-partition window on the same frame.
# Hypothesis rejects function-scoped fixtures, so these patch the
# constant with unittest.mock instead of monkeypatch.

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=12, deadline=None)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(-1000, 1000)),
        min_size=1,
        max_size=120,
    ),
    direction=st.sampled_from(["asc", "desc"]),
    k=st.sampled_from([3, 5, 10]),
)
def test_blocked_rank_and_ntile_match_for_random_frames(
    spark, vals, direction, k
):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    spec = [("v", direction), ("id", "asc")]
    with mock.patch.object(SW, "N_BLOCKS", 4):
        got = SW.with_global_row_numbers(
            df, {"rn": spec}, count_col="n"
        ).select(
            "id",
            "rn",
            SW.ntile_from_rank(F.col("rn"), F.col("n"), k).alias("t"),
        )
    w = Window.orderBy(*_order_cols(spec))
    exp = df.select(
        "id",
        F.row_number().over(w).cast("long").alias("rn"),
        F.ntile(k).over(w).alias("t"),
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


@settings(max_examples=10, deadline=None)
@given(
    vals=st.lists(st.integers(-10**6, 10**6), min_size=1, max_size=100),
    direction=st.sampled_from(["asc", "desc"]),
)
def test_blocked_running_sum_matches_for_random_frames(spark, vals, direction):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    spec = [("v", direction), ("id", "asc")]
    with mock.patch.object(SW, "N_BLOCKS", 4):
        got = SW.with_global_running_sum(df, spec, "v", "cum", total_col="tot")
    w = Window.orderBy(*_order_cols(spec)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    exp = df.withColumn("cum", F.sum("v").over(w).cast("long")).withColumn(
        "tot", F.lit(sum(vals)).cast("long")
    )
    cols = ["id", "cum", "tot"]
    assert got.select(cols).exceptAll(exp.select(cols)).count() == 0
    assert exp.select(cols).exceptAll(got.select(cols)).count() == 0


def test_decimal_leading_key(spark, monkeypatch):
    """The numeric-leading-key contract includes DECIMAL: observe()
    returns Decimal bounds and the block math must stay monotone."""
    monkeypatch.setattr(SW, "N_BLOCKS", 16)
    from decimal import Decimal

    rows = [(i, Decimal(str((i * 37) % 100)) / 4) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, v decimal(10,2)")
    spec = [("v", "desc"), ("id", "asc")]
    got = SW.with_global_row_numbers(df, {"rn": spec})
    exp = df.withColumn(
        "rn", F.row_number().over(Window.orderBy(*_order_cols(spec))).cast("long")
    )
    assert got.count() == exp.count()
    assert got.select("id", "rn").exceptAll(exp.select("id", "rn")).count() == 0
    assert exp.select("id", "rn").exceptAll(got.select("id", "rn")).count() == 0


def test_date_leading_key_fails_loudly_and_proxy_column_fixes_it(spark, monkeypatch):
    """DATE leading keys: date subtraction yields an INTERVAL, so the
    block math fails at CONSTRUCTION time (AnalysisException — loud,
    never a silent wrong answer), and the documented fix is a numeric
    proxy column prepended to the spec (unix_date is monotone in the
    date, so ties on it fall to the date: the same total order)."""
    monkeypatch.setattr(SW, "N_BLOCKS", 8)
    import datetime

    from pyspark.errors import AnalysisException

    rows = [(i, datetime.date(2024, 1, 1) + datetime.timedelta(days=(i * 13) % 90))
            for i in range(100)]
    df = spark.createDataFrame(rows, "id long, d date")
    spec = [("d", "asc"), ("id", "asc")]
    with pytest.raises(AnalysisException):
        SW.with_global_row_numbers(df, {"rn": spec})
    got = SW.with_global_row_numbers(
        df.withColumn("_p", F.unix_date(F.col("d"))),
        {"rn": [("_p", "asc"), *spec]},
    )
    exp = df.withColumn(
        "rn",
        F.row_number().over(Window.orderBy(*_order_cols(spec))).cast("long"),
    )
    assert got.count() == exp.count()
    assert got.select("id", "rn").exceptAll(exp.select("id", "rn")).count() == 0
    assert exp.select("id", "rn").exceptAll(got.select("id", "rn")).count() == 0


def test_nan_leading_key_matches_global_window(spark, monkeypatch):
    """NaN floating keys sort greatest under BOTH Spark orderings; the
    block map sends them to the top block explicitly (floor(NaN) would
    otherwise silently land them in block 0 and corrupt every rank)."""
    monkeypatch.setattr(SW, "N_BLOCKS", 16)
    rows = [(i, float(i % 37)) for i in range(500)]
    rows += [(500 + i, float("nan")) for i in range(9)]
    rows += [(509, None), (510, None)]
    df = spark.createDataFrame(rows, "id long, v double")
    for direction in ("asc", "desc"):
        spec = [("v", direction), ("id", "asc")]
        got = SW.with_global_row_numbers(df, {"rn": spec})
        exp = df.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(*_order_cols(spec))).cast("long"),
        )
        assert got.select("id", "rn").exceptAll(exp.select("id", "rn")).count() == 0
        assert exp.select("id", "rn").exceptAll(got.select("id", "rn")).count() == 0


def test_int64_extreme_range_no_overflow(spark, monkeypatch):
    """A key range wider than int64 (min near -2^62, max near +2^62):
    per-operand double casts keep the span arithmetic in IEEE range —
    integer-typed (mx - mn) would overflow and break block monotonicity."""
    monkeypatch.setattr(SW, "N_BLOCKS", 8)
    lo, hi = -(2**62), 2**62
    rows = [(0, lo), (1, hi), (2, 0), (3, -17), (4, 10**15), (5, lo + 1)]
    df = spark.createDataFrame(rows, "id long, v long")
    spec = [("v", "asc"), ("id", "asc")]
    got = SW.with_global_row_numbers(df, {"rn": spec})
    exp = df.withColumn(
        "rn", F.row_number().over(Window.orderBy(*_order_cols(spec))).cast("long")
    )
    assert got.select("id", "rn").exceptAll(exp.select("id", "rn")).count() == 0
    assert exp.select("id", "rn").exceptAll(got.select("id", "rn")).count() == 0


def test_running_sum_prefix_overflow_raises(spark, monkeypatch):
    """The stitch's overflow contract: block offsets are exact Python
    integers, so a running prefix past int64 raises while the Arrow
    ``_off`` column is built instead of wrapping. Three 2^62 values in
    three blocks: no single block sum overflows, the third offset
    (2^63) does."""
    monkeypatch.setattr(SW, "N_BLOCKS", 4)
    rows = [(0, 2**62), (1000, 2**62), (2000, 2**62)]
    df = spark.createDataFrame(rows, "id long, x long")
    with pytest.raises(OverflowError):
        SW.with_global_running_sum(df, [("id", "asc")], "x", "cum")


def test_local_frame_contract(spark):
    """operators.util.local_frame: a JVM local relation (no Python RDD
    behind it), exact for longs past 2^53 and NULLs, typed when empty,
    and loud on a Python int outside int64."""
    from shuttlestandalonedbcreator_spark.operators.util import local_frame

    rows = [(0, 2**53 + 1), (1, None), (2, -(2**63)), (3, 2**63 - 1)]
    df = local_frame(spark, rows, "k int, v long")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert [tuple(r) for r in df.collect()] == rows

    empty = local_frame(spark, [], "query_id long, score double, rank int")
    assert empty.schema.simpleString() == (
        "struct<query_id:bigint,score:double,rank:int>"
    )
    assert empty.count() == 0

    with pytest.raises(OverflowError):
        local_frame(spark, [(2**63,)], "v long")


def test_running_sum_null_values_match_global_window(spark, monkeypatch):
    """NULLs in value_col: the stitch's non-null count reproduces the
    window's exact semantics — NULL until the first non-null value in
    order (even across an all-NULL leading block), then the running sum
    of non-nulls. Leading keys chosen so the earliest blocks are
    entirely NULL-valued."""
    monkeypatch.setattr(SW, "N_BLOCKS", 16)
    rows = [(i, i, None if i < 40 or i % 7 == 0 else (i * 3) % 101)
            for i in range(300)]
    df = spark.createDataFrame(rows, "id long, k long, x long")
    for direction in ("asc", "desc"):
        spec = [("k", direction), ("id", "asc")]
        got = SW.with_global_running_sum(df, spec, "x", "cum")
        w = Window.orderBy(*_order_cols(spec)).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        exp = df.withColumn("cum", F.sum("x").over(w).cast("long"))
        assert got.count() == exp.count()
        assert got.select("id", "cum").exceptAll(exp.select("id", "cum")).count() == 0
        assert exp.select("id", "cum").exceptAll(got.select("id", "cum")).count() == 0


def test_ntile_integral_division_exact_at_int64_extremes(spark):
    """The div-based derivation is exact for ALL int64 (the old double
    division could round a quotient near 2^52 up across a bucket edge).
    Pin the expression against Python integer math at adversarial
    (rank, n, k) points around 2^52..2^53 and the small-n edges."""
    k = 7
    points = []
    for n in (2**52 - 1, 2**52 + 1, 2**53 - 1, 10**18, 49, 50, 7, 6, 1):
        for rank in (1, 2, n // 2, max(1, n - 1), n):
            points.append((rank, n))
    df = spark.createDataFrame(points, "rank long, n long")
    got = df.select(
        "rank", "n",
        SW.ntile_from_rank(F.col("rank"), F.col("n"), k).alias("t"),
    ).collect()

    def pytile(rank, n):
        q, rem = divmod(n, k)
        cut = (q + 1) * rem
        if rank <= cut:
            return (rank - 1) // (q + 1) + 1
        return rem + (rank - cut - 1) // max(q, 1) + 1

    for r in got:
        assert r["t"] == pytile(r["rank"], r["n"]), (r["rank"], r["n"])


def test_block_skew_warning_fires_on_tie_atom_not_uniform(spark, monkeypatch):
    """The degeneration hazard is a runtime signal now: a >50% equal-value
    atom on the leading key warns (an error filter makes it raise);
    uniform keys stay silent; frames smaller than N_BLOCKS never warn."""
    import warnings as _w

    monkeypatch.setattr(SW, "N_BLOCKS", 64)
    tied = spark.createDataFrame(
        [(i, 5 if i % 3 != 2 else i) for i in range(400)], "id long, v long"
    )
    uniform = spark.createDataFrame(
        [(i, i) for i in range(400)], "id long, v long"
    )
    spec = {"rn": [("v", "asc"), ("id", "asc")]}
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        SW.with_global_row_numbers(tied, spec)
        assert any(issubclass(w.category, SW.BlockSkewWarning) for w in rec)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        SW.with_global_row_numbers(uniform, spec)
        assert not any(issubclass(w.category, SW.BlockSkewWarning) for w in rec)
    # below the N_BLOCKS floor even an all-equal frame is the bounded
    # class the plan gate allowlists — no warning
    tiny = spark.createDataFrame([(i, 1) for i in range(50)], "id long, v long")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        SW.with_global_row_numbers(tiny, spec)
        assert not any(issubclass(w.category, SW.BlockSkewWarning) for w in rec)
    with _w.catch_warnings():
        _w.simplefilter("error", SW.BlockSkewWarning)
        with pytest.raises(SW.BlockSkewWarning, match="degenerated"):
            SW.with_global_row_numbers(tied, spec)
    # running sum shares the signal
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        SW.with_global_running_sum(
            tied, [("v", "asc"), ("id", "asc")], "id", "cum"
        )
        assert any(issubclass(w.category, SW.BlockSkewWarning) for w in rec)


def test_nan_key_does_not_poison_block_bounds(spark, monkeypatch):
    """One NaN in the leading key must not poison the min/max bounds:
    F.max over doubles returns NaN when any value is NaN, which would
    collapse every non-NaN row into block 0 — the single-task shape the
    module exists to prevent. NaN-excluded bounds keep real rows spread
    (no BlockSkewWarning) while NaN rows ride the explicit top block,
    and the result still matches the global window exactly."""
    monkeypatch.setattr(SW, "N_BLOCKS", 64)
    import warnings as _w

    rows = [(i, float(i)) for i in range(2000)]
    rows += [(2000 + i, float("nan")) for i in range(3)]
    df = spark.createDataFrame(rows, "id long, v double")
    spec = {"rn": [("v", "asc"), ("id", "asc")]}
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        got = SW.with_global_row_numbers(df, spec)
        got_rows = got.count()
        assert not any(issubclass(w.category, SW.BlockSkewWarning) for w in rec), \
            "NaN poisoned the block bounds: all real rows in one block"
    exp = df.withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.asc("v"), F.asc("id"))
        ).cast("long"),
    )
    assert got_rows == exp.count()
    assert got.select("id", "rn").exceptAll(exp.select("id", "rn")).count() == 0
    assert exp.select("id", "rn").exceptAll(got.select("id", "rn")).count() == 0


def test_zipf_revenue_rank_degenerates_then_recovers_via_proxy_column(
    spark, sf_small, monkeypatch
):
    """The escape hatch, executed on a catalog-adjacent composition
    (VERDICT r6 #6): rank customers by a Zipf-reshaped revenue — the
    heavy tail puts >50% of rows in the bottom value-range block, so an
    error filter on `BlockSkewWarning` refuses the degenerate plan;
    re-running with the documented recovery (a prepended ``log1p(rev)``
    proxy column, a monotone spread of the key) silences the signal AND
    still matches Spark's own single-partition window exactly. Timings
    at 2M rows in SCALING.md."""
    import warnings as _w

    monkeypatch.setattr(SW, "N_BLOCKS", 64)

    orders = spark.read.parquet(f"{sf_small}/orders.parquet")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    # Zipf reshaping: rev_k = C / k^1.5 over the (arbitrary but stable)
    # custkey order — the classic heavy tail where value-range blocks
    # collapse (span is dominated by the top key) but log-space spreads
    zipf = per_cust.select(
        "o_custkey",
        F.floor(
            F.lit(1e12)
            / F.pow(F.col("o_custkey").cast("double") + 1.0, F.lit(1.5))
        ).alias("rev"),
    )
    spec = {"rn": [("rev", "desc"), ("o_custkey", "asc")]}

    with _w.catch_warnings():
        _w.simplefilter("error", SW.BlockSkewWarning)
        # degenerate: raw value-range blocks on the Zipf key must refuse
        with pytest.raises(SW.BlockSkewWarning, match="degenerated"):
            SW.with_global_row_numbers(zipf, spec)

        # recovery: a prepended monotone log1p proxy — ties on it fall
        # to rev, so the total order is the same; no signal, same result
        got = SW.with_global_row_numbers(
            zipf.withColumn("_p", F.log1p(F.col("rev").cast("double"))),
            {"rn": [("_p", "desc"), *spec["rn"]]},
        )
        n = got.count()
    assert n == zipf.count()
    exp = zipf.withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.desc("rev"), F.asc("o_custkey"))
        ),
    )
    assert got.select("o_custkey", "rn").exceptAll(
        exp.select("o_custkey", "rn")
    ).count() == 0
    assert exp.select("o_custkey", "rn").exceptAll(
        got.select("o_custkey", "rn")
    ).count() == 0
