"""Differential fuzz for the blocked global-order windows
(operators/scalewin.py): seeded random frames through
with_global_row_numbers / with_global_running_sum / ntile_from_rank,
compared against Spark's own single-partition window — the operator's
bit-identity claim, attacked with the distributions the r5 fuzz grammar
could not reach (it is SQL-only; scalewin is a Python-side operator):

- adversarial tie atoms (heavy modulo keys, constant keys),
- NULL-heavy leading keys and NULL-heavy running-sum value columns,
- NaN injection into floating leading keys,
- DECIMAL(38) and int64-extreme (+-2^62) leading keys,
- single-row / tiny / all-equal frames,
- every (direction, N_BLOCKS in {4, 16, 64, 1024}) combination, set on
  the module per seed.

Usage: python tools/scalewin_fuzz.py [sf_dir] [n_seeds] [seed_base]

Exit 0 only if every seed's blocked result equals the single-partition
window exactly (both exceptAll directions empty). Run across all three
SFs before a release; record the swept block in NOTES.md.
"""

from __future__ import annotations

import os
import random
import sys
import time
import warnings
from unittest import mock

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES_COLS = {
    # table -> (unique id col, [int cols], [double exprs])
    "customer": ("c_custkey", ["c_nationkey"], ["c_acctbal"]),
    "orders": ("o_orderkey", ["o_custkey"], ["o_totalprice"]),
    "supplier": ("s_suppkey", ["s_nationkey"], ["s_acctbal"]),
    "part": ("p_partkey", ["p_size"], ["p_retailprice"]),
}


def _lead_expr(rng: random.Random, F, idc: str, intc: str, dblc: str):
    """A leading-key column expression from the hazard pool."""
    kind = rng.choice(
        ["int", "tie_heavy", "const", "null_heavy", "double", "nan_double",
         "decimal", "int64_extreme", "negated", "md5_int"]
    )
    if kind == "int":
        return F.col(intc)
    if kind == "tie_heavy":
        return F.col(idc) % rng.choice([2, 3, 5])
    if kind == "const":
        return F.lit(rng.randrange(100)) + F.col(idc) * 0
    if kind == "null_heavy":
        k = rng.choice([2, 3, 4])
        return F.nullif(F.col(idc) % k, F.lit(0))
    if kind == "double":
        return F.col(dblc) * rng.choice([1.0, -1.0, 1.0007])
    if kind == "nan_double":
        k = rng.choice([3, 7, 10])
        return F.when(
            F.col(idc) % k == 0, F.lit(float("nan"))
        ).otherwise(F.col(dblc))
    if kind == "decimal":
        # multiply by a DECIMAL literal: `** k` lowers to F.pow (DOUBLE)
        # and decimal*double is implicitly cast back to double, which
        # silently un-decimaled this key until round 7 (ADVICE r6)
        k = rng.choice([0, 5, 15])
        key = (F.col(dblc).cast("decimal(38,10)")
               * F.lit(10 ** k).cast("decimal(38,0)"))
        return key
    if kind == "int64_extreme":
        sign = rng.choice([1, -1])
        return (F.col(idc) % 2 * 2 - 1) * (
            F.col(idc).cast("long") * F.lit(2**40) * sign
        )
    if kind == "negated":
        return -F.col(intc)
    # md5_int: hash-spread key (~2^32 values — genuinely uniform, no
    # ties; F.ascii would read only the FIRST hex char = 16 atoms)
    return F.conv(
        F.substring(F.md5(F.col(idc).cast("string")), 1, 8), 16, 10
    ).cast("long")


def run_seed(spark, seed: int) -> list[str]:
    import pandas as pd  # noqa: F401

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.operators import scalewin as SW

    rng = random.Random(seed)
    table = rng.choice(sorted(TABLES_COLS))
    idc, ints, dbls = TABLES_COLS[table]
    intc, dblc = rng.choice(ints), rng.choice(dbls)
    base = spark.table(table)

    # frame-size hazards: full table, tiny head, singleton
    frac = rng.choice(["all", "all", "tiny", "one"])
    if frac == "tiny":
        base = base.filter(F.col(idc) % 50 == 0)
    elif frac == "one":
        base = base.filter(F.col(idc) == base.agg(F.min(idc)).collect()[0][0])

    lead = _lead_expr(rng, F, idc, intc, dblc)
    direction = rng.choice(["asc", "desc"])
    n_blocks = rng.choice([4, 16, 64, 1024])
    df = base.select(
        F.col(idc).alias("id"), lead.alias("k"), F.col(intc).alias("x")
    ).localCheckpoint(eager=True)
    spec = [("k", direction), ("id", "asc")]
    order = [
        F.asc("k") if direction == "asc" else F.desc("k"),
        F.asc("id"),
    ]
    problems = []

    def diff(a, b, tag):
        if (
            a.exceptAll(b).limit(1).count() > 0
            or b.exceptAll(a).limit(1).count() > 0
        ):
            problems.append(f"{tag} diverged (table={table} lead kind seed={seed})")

    op = rng.choice(["rank", "rank", "sum", "ntile"])
    with warnings.catch_warnings(), mock.patch.object(SW, "N_BLOCKS", n_blocks):
        warnings.simplefilter("ignore")  # skew warnings are the point here
        if op == "rank":
            got = SW.with_global_row_numbers(df, {"rn": spec})
            exp = df.withColumn(
                "rn", F.row_number().over(Window.orderBy(*order)).cast("long")
            )
            diff(got.select("id", "rn"), exp.select("id", "rn"), "row_number")
        elif op == "sum":
            # NULL-heavy value column half the time
            val = (
                F.nullif(F.col("x") % 3, F.lit(0))
                if rng.random() < 0.5
                else F.col("x")
            )
            d2 = df.withColumn("v", val.cast("long"))
            got = SW.with_global_running_sum(d2, spec, "v", "cum")
            w = Window.orderBy(*order).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            exp = d2.withColumn("cum", F.sum("v").over(w).cast("long"))
            diff(got.select("id", "cum"), exp.select("id", "cum"), "running_sum")
        else:
            k = rng.choice([2, 3, 7, 10, 100])
            got = SW.with_global_row_numbers(
                df, {"r": spec}, count_col="n"
            ).select(
                "id", SW.ntile_from_rank(F.col("r"), F.col("n"), k).alias("t")
            )
            exp = df.select(
                "id", F.ntile(k).over(Window.orderBy(*order)).alias("t")
            )
            diff(got, exp, f"ntile_{k}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    n_seeds = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    base = int(sys.argv[3]) if len(sys.argv) > 3 else 60000

    from shuttlestandalonedbcreator_spark.session import get_spark
    from shuttlestandalonedbcreator_spark.sources.registry import register_views

    spark = get_spark()
    register_views(spark, sf_dir)
    t0 = time.time()
    bad = 0
    for i in range(n_seeds):
        seed = base + i
        try:
            problems = run_seed(spark, seed)
        except Exception as e:  # noqa: BLE001 — report and continue
            problems = [f"seed {seed}: ERROR {type(e).__name__}: {e}"]
        if problems:
            bad += 1
            for p in problems:
                print(f"DIVERGE seed={seed}: {p}")
        if (i + 1) % 25 == 0:
            print(f"... {i + 1}/{n_seeds} seeds, {bad} divergences "
                  f"[{time.time() - t0:.0f}s]", flush=True)
    print(
        f"swept {n_seeds} scalewin seeds @ {sf_dir}: {bad} divergences"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
