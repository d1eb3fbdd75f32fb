"""Local replica of the driver's correctness gate: run every CATALOG query
on Spark and its DuckDB oracle side-by-side, compare row count, schema
(column names), and order-insensitive values.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shuttlestandalonedbcreator_spark.queries import CATALOG  # noqa: E402
from shuttlestandalonedbcreator_spark.session import get_spark  # noqa: E402
from shuttlestandalonedbcreator_spark.sources.registry import TABLES  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted, normalized frame for comparison."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: str(v) if v is not None else None)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="last")


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        problems.append(f"columns differ: spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}")
        return problems
    if len(spark_df) != len(duck_df):
        problems.append(f"row count: spark={len(spark_df)} duck={len(duck_df)}")
    a, b = canon(spark_df), canon(duck_df)
    if len(a) == len(b):
        neq = (a.fillna("\x00") != b.fillna("\x00")).any(axis=1)
        if neq.any():
            idx = neq[neq].index[:3]
            for i in idx:
                problems.append(f"row {i}: spark={a.loc[i].to_dict()} duck={b.loc[i].to_dict()}")
            problems.insert(0, f"{int(neq.sum())}/{len(a)} rows differ")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0
    for name, qd in CATALOG.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = qd.spark(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if qd.oracle is None:
            print(f"ok   {name}: rows-only ({len(sdf)} rows) [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.execute(qd.oracle).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failures += 1
            print(f"FAIL {name} [{time.time()-t0:.1f}s]")
            for p in problems[:5]:
                print(f"     {p}")
        else:
            print(f"ok   {name}: {len(sdf)} rows match [{time.time()-t0:.1f}s]")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
