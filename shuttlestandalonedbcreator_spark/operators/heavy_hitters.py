"""Exact distributed heavy hitters via a Misra-Gries candidate pre-pass.

The naive way to find items with frequency > N/k is a full GROUP BY —
which shuffles EVERY (item, partial-count) pair. At 100 TB of token
stream that exchange is the bottleneck: almost all of it is long-tail
items that can't possibly qualify. The classic two-pass fix:

1. **Candidate pass** (narrow, zero shuffle): each input partition runs a
   Misra-Gries summary with k counters and emits only its surviving
   candidates. MG guarantees any item with partition frequency
   > n_p/k survives that partition's summary; summing the per-partition
   undercounts over all partitions bounds the global undercount by N/k,
   so every item with GLOBAL frequency > N/k survives in at least one
   partition (Misra & Gries 1982; merged-summary bound per Agarwal et
   al., "Mergeable Summaries", PODS'12). The union of survivors is
   therefore a SUPERSET of the true heavy hitters — no false negatives.
   Candidate count is bounded by k × n_partitions regardless of data
   volume.
2. **Exact pass**: re-scan with a broadcast semi-join against the
   candidate set (bounded by construction → `bounded_broadcast`), count
   exactly, and keep items with ``count * k > N`` — an integer compare,
   no division, no approximation in the OUTPUT.

Result: exact answers with the big shuffle replaced by (a) a candidate
set of size O(k · parts) and (b) an aggregate over only candidate rows.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.operators.util import bounded_broadcast, fan_out


def _mg_candidates(df: DataFrame, item_col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries survivors (≤ k items per partition)."""
    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            for item in pdf[item_col]:
                if item is None:
                    continue
                if item in counters:
                    counters[item] += 1
                elif len(counters) < k:
                    counters[item] = 1
                else:
                    # decrement-all step; drop zeroed counters
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        yield pd.DataFrame({item_col: list(counters.keys())})

    # keep the item column's own type (a hardcoded string schema would
    # null/garble long or binary item keys)
    out_schema = df.select(item_col).schema
    return df.select(item_col).mapInPandas(run, schema=out_schema)


def frequent_items_exact(df: DataFrame, item_col: str, k: int) -> DataFrame:
    """Items of ``df[item_col]`` with exact frequency strictly > N/k,
    plus their exact counts. Output: (item_col, cnt, n_total)."""
    candidates = _mg_candidates(fan_out(df), item_col, k).distinct()
    n_total = df.agg(F.count(item_col).alias("n_total"))
    counts = (
        df.join(bounded_broadcast(candidates, "top_k"), item_col, "left_semi")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counts.crossJoin(bounded_broadcast(n_total, "one_row"))
        .filter(F.col("cnt") * k > F.col("n_total"))
        .select(item_col, "cnt", "n_total")
    )
