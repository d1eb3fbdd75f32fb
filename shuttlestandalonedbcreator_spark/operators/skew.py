"""Skew-mitigation operators.

At 100 TB a hot key (one giant customer, one stop-word shingle) turns a
single reducer into the job's critical path. AQE's skew-join handles the
join case at runtime; these utilities cover the aggregation case and the
explicit-salt join case AQE can't see (e.g. when the skew is introduced by
an upstream explode).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_BUCKETS = 16  # reducers a hot key's rows spread over


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Two-phase aggregation with a salted first phase.

    ``aggs`` maps output column → (input column, fn) where fn ∈
    {'sum', 'count', 'min', 'max'} (the re-aggregable family; avg must be
    decomposed by the caller into sum+count).

    Phase 1 groups on (keys..., salt) — the hot key's rows spread over
    ``SALT_BUCKETS`` reducers; phase 2 re-aggregates the tiny partial
    results on the true keys. Total work is one extra narrow stage over a
    result whose size is |distinct keys| × SALT_BUCKETS.
    """
    refold = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    first = {"sum": F.sum, "count": lambda c: F.count(F.lit(1)), "min": F.min, "max": F.max}
    for _, (_, fn) in aggs.items():
        if fn not in refold:
            raise ValueError(f"non-re-aggregable fn {fn!r}; decompose it first")

    salted = df.withColumn(
        "_salt", (F.rand(seed=7) * SALT_BUCKETS).cast("int")
    )
    phase1 = salted.groupBy(*keys, "_salt").agg(
        *[first[fn](col).alias(out) for out, (col, fn) in aggs.items()]
    )
    return phase1.groupBy(*keys).agg(
        *[refold[fn](out).alias(out) for out, (_, fn) in aggs.items()]
    )


def top_k_per_key_skew_safe(
    df: DataFrame, key: str, order_col: Column, k: int
) -> DataFrame:
    """Per-key top-k without funneling a hot key through one reducer:
    local top-k per (key, salt) first, then exact top-k over the
    SALT_BUCKETS × k survivors."""
    from pyspark.sql import Window

    salted = df.withColumn("_salt", (F.rand(seed=7) * SALT_BUCKETS).cast("int"))
    w1 = Window.partitionBy(key, "_salt").orderBy(order_col)
    local = salted.withColumn("_r1", F.row_number().over(w1)).filter(F.col("_r1") <= k)
    w2 = Window.partitionBy(key).orderBy(order_col)
    return (
        local.withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= k)
        .drop("_salt", "_r1", "_r2")
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = SALT_BUCKETS,
) -> DataFrame:
    """Explicit-salt inner equi-join on a same-named ``key`` for hot keys AQE
    can't split (e.g. skew introduced by an upstream explode, or a
    build side that must stay shuffled).

    Big side gets a random salt per row; small side is replicated once
    per salt value, so every big row still meets exactly ONE copy of its
    matching small row — the result is row-identical to the unsalted
    join (the catalog's `salted_join_revenue` hash-verifies this against
    a plain-join oracle), while the hot key's rows spread over
    ``salt_buckets`` reducers. Cost: |small| × salt_buckets build rows.
    """
    small_rep = small.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))).alias("_salt"),
    )
    big_s = big.withColumn("_salt", (F.rand(seed=7) * salt_buckets).cast("int"))
    return big_s.join(small_rep, [key, "_salt"]).drop("_salt")
