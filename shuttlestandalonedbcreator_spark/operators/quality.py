"""Data-quality constraint auditing (deequ/dbt-test shape): declarative
rules evaluated in as few passes as the rule class allows.

Extension surface (no reference counterpart — the reference's only
quality machinery is the per-row cast tolerance, E1). At 100 TB the
design constraint is PASS COUNT, not rule count:

- ROW rules (not-null, domain, range, regex...) all fold into ONE
  aggregate scan — each rule is a `sum(case when violated)` branch of the
  same partial+final agg, so 50 rules cost the same scan as one.
- UNIQUENESS is `count(*) - count(distinct keys)` — one extra shuffle on
  the key (Catalyst plans the distinct as a two-stage partial agg).
- REFERENTIAL integrity is a LEFT ANTI join counting orphans — the
  parent side ships only its key column and broadcasts when small.

Every audit returns the same (rule, checked, violations) contract so the
three classes union into one report DataFrame.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_RULE_NAME = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def row_rule_audit(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """One aggregate pass over ``df``: for each named rule (a boolean
    Column that is True when the row PASSES), count rows and violations.
    NULL rule results count as violations (SQL three-valued logic would
    silently pass them otherwise). Rule names must be SQL identifiers
    (``[A-Za-z_][A-Za-z0-9_]*``) — they are interpolated into the
    stack() transpose below, so anything else raises loudly here instead
    of mis-parsing there."""
    if not rules:
        raise ValueError("row_rule_audit needs at least one rule")
    bad = [n for n in rules if not _RULE_NAME.match(n)]
    if bad:
        raise ValueError(
            f"rule names must match [A-Za-z_][A-Za-z0-9_]*: {bad!r}"
        )
    aggs = [F.count(F.lit(1)).alias("_checked")]
    for name, cond in rules.items():
        aggs.append(
            F.sum(
                F.when(F.coalesce(cond, F.lit(False)), F.lit(0)).otherwise(F.lit(1))
            ).alias(f"_v_{name}")
        )
    one = df.agg(*aggs)
    # unpivot the single wide row into the (rule, checked, violations)
    # contract — stack() is a driver-free transpose of N constant columns
    pairs = ", ".join(f"'{n}', _v_{n}" for n in rules)
    return one.selectExpr(
        f"stack({len(rules)}, {pairs}) AS (rule, violations)", "_checked AS checked"
    ).select("rule", "checked", F.col("violations").cast("long").alias("violations"))


def uniqueness_audit(df: DataFrame, keys: list[str], rule: str) -> DataFrame:
    """Duplicate-extras count for a key set: total − distinct(keys)."""
    return df.agg(
        F.lit(rule).alias("rule"),
        F.count(F.lit(1)).alias("checked"),
        (F.count(F.lit(1)) - F.count_distinct(*[F.col(k) for k in keys]))
        .cast("long")
        .alias("violations"),
    ).select("rule", "checked", "violations")


def referential_audit(
    child: DataFrame, fk: str, parent: DataFrame, pk: str, rule: str
) -> DataFrame:
    """Orphan count: child rows (with a non-null fk) whose key is absent
    from the parent. ONE scan of the child: a LEFT join against the
    distinct parent keys (tagged 1) feeds a single aggregate that counts
    both checked rows and unmatched rows — the anti-join + checked-count
    formulation scanned the child twice (Spark materializes no CTEs)."""
    keys = parent.select(F.col(pk).alias(fk)).distinct().withColumn(
        "_hit", F.lit(1)
    )
    non_null = child.select(fk).filter(F.col(fk).isNotNull())
    return (
        non_null.join(keys, fk, "left")
        .agg(
            F.count(F.lit(1)).alias("checked"),
            F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("violations"),
        )
        .select(F.lit(rule).alias("rule"), "checked", "violations")
    )


def compression_ratio(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """zlib compression-ratio quality signal (the FineWeb/Gopher-family
    heuristic an LM-data pipeline runs beside perplexity: templated or
    repetitive text compresses far below prose; high-entropy gibberish
    barely compresses at all). ratio = deflate(utf8(text), level=6) /
    raw bytes — level pinned so the signal is reproducible across runs.

    Plan: one Arrow-batched mapInPandas over (id, text) — a pure narrow
    map, zero shuffle at any scale; zlib is C-speed so the Python hop is
    the only overhead (a JVM codegen path cannot express DEFLATE).
    No SQL oracle exists for deflate, so correctness is pinned by
    driver-vs-executor byte equality and monotonicity tests instead
    (tests/test_operators.py)."""
    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = [t.encode("utf-8") if t is not None else b"" for t in pdf[text_col]]
            n = [len(b) for b in raw]
            comp = [len(zlib.compress(b, 6)) for b in raw]
            ratio = [
                (c / nn) if nn else None for c, nn in zip(comp, n)
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": pd.Series(n, dtype="int64"),
                    "comp_bytes": pd.Series(comp, dtype="int64"),
                    "ratio": pd.Series(ratio, dtype="float64"),
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        run,
        f"{id_col} {id_type}, n_bytes long, comp_bytes long, ratio double",
    )
