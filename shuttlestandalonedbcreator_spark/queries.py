"""Query catalog: every implemented operator from SURVEY.md §2 (plus the
scale extensions) as a named query over the driver's synthetic tables,
paired with a DuckDB oracle SQL string.

Contract (repo __spark_entry__.py): each builder takes (spark, sf_dir) and
returns a DataFrame whose column NAMES AND TYPES match the oracle's output
exactly (the driver hashes values after sorting columns by name).

Determinism rules used throughout so Spark and DuckDB agree bit-for-bit:
- integer results: counts/ids stay int64 (DuckDB SUM(int)→HUGEINT is cast
  back to BIGINT in the oracle).
- money/value aggregations: cast to DECIMAL first (exact, order-free sums)
  and cast the final result back to an explicit DECIMAL/DOUBLE type.
- per-row double math: identical expression trees on both sides (IEEE ops
  are order-stable per row), rounded with `round(x, 6)` when the value is
  the output.
- hashes: md5-based (portable across engines), never JVM/xxhash built-ins.
- ties: every rank/top-k orders by an explicit unique tiebreaker.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from fractions import Fraction

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.functions.dates import excel_serial_to_timestamp
from shuttlestandalonedbcreator_spark.functions.paths import (
    job_name_from_filename,
    parent_folder,
    path_level,
)
from shuttlestandalonedbcreator_spark.functions import text as T
from shuttlestandalonedbcreator_spark.operators import dedup as D
from shuttlestandalonedbcreator_spark.operators import joins as J
from shuttlestandalonedbcreator_spark.operators import scalewin as SW
from shuttlestandalonedbcreator_spark.operators import similarity as V
from shuttlestandalonedbcreator_spark.operators.util import (
    bounded_broadcast,
    local_frame,
    ordered_pairs,
)
from shuttlestandalonedbcreator_spark.operators.hierarchy import (
    ancestor_closure,
    hierarchy_closure,
    hierarchy_closure_doubling,
)
from shuttlestandalonedbcreator_spark.operators.summary import (
    files_filter,
    folders_filter,
    grouped_count,
    status_summary,
    top_k,
)


# Per-(session, dir, table) DataFrame cache: load_table re-reads parquet
# footers (pyarrow) and rebuilds the scan per call; the correctness gate
# runs ~90 catalog queries back-to-back against the SAME tables, so reuse
# of the (immutable) scan plan trims a fixed per-query cost to ~zero.
_TABLE_CACHE: dict[tuple[SparkSession, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from shuttlestandalonedbcreator_spark.sources.registry import ensure_utc, load_table

    # the UTC pin must hold on cache HITS too — a cached plan evaluates
    # its timestamp expressions under whatever zone the session has at
    # EXECUTION time, so skipping ensure_utc here would reopen the
    # load-order-dependence the loader invariant closed
    ensure_utc(spark)
    # keyed on the session OBJECT (not id()) so a stopped-and-recreated
    # session can never alias a stale cache entry; bounded so long-lived
    # processes with many sessions/sf_dirs can't pin plans forever
    key = (spark, sf_dir, name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        if len(_TABLE_CACHE) >= 512:
            _TABLE_CACHE.clear()
        df = _TABLE_CACHE[key] = load_table(spark, sf_dir, name)
    return df


@dataclass(frozen=True)
class QueryDef:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver runs rows-only check


# ---------------------------------------------------------------------------
# Golden-fixture oracle pins
# ---------------------------------------------------------------------------

_PIN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_pins")

# Per-input-table content fingerprint SQL, evaluated BY DUCKDB at check
# time, so the oracle selects the fixture captured for the scale factor
# it is actually running against — and yields an EMPTY result (a loud
# row-count mismatch, never a silent false green) on a regenerated or
# foreign dataset. NOTE sf0.001 and sf0.01 both carry 500 documents /
# embeddings rows with DIFFERENT contents, so a COUNT(*) fingerprint
# cannot discriminate; the length-sums can.
_PIN_FINGERPRINT_SQL = {
    "documents": "SELECT SUM(LENGTH(text)) FROM documents",
    "embeddings": "SELECT SUM(LENGTH(CAST(embedding AS VARCHAR))) FROM embeddings",
    "lineitem": (
        "SELECT CAST(SUM(l_orderkey * 7 + l_partkey * 3 + l_linenumber) "
        "AS BIGINT) FROM lineitem"
    ),
}


def _pin_fingerprint_values() -> dict[str, dict[str, int]] | None:
    """Per-table {sf_tag: fingerprint} recorded by
    tools/pin_fixture_oracles.py alongside the fixtures it pins — one
    regeneration rewrites fixtures AND fingerprints together, so they
    can never drift apart. Returns None when the file is absent (the
    bootstrap path: the pin tool must be able to import this module
    BEFORE the first generation); `_pinned_oracle` then emits a
    deliberately-invalid oracle whose error text says how to fix it —
    loud at check time, never a silent false green."""
    import json

    try:
        with open(os.path.join(_PIN_DIR, "fingerprints.json")) as f:
            return json.load(f)
    except OSError:
        return None


def _pinned_oracle(name: str, table: str) -> str:
    """DuckDB oracle for a deterministic entry whose semantics no SQL
    engine can recompute (zlib DEFLATE, the iterative BPE merge loop,
    MLlib k-means cells): serve the committed golden-fixture parquet for
    the running scale factor, guarded by the input table's content
    fingerprint. Upgrades the entry from the driver's rows-only check to
    a full value-hash regression pin. Fixtures + fingerprints are
    (re)generated by ``tools/pin_fixture_oracles.py``, which refuses to
    pin a non-deterministic result."""
    fp_sql = _PIN_FINGERPRINT_SQL[table]
    values = _pin_fingerprint_values()
    if values is None or table not in values:
        # bootstrap: fingerprints.json absent, or predates this table —
        # loud at check time, never a silent false green
        return (
            "PIN_FINGERPRINTS_MISSING: run tools/pin_fixture_oracles.py "
            "to (re)generate oracle_pins fixtures + fingerprints.json"
        )
    fps = values[table]
    parts = [
        "SELECT * FROM read_parquet('{}')\nWHERE ({}) = {}".format(
            os.path.join(_PIN_DIR, f"{name}.{tag}.parquet"), fp_sql, fp
        )
        for tag, fp in fps.items()
    ]
    return "\nUNION ALL\n".join(parts)


# ---------------------------------------------------------------------------
# Reference surface — SURVEY.md §2 (operators cited per query)
# ---------------------------------------------------------------------------

def q_status_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+P7+O1 (status_summary view, SQLiteDirectImporter.java:877-885):
    conditional aggregation over a coalesced group key, ordered desc."""
    orders = _t(spark, sf_dir, "orders")
    return status_summary(
        orders,
        "o_orderpriority",
        file_predicate=F.col("o_totalprice") > 100000,
        folder_predicate=(F.col("o_totalprice") <= 100000) | F.col("o_totalprice").isNull(),
    )


SQL_STATUS_SUMMARY = """
SELECT COALESCE(o_orderpriority, 'Unknown') AS status_name,
       COUNT(*) AS record_count,
       COUNT(CASE WHEN o_totalprice > 100000 THEN 1 END) AS file_count,
       COUNT(CASE WHEN o_totalprice <= 100000 OR o_totalprice IS NULL THEN 1 END) AS folder_count
FROM orders GROUP BY 1
"""


def q_files_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 (files_view :869-870): predicate filter, pushed to the scan."""
    orders = _t(spark, sf_dir, "orders")
    return files_filter(orders, "o_totalprice").select("o_orderkey", "o_custkey", "o_totalprice").filter(
        F.col("o_totalprice") > 150000
    )


SQL_FILES_FILTER = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 150000
"""


def q_folders_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 (folders_view :873-874): zero-or-null predicate split."""
    li = _t(spark, sf_dir, "lineitem")
    return folders_filter(li.filter(F.col("l_quantity") <= 5), "l_discount").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount"
    )


SQL_FOLDERS_FILTER = """
SELECT l_orderkey, l_linenumber, l_quantity, l_discount
FROM lineitem WHERE l_quantity <= 5 AND (l_discount = 0 OR l_discount IS NULL)
"""


def q_grouped_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (`GROUP BY job_name` counts, README.md:76)."""
    return grouped_count(_t(spark, sf_dir, "orders"), "o_orderstatus")


SQL_GROUPED_COUNT = """
SELECT o_orderstatus, COUNT(*) AS record_count FROM orders GROUP BY 1
"""


def q_global_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (`SELECT COUNT(*)` :1034)."""
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("row_count"))


SQL_GLOBAL_COUNT = "SELECT COUNT(*) AS row_count FROM lineitem"


def q_distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (`SELECT DISTINCT COALESCE(...)` :888) — drives dynamic views."""
    return (
        _t(spark, sf_dir, "orders")
        .select(F.coalesce(F.col("o_orderpriority"), F.lit("Unknown")).alias("status_name"))
        .distinct()
    )


SQL_DISTINCT_VALUES = """
SELECT DISTINCT COALESCE(o_orderpriority, 'Unknown') AS status_name FROM orders
"""


def q_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 top-k (:1052-1057): TakeOrderedAndProject, no global sort."""
    return top_k(_t(spark, sf_dir, "part"), "p_brand", k=5)


SQL_TOP_K = """
SELECT p_brand, record_count FROM (
  SELECT p_brand, COUNT(*) AS record_count FROM part GROUP BY 1
) ORDER BY record_count DESC, p_brand ASC LIMIT 5
"""


def q_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (parent-id hash join :797-860): broadcast left-equi join with
    duplicate-key collapse on the build side."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return J.broadcast_lookup(
        customer.select("c_custkey", "c_name", "c_nationkey"),
        nation,
        fact_key="c_nationkey",
        dim_key="n_nationkey",
        payload={"n_name": "nation_name"},
    ).select("c_custkey", "c_name", "nation_name")


SQL_BROADCAST_LOOKUP = """
SELECT c.c_custkey, c.c_name, n.n_name AS nation_name
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
"""


def q_dedup_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (INSERT OR REPLACE upsert :306,:713): latest row per key."""
    ev = _t(spark, sf_dir, "events")
    return D.last_write_wins(
        ev.select("event_id", "user_id", "event_type", "value"),
        keys=["user_id", "event_type"],
        order_col="event_id",
    )


SQL_DEDUP_LAST_WINS = """
SELECT event_id, user_id, event_type, value FROM (
  SELECT event_id, user_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def _hierarchy_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-level synthetic tree region→nation→customer as
    (node_id, parent_id, name) rows; regions are the roots."""
    region = _t(spark, sf_dir, "region").select(
        F.concat(F.lit("R"), F.col("r_regionkey")).alias("node_id"),
        F.lit(None).cast("string").alias("parent_id"),
        F.col("r_name").alias("name"),
    )
    nation = _t(spark, sf_dir, "nation").select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("node_id"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("parent_id"),
        F.col("n_name").alias("name"),
    )
    customer = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("node_id"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("parent_id"),
        F.col("c_name").alias("name"),
    )
    return region.unionByName(nation).unionByName(customer)


def q_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (recursive CTE hierarchy :902-912) over the region→nation→customer
    tree, walked by Spark's native WITH RECURSIVE (UnionLoop) — no
    per-level Python round-trips."""
    nodes = _hierarchy_nodes(spark, sf_dir)
    return hierarchy_closure(nodes, "node_id", "parent_id", "name")


def q_hierarchy_closure_logn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deep-tree scale path for J2: pointer-doubling closure in
    O(log depth) rounds (operators/hierarchy.py:hierarchy_closure_doubling
    — measured 10k-deep path in ~90 s where a walk of one round per
    level projects to hours). Same tree, same output contract, same oracle as
    `hierarchy_closure`."""
    nodes = _hierarchy_nodes(spark, sf_dir)
    return hierarchy_closure_doubling(nodes, "node_id", "parent_id", "name")


SQL_HIERARCHY_CLOSURE = """
WITH RECURSIVE nodes AS (
  SELECT concat('R', r_regionkey) AS node_id, CAST(NULL AS VARCHAR) AS parent_id, r_name AS name FROM region
  UNION ALL
  SELECT concat('N', n_nationkey), concat('R', n_regionkey), n_name FROM nation
  UNION ALL
  SELECT concat('C', c_custkey), concat('N', c_nationkey), c_name FROM customer
), tree AS (
  SELECT node_id, parent_id, name, 0 AS depth, CAST(name AS VARCHAR) AS path
  FROM nodes WHERE parent_id IS NULL
  UNION ALL
  SELECT c.node_id, c.parent_id, c.name, t.depth + 1, concat(t.path, ' > ', c.name)
  FROM nodes c JOIN tree t ON c.parent_id = t.node_id
)
SELECT node_id, parent_id, name, depth, path FROM tree
"""


def q_path_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F3 (calculateLevel/getParentFolder/extractJobName
    :935-982) over synthesized paths on the documents table."""
    docs = _t(spark, sf_dir, "documents")
    path = (
        F.when(F.col("doc_id") % 13 == 0, F.lit(""))
        .when(F.col("doc_id") % 7 == 0, F.concat(F.lit("doc_"), F.col("doc_id"), F.lit(".txt")))
        .otherwise(
            F.concat(
                F.lit("/"), F.col("source"), F.lit("/"), F.col("lang"),
                F.lit("/doc_"), F.col("doc_id"), F.lit(".txt"),
            )
        )
    )
    d = docs.withColumn("path", path)
    return d.select(
        "doc_id",
        "path",
        path_level(F.col("path")).alias("level"),
        parent_folder(F.col("path")).alias("parent_folder"),
        job_name_from_filename(F.concat(F.col("source"), F.lit(".xlsx"))).alias("job_name"),
    )


SQL_PATH_FUNCTIONS = """
WITH d AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 13 = 0 THEN ''
              WHEN doc_id % 7 = 0 THEN concat('doc_', doc_id, '.txt')
              ELSE concat('/', source, '/', lang, '/doc_', doc_id, '.txt') END AS path
  FROM documents
), lv AS (
  SELECT doc_id, source, path,
         CASE WHEN path IS NULL OR trim(path) = '' THEN 0
              ELSE len(string_split(regexp_replace(path, '^/', ''), '/')) END AS level,
         regexp_extract(path, '[^/]*$') AS tail
  FROM d
)
SELECT doc_id, path, CAST(level AS INTEGER) AS level,
       CASE WHEN level <= 1 THEN NULL
            WHEN length(path) - length(tail) - 1 <= 0 THEN NULL
            ELSE substr(path, 1, length(path) - length(tail) - 1) END AS parent_folder,
       CASE WHEN trim(regexp_replace(concat(source, '.xlsx'), '\\.(xlsx|xls)$', '')) = '' THEN 'Unknown'
            ELSE trim(regexp_replace(concat(source, '.xlsx'), '\\.(xlsx|xls)$', '')) END AS job_name
FROM lv
"""


def q_excel_serial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 (convertExcelDateToSQLite :984-1006): POI 1900-system serial →
    timestamp, NULL on zero/junk."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id", excel_serial_to_timestamp(F.col("value")).alias("excel_ts")
    )


SQL_EXCEL_SERIAL = """
SELECT event_id,
       CASE WHEN value IS NULL OR value = 0 THEN NULL
            ELSE TIMESTAMP '1899-12-30' + to_seconds(CAST(round(value * 86400) AS BIGINT)) END AS excel_ts
FROM events
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U2: INTERSECT + EXCEPT over distinct key sets."""
    ev = _t(spark, sf_dir, "events")
    big_buyers = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 190))
        .select("user_id").distinct()
    )
    big_clickers = (
        ev.filter((F.col("event_type") == "click") & (F.col("value") > 190))
        .select("user_id").distinct()
    )
    big_error = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 198))
        .select("user_id").distinct()
    )
    return big_buyers.intersect(big_clickers).subtract(big_error)


SQL_SET_OPS = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 190
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'click' AND value > 190
EXCEPT
SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value > 198
"""


# ---------------------------------------------------------------------------
# Window / analytic surface (§2.5 — absent in reference, provided here)
# ---------------------------------------------------------------------------

def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: customers by acctbal within nation."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey", "c_nationkey", "c_acctbal", F.row_number().over(w).alias("rank_in_nation")
    ).filter(F.col("rank_in_nation") <= 10)


SQL_WINDOW_RANK = """
SELECT c_custkey, c_nationkey, c_acctbal, CAST(rank_in_nation AS INTEGER) AS rank_in_nation FROM (
  SELECT c_custkey, c_nationkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rank_in_nation
  FROM customer
) WHERE rank_in_nation <= 10
"""


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — ntile deciles, percent_rank,
    cume_dist — over account balances within each nation. Rank-based
    (ratios of counts), so cross-engine deterministic given the unique
    (balance, custkey) ordering; one shuffle keyed on the partition col.
    Deliberately UNROUNDED: each value is ONE IEEE division of exact
    integers, bit-identical on both engines — whereas round(x, 6) breaks
    parity when the exact ratio lands on a .xxxxxx5 boundary (e.g.
    333/640: Spark rounds half-up, DuckDB half-to-even; hit at sf0.1)."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.ntile(10).over(w).alias("decile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


SQL_WINDOW_DISTRIBUTION = """
SELECT c_custkey, c_nationkey, c_acctbal,
       CAST(NTILE(10) OVER w AS INTEGER) AS decile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
"""


def q_rolling_hour_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: for every event, how many events the same user
    fired in the preceding hour (inclusive). Time-valued range frames are
    the sliding-lookback primitive (rate limiting, burst detection);
    Spark expresses them as rangeBetween over epoch seconds — one shuffle
    keyed on user_id, frame evaluated per partition in sorted order."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("events_last_hour"),
    )


SQL_ROLLING_HOUR_COUNT = """
SELECT event_id, user_id, ts,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         AS events_last_hour
FROM events
"""


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window: per-user running total (exact decimal accumulation
    cast to double at the end for cross-engine determinism)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("running_value"),
    )


SQL_WINDOW_RUNNING_SUM = """
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
         PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
FROM events
"""


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time window (batch shape of the streaming agg): hourly
    event counts + exact value sums."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


SQL_TUMBLING_WINDOW = """
SELECT date_trunc('hour', ts) AS window_start, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1
"""


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (gap > 30 min) per user: lag → cumulative session id
    → per-session aggregates. Batch shape of the stateful streaming op."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    us = F.unix_micros(F.col("ts"))
    lag_us = F.lag(us).over(w)
    new_session = F.when(lag_us.isNull() | ((us - lag_us) > 1800 * 1_000_000), 1).otherwise(0)
    sid = F.sum(new_session).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ).cast("long")
    return (
        ev.withColumn("session_id", sid)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("session_value"),
        )
    )


SQL_SESSIONIZATION = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, event_id, ts, value,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM sessions GROUP BY 1, 2
"""


def q_finalized_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions already finalized as of a fixed cutoff T — the native
    `F.session_window` aggregation (streaming/windows.py) with the
    end-time cut applied SAFELY post-merge via
    `finalized_sessions(end_before=T)`.

    The naive plan-side `.filter(session_end < T)` is UNSOUND here:
    Catalyst pushes it below MergingSessions as a per-row ts + gap < T
    scan predicate, which changes the merge itself and fabricates
    phantom short sessions (measured: one extra session at sf0.1 —
    SCALING.md, "Session-window filter-pushdown hazard"). The helper
    blocks the pushdown with a nondeterministic value-preserving
    identity on the compared column, so this entry's oracle parity is
    direct evidence the cut runs on POST-merge sessions.

    Session contract is session_window's: merge while the gap to the
    previous event is strictly < 30 min; session_end = last ts + gap
    (differs from the lag-based `sessionization` entry, whose sessions
    split on gap > 30 min and end at the last event). Plan: one shuffle
    on user_id, sort-merge sessions per key, then the post-merge
    filter — same scale shape as any keyed aggregation."""
    from shuttlestandalonedbcreator_spark.streaming.windows import (
        finalized_sessions,
    )

    ev = _t(spark, sf_dir, "events")
    return finalized_sessions(
        ev, gap="30 minutes", end_before="2024-01-20 00:00:00"
    )


SQL_FINALIZED_SESSIONS = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts, value,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
), agg AS (
  SELECT user_id,
         MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id, session_start, session_end, n_events, session_value
FROM agg WHERE session_end < TIMESTAMP '2024-01-20 00:00:00'
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 extension: as-of (backward) join — for each purchase, the user's
    latest click at-or-before it."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("value").alias("click_value"), "event_id")
    )
    # collapse same-(user, ts) clicks deterministically (greatest event_id)
    wc = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    clicks = (
        clicks.withColumn("_rn", F.row_number().over(wc)).filter(F.col("_rn") == 1)
        .select("user_id", "ts", "click_value")
    )
    return J.asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts", payload=["click_value"]
    ).select("event_id", "user_id", "ts", "value", "click_value")


SQL_ASOF_JOIN = """
WITH clicks AS (
  SELECT user_id, ts, click_value FROM (
    SELECT user_id, ts, value AS click_value,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
), purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts, p.value, c.click_value
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# ---------------------------------------------------------------------------
# TPC-H-style analytical queries (bench headline shapes)
# ---------------------------------------------------------------------------

def _exact_sum(col: F.Column, scale: int) -> F.Column:
    """Exact order-independent money sum as a DOUBLE, via scaled longs.

    Per-row: cast to decimal(18,scale) (engine-portable HALF_UP rounding),
    scale to an integer, then SUM(long) — which whole-stage codegen
    vectorizes ~2× faster than decimal sums. The final /10^scale is a
    correctly-rounded double of the same exact rational a decimal sum
    would yield, so values are bit-identical to the decimal formulation.
    Safe while Σ|v|·10^scale < 2^63 (~9.2e12 money units at scale 6 —
    plenty for a 100 TB fact table per group; switch the SUM back to
    decimal if a use case exceeds it)."""
    factor = 10**scale
    scaled = (col.cast(f"decimal(18,{scale})") * factor).cast("long")
    return F.sum(scaled) / F.lit(float(factor))


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide conditional aggregation with exact
    order-independent sums (scaled-long formulation, see _exact_sum) —
    the scan+agg throughput benchmark."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    price = F.col("l_extendedprice")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _exact_sum(qty, 2).alias("sum_qty"),
            _exact_sum(price, 2).alias("sum_base_price"),
            _exact_sum(disc_price, 6).alias("sum_disc_price"),
            _exact_sum(charge, 6).alias("sum_charge"),
            (_exact_sum(qty, 2) / F.count(F.lit(1))).alias("avg_qty"),
            (_exact_sum(price, 2) / F.count(F.lit(1))).alias("avg_price"),
            (_exact_sum(F.col("l_discount"), 2) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
       CAST(SUM(CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) / 1000000.0 AS sum_disc_price,
       CAST(SUM(CAST(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) / 1000000.0 AS sum_charge,
       CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 / COUNT(*) AS avg_price,
       CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_join_agg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3/Q5 shape: 3-way join + aggregation. The customer join is
    hint-free — customer scales with SF, so AQE picks broadcast-hash only
    when the side is actually under threshold, shuffle-hash otherwise.

    Plan choice: revenue is pre-aggregated per l_orderkey BEFORE the join,
    so (a) the join's shuffle on the order key is the same exchange the
    aggregate needs — Catalyst reuses it, and (b) `n_orders` becomes a
    plain COUNT(*) over per-order rows instead of COUNT(DISTINCT), which
    would otherwise expand into a second full-width shuffle keyed on
    (segment, orderkey). One wide shuffle of lineitem total; the fact
    table is touched once and reduced 4× before any join."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev_scaled = (rev.cast("decimal(18,6)") * 1_000_000).cast("long")
    per_order = li.groupBy("l_orderkey").agg(F.sum(rev_scaled).alias("_rev"))
    return (
        per_order.join(o, per_order["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            (F.sum("_rev") / F.lit(1e6)).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


SQL_JOIN_AGG_REVENUE = """
SELECT c_mktsegment,
       CAST(SUM(CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) / 1000000.0 AS revenue,
       COUNT(DISTINCT o_orderkey) AS n_orders
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-dimension rollup with a pushed-down range predicate."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _exact_sum(F.col("o_totalprice"), 2).alias("total_price"),
        )
    )


SQL_ORDERS_BY_MONTH = """
SELECT date_trunc('month', o_orderdate) AS order_month, COUNT(*) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 AS total_price
FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01' GROUP BY 1
"""


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 extension: ROLLUP grouping sets (subtotals + grand total) —
    Catalyst expands to a single Expand+HashAggregate, one shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        )
    )


SQL_ROLLUP_COUNTS = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


PIVOT_STATUSES = ["F", "O", "P"]


def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (explicit value list → conditional-aggregation columns)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", PIVOT_STATUSES)
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s}") for s in PIVOT_STATUSES],
        )
    )


SQL_PIVOT_COUNTS = """
SELECT o_orderpriority,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_F,
       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_O,
       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_P
FROM orders GROUP BY o_orderpriority
"""


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (two-phase partial dedup in Catalyst)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_COUNT_DISTINCT = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


def q_window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics: per-user inter-event gap and value delta."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev_ts = F.lag(F.unix_micros(F.col("ts"))).over(w)
    prev_val = F.lag(F.col("value")).over(w)
    return ev.select(
        "event_id",
        "user_id",
        ((F.unix_micros(F.col("ts")) - prev_ts) / F.lit(1000000.0)).alias("gap_seconds"),
        F.round(F.col("value") - prev_val, 6).alias("value_delta"),
    )


SQL_WINDOW_LAG_DELTA = """
SELECT event_id, user_id,
       (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0 AS gap_seconds,
       round(value - lag(value) OVER w, 6) AS value_delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
"""


def q_range_join_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 extension: theta/range join — events classified into value bands
    via a broadcast nested-loop join against a tiny band dimension."""
    ev = _t(spark, sf_dir, "events")
    bands = local_frame(
        spark,
        [("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 1e9)],
        "band string, lo double, hi double",
    )
    joined = ev.join(
        bounded_broadcast(bands, "domain"),
        (ev["value"] >= bands["lo"]) & (ev["value"] < bands["hi"]),
        "inner",
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


SQL_RANGE_JOIN_BUCKETS = """
WITH bands AS (
  SELECT 'low' AS band, 0.0 AS lo, 50.0 AS hi
  UNION ALL SELECT 'mid', 50.0, 150.0
  UNION ALL SELECT 'high', 150.0, 1e9
)
SELECT band, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band
"""


# ---------------------------------------------------------------------------
# Training-data pipeline extensions (BASELINE.json north star)
# ---------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup on documents (hash-groupBy; md5 128-bit key)."""
    docs = _t(spark, sf_dir, "documents")
    return D.exact_dedup(docs.select("doc_id", "text"), "text", "doc_id").select("doc_id")


SQL_EXACT_DEDUP = """
SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
"""


def q_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard >= 0.8 (inverted-index join,
    never quadratic)."""
    docs = _t(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)


SQL_NGRAM_JACCARD = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
           ELSE [] END) AS g
  FROM toks
), e AS (
  SELECT doc_id, unnest(g) AS tok FROM grams
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (
  SELECT doc_id, len(g) AS s FROM grams
)
SELECT id_a, id_b, c * 1.0 / (sa.s + sb.s - c) AS jaccard
FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
WHERE c * 1.0 / (sa.s + sb.s - c) >= 0.8
"""


def q_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 hashes)+LSH(8 bands) candidate pairs with estimated
    Jaccard >= 0.5 — the sub-quadratic scale path for near-dup."""
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.5)


SQL_MINHASH_LSH = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
           ELSE [] END) AS g
  FROM toks
), e AS (
  SELECT doc_id, unnest(g) AS tok FROM grams
), hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 1000000007 AS h1,
         CAST(('0x' || substr(md5(tok), 16, 15)) AS BIGINT) % 1000000007 AS h2
  FROM e
), mh AS (
  SELECT doc_id, seed, MIN((h1 + seed * h2) % 1000000007) AS v
  FROM hashed CROSS JOIN (SELECT unnest(range(0, 32)) AS seed)
  GROUP BY doc_id, seed
), sig AS (
  SELECT doc_id, list(v ORDER BY seed) AS s FROM mh GROUP BY doc_id
), bands AS (
  SELECT doc_id, b,
         md5(array_to_string(list_transform(s[b*4+1 : b*4+4], x -> CAST(x AS VARCHAR)), ',')) AS bucket
  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
)
SELECT id_a, id_b,
       round(len(list_filter(range(1, 33), i -> sa.s[i] = sb.s[i])) / 32.0, 6) AS est_jaccard
FROM cand JOIN sig sa ON id_a = sa.doc_id JOIN sig sb ON id_b = sb.doc_id
WHERE len(list_filter(range(1, 33), i -> sa.s[i] = sb.s[i])) / 32.0 >= 0.5
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 60-bit fingerprints per document (portable md5 token hash)."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash(docs, "doc_id", "text")


SQL_SIMHASH = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS tok
  FROM documents
), h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(concat('0|', tok)), 1, 15)) AS BIGINT) AS hv FROM toks
), votes AS (
  SELECT doc_id, i, SUM(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS i)
  GROUP BY doc_id, i
)
SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors (exact ANN baseline)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
    return V.brute_force_topk(
        emb, queries, "vec_id", "embedding", "vec_id", "embedding", k=10
    ).withColumn("rank", F.col("rank").cast("int"))


SQL_EMBEDDING_TOPK = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), q AS (
  SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 5
), scored AS (
  SELECT q.qid AS query_id, v.vec_id AS neighbor_id,
         round(list_dot_product(v.e, q.qe) /
               (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe))), 6) AS score
  FROM v CROSS JOIN q
)
SELECT query_id, neighbor_id, score, CAST(rk AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rk
  FROM scored
) WHERE rk <= 10
"""


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining
    (operators/similarity.py:hard_negative_topk): for each of 50 anchor
    vectors, the 5 most cosine-similar embeddings with a DIFFERENT
    label — the standard contrastive-training candidate generator.
    Exact baseline shape (anchors broadcast, one window shuffle); the
    LSH/IVF generators swap in at 100 TB."""
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 50)
    return V.hard_negative_topk(emb, anchors, "vec_id", "embedding", "label", k=5)


SQL_HARD_NEGATIVE_MINING = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings
), a AS (
  SELECT vec_id AS anchor_id, e AS ae, label AS al FROM v WHERE vec_id < 50
), scored AS (
  SELECT a.anchor_id, v.vec_id AS negative_id,
         round(list_dot_product(v.e, a.ae) /
               (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(a.ae, a.ae))), 6) AS score
  FROM v CROSS JOIN a
  WHERE v.label <> a.al
)
SELECT anchor_id, negative_id, score, CAST(rk AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY score DESC, negative_id ASC) AS rk
  FROM scored
) WHERE rk <= 5
"""


def _sql_sign_bucket(vec: str, planes: int, dim: int) -> str:
    """Concatenated sign-bit bucket expression over a DOUBLE[] column
    named ``vec`` — mirrors operators/similarity.py sign-LSH: plane p's
    component for dim d is +1/-1 by md5('{1000+p}|{d}') parity, the
    projection is a left-to-right sum (list_sum)."""
    bits = []
    for p in range(planes):
        comp = (
            f"CASE WHEN CAST(('0x' || substr(md5(concat('{1000 + p}|', CAST(d AS VARCHAR))), 1, 15)) AS BIGINT) % 2 = 0 "
            "THEN 1.0 ELSE -1.0 END"
        )
        proj = f"list_sum(list_transform(range(0, {dim}), d -> {vec}[d+1] * ({comp})))"
        bits.append(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(bits) + ")"


def q_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed approximate per-vector top-5 — the scale path
    (join keyed on bucket signature; no quadratic pass). Oracle-checked:
    the md5-derived hyperplane buckets restate in generated SQL
    (`_sql_lsh_topk`, same machinery as the cosine near-dup oracle);
    recall vs exact is pinned by test_lsh_topk_finds_duplicate_clusters."""
    emb = _t(spark, sf_dir, "embeddings")
    return V.lsh_topk(emb, "vec_id", "embedding", k=5, planes=8, dim=64).withColumn(
        "rank", F.col("rank").cast("int")
    )


def _sql_lsh_topk(k: int = 5, planes: int = 8, dim: int = 64) -> str:
    """DuckDB oracle for lsh_topk: bucket on the RAW vector (the operator
    folds x.cast(double)*h over the un-normalized column), candidates are
    same-bucket pairs both directions, score is true cosine, per-query
    top-k with (score desc, neighbor asc) ties."""
    bucket = _sql_sign_bucket("e", planes, dim)
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), tagged AS (
  SELECT vec_id, e, {bucket} AS bkt FROM v
), cand AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(list_dot_product(a.e, b.e) /
               (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS score
  FROM tagged a JOIN tagged b ON a.bkt = b.bkt AND a.vec_id <> b.vec_id
)
SELECT query_id, neighbor_id, score, CAST(rk AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rk
  FROM cand
) WHERE rk <= {k}
"""


SQL_EMBEDDING_LSH_TOPK = _sql_lsh_topk()


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k (k-means cells, n_probe nearest
    probed) — the inverted-file scale path for ANN. The clustering step
    is iterative and not SQL-expressible, but seeded MLlib k-means is
    deterministic on a fixed dataset, so the driver oracle is a
    golden-fixture pin (`_pinned_oracle`; determinism re-verified at
    every regeneration). The result contract (k rows/query, rank
    monotonicity, per-query recall floor vs exact) stays independently
    oracle-hash-checked by `embedding_ivf_contract`, and mean recall by
    tests/test_scale_ops.py::test_ivf_recall_against_exact."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
    return V.ivf_topk(
        emb, queries, "vec_id", "embedding", "vec_id", "embedding",
        k=10, n_centroids=16, n_probe=4,
    )


def q_embedding_ivf_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-backed deterministic core of the IVF path (the rows-only
    `embedding_ivf_topk` keeps the raw approximate results): per query
    this pins the contract the operator promises regardless of where
    k-means converges —

    - `n_results`: exactly k rows per query (hash-checked);
    - `rank_contract_ok`: ranks are the contiguous 1..k with scores
      non-increasing along them (ties broken by neighbor_id);
    - `recall_floor_ok`: recall@k against the EXACT brute-force top-k
      ≥ 0.3 per query (the accuracy test pins the stronger mean ≥ 0.6;
      the floor here is per-query and deliberately conservative so the
      contract is stable across SFs).

    A regression in clustering, probing, or ranking flips a boolean and
    fails the driver's value-hash comparison."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
    k = 10
    ivf = V.ivf_topk(
        emb, queries, "vec_id", "embedding", "vec_id", "embedding",
        k=k, n_centroids=16, n_probe=4,
    )
    # r10: the IVF subtree feeds BOTH the per-query contract aggregate and
    # the recall join below; un-materialized, Spark re-ran the whole
    # probe+score+window pipeline once per reference (guide §5.1) — one
    # 50-row localCheckpoint halves the entry
    ivf = ivf.localCheckpoint(eager=True)
    exact = V.brute_force_topk(
        emb, queries, "vec_id", "embedding", "vec_id", "embedding", k=k
    ).select("query_id", F.col("neighbor_id").alias("_exact_n"))
    per_q = ivf.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_results"),
        (
            (F.min("rank") == 1)
            & (F.max("rank") == k)
            & (F.count_distinct("rank") == k)
            # scores non-increasing along rank order: max_by pins the two
            # endpoints; full monotonicity follows from the window ordering,
            # checked here as score-at-rank-1 >= score-at-rank-k
            & (F.max_by("score", -F.col("rank")) >= F.max_by("score", F.col("rank")))
        ).alias("rank_contract_ok"),
    )
    hits = (
        ivf.join(exact, ["query_id"])
        .filter(F.col("neighbor_id") == F.col("_exact_n"))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    return (
        per_q.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_results",
            "rank_contract_ok",
            (F.coalesce(F.col("_hits"), F.lit(0)) >= int(0.3 * k)).alias(
                "recall_floor_ok"
            ),
        )
    )


SQL_EMBEDDING_IVF_CONTRACT = """
SELECT vec_id AS query_id,
       CAST(10 AS BIGINT) AS n_results,
       TRUE AS rank_contract_ok,
       TRUE AS recall_floor_ok
FROM embeddings WHERE vec_id < 5
"""


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + BPE-ish subword estimate + content fingerprint.

    r10: a fan_out here was A/B-measured SLOWER (the text exchange
    outweighs the per-row work) — left in the original shape."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        T.doc_fingerprint(F.col("text")).alias("fingerprint"),
    )


SQL_TEXT_TOKEN_STATS = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS w
  FROM documents
)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(COALESCE(list_sum(list_transform(w, t -> 1 + CAST(floor(length(t) / 4.0) AS BIGINT))), 0) AS BIGINT) AS n_bpe_tokens,
       md5(array_to_string(w, ' ')) AS fingerprint
FROM toks
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + language-ID heuristic + punctuation ratio."""
    docs = _t(spark, sf_dir, "documents")
    # materialize tokens once; downstream metrics are cheap array ops
    with_toks = docs.select("doc_id", "text", T.word_tokens(F.col("text")).alias("_toks"))
    return with_toks.select(
        "doc_id",
        T.quality_score(F.col("text"), F.col("_toks")).alias("quality"),
        T.lang_id(F.col("text"), F.col("_toks")).alias("lang_guess"),
        T.punct_ratio(F.col("text")).alias("punct_ratio"),
    )


SQL_TEXT_QUALITY = """
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS w
  FROM documents
), m AS (
  SELECT doc_id, text, w,
         len(w) AS n_tok,
         CASE WHEN len(w) > 0
              THEN CAST(COALESCE(list_sum(list_transform(w, t -> CAST(length(t) AS BIGINT))), 0) AS DOUBLE) / len(w)
              ELSE 0.0 END AS mean_wl,
         CASE WHEN length(text) > 0
              THEN CAST(length(regexp_replace(text, '[^.,;:!?''"]', '', 'g')) AS DOUBLE) / length(text)
              ELSE 0.0 END AS pr
  FROM toks
), langs AS (
  SELECT doc_id,
         [struct_pack(hits := CAST(len(list_filter(w, t -> list_contains(['the','and','of','to','is'], t))) AS BIGINT), lang := 'en'),
          struct_pack(hits := CAST(len(list_filter(w, t -> list_contains(['der','die','und','nicht','ist'], t))) AS BIGINT), lang := 'de'),
          struct_pack(hits := CAST(len(list_filter(w, t -> list_contains(['le','la','et','les','est'], t))) AS BIGINT), lang := 'fr'),
          struct_pack(hits := CAST(len(list_filter(w, t -> list_contains(['el','la','que','de','es'], t))) AS BIGINT), lang := 'es'),
          struct_pack(hits := CAST(len(list_filter(w, t -> list_contains(['de5','shi4','bu4','le5','zai4'], t))) AS BIGINT), lang := 'zh')] AS pairs
  FROM toks
), best AS (
  SELECT doc_id, list_aggregate(pairs, 'max') AS b FROM langs
)
SELECT m.doc_id,
       round((least(m.n_tok / 50.0, 1.0)
              + CASE WHEN m.mean_wl >= 3.0 AND m.mean_wl <= 10.0 THEN 1.0 ELSE 0.5 END
              + (1.0 - least(m.pr * 5.0, 1.0))) / 3.0, 6) AS quality,
       CASE WHEN b.hits > 0 THEN b.lang ELSE 'und' END AS lang_guess,
       m.pr AS punct_ratio
FROM m JOIN best ON m.doc_id = best.doc_id
"""


def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing shape: opaque content treated as bytes with
    typed metadata (byte length, content hash, modality tag). The decode /
    feature-extract stage lives in streaming/multimodal.py (mapInPandas,
    stubbed decoders — image/audio libs absent by design)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
        F.md5(F.col("text")).alias("content_hash"),
        F.lit("text").alias("modality"),
    )


SQL_MULTIMODAL_METADATA = """
SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       md5(text) AS content_hash, 'text' AS modality
FROM documents
"""


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: each 'video' payload (document bytes as a
    stand-in) expands to 4 frames inside an Arrow-batched mapInPandas
    stage (streaming/multimodal.py:sample_frames) — partition-parallel
    expansion, no explode shuffle. The deterministic fake sampler (equal
    byte slices) makes the full distributed path oracle-checkable; a real
    deployment registers ffmpeg with the same signature."""
    from shuttlestandalonedbcreator_spark.streaming import multimodal as M

    M.register_frame_sampler("video", M.deterministic_fake_frame_sampler())
    docs = _t(spark, sf_dir, "documents")
    content = docs.select(
        F.col("doc_id").alias("content_id"),
        F.lit("video").alias("modality"),
        F.col("text").cast("binary").alias("content"),
    )
    frames = M.sample_frames(content, n_frames=4)
    return frames.select(
        "content_id",
        "frame_index",
        "frame_ms",
        F.octet_length("frame").cast("long").alias("frame_bytes"),
        F.md5("frame").alias("frame_hash"),
    )


# DuckDB (this version) cannot slice BLOBs, so the oracle slices the
# VARCHAR — equivalent because the synthetic documents are pure ASCII
# (byte offsets == char offsets; asserted over the corpus before use).
SQL_MULTIMODAL_FRAME_SAMPLE = """
WITH b AS (
  SELECT doc_id, text, length(text) AS n FROM documents
), params AS (
  SELECT doc_id, text, n, greatest(n // 4, 1) AS step FROM b
), frames AS (
  SELECT doc_id, i, i * 1000 AS ms,
         CASE WHEN i = 3 THEN substring(text, i * step + 1, greatest(n - i * step, 0))
              ELSE substring(text, i * step + 1, step) END AS frame
  FROM params CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
)
SELECT doc_id AS content_id, CAST(i AS INTEGER) AS frame_index,
       CAST(ms AS INTEGER) AS frame_ms,
       CAST(octet_length(CAST(frame AS BLOB)) AS BIGINT) AS frame_bytes,
       md5(frame) AS frame_hash
FROM frames
"""


def _image_px(emb_col, i):
    """Gray pixel i synthesized from the embedding vector — pure integer
    result from IEEE-identical expression trees, so Spark and the DuckDB
    oracle rebuild the exact same image: float→double widening is exact,
    double multiply+floor are per-row order-stable, and the double-mod
    keeps the value in [0, 255]."""
    return (
        (
            F.floor(F.get(emb_col, i % 64).cast("double") * F.lit(1000.0))
            % 256 + 256
        ) % 256
    ).cast("int")


def _image_idiv(c, k):
    """Integral division (IntegralDivide) — DuckDB's `//` on
    non-negative operands, with no double round-trip."""
    return F.call_function("div", c, F.lit(k).cast("long"))


def _banded_hamming_pairs(
    hashed: DataFrame, id_col: str, band_values: list[Column]
) -> DataFrame:
    """Near-duplicate pairs of 64-bit (hi, lo) hashes: Hamming distance
    <= 6, candidates taken from 16-bit bands (``band_values``, one
    column expression per band) and ``same_source`` when the two ids
    halve to one source id.

    Candidates and verification share ONE band-keyed exchange into
    posting lists expanded by ``ordered_pairs`` (guide §2.4): hi/lo ride
    the posting lists and the exact Hamming check is the expansion's
    ``keep``, so only true near-dup pairs reach the dedup exchange
    (guide §2.3)."""
    bands = hashed.select(
        id_col,
        "hi",
        "lo",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("band"), v.alias("bv"))
                    for k, v in enumerate(band_values)
                ]
            )
        ).alias("b"),
    ).select(id_col, "hi", "lo", "b.band", "b.bv")
    grouped = (
        bands.groupBy("band", "bv")
        .agg(F.array_sort(F.collect_list(F.struct(id_col, "hi", "lo"))).alias("_m"))
        .filter(F.size("_m") >= 2)
    )
    pairs = grouped.select(
        ordered_pairs(
            F.col("_m"),
            lambda x, y: F.struct(
                x[id_col].alias("id_a"),
                y[id_col].alias("id_b"),
                (D.hamming64(x["hi"], y["hi"]) + D.hamming64(x["lo"], y["lo"]))
                .cast("int").alias("hamming"),
            ),
            lambda p: p["hamming"] <= 6,
        ).alias("_p")
    ).select("_p.id_a", "_p.id_b", "_p.hamming")
    return pairs.distinct().select(
        "id_a", "id_b", "hamming",
        (
            _image_idiv(F.col("id_a"), 2) == _image_idiv(F.col("id_b"), 2)
        ).alias("same_source"),
    )


def q_image_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-duplicate pairs via dHash + banded LSH —
    the image member of the dedup family (exact / MinHash / SimHash /
    embedding-cosine / **dHash**), same banded posting-list shape as
    MinHash-LSH.

    Pipeline (all real multimodal plumbing): synthesize two 16x16 gray
    variants per embedding (base + a clamped +3-brightness copy — dHash
    compares adjacent pixels, so the shift preserves most bits and flips
    only those at the 255 clamp boundary), encode each to a REAL PNG and
    decode it back with the stdlib codec (streaming/imagecodec.py) in
    ONE fused Arrow-batched mapInPandas hop (r10 — encode, decode,
    nearest-neighbor resize to the 9x8 dHash grid and the 64-bit pack
    into two 32-bit halves all happen inside the hop; only 16
    bytes/image leave Python), then band into 4x16-bit keys: candidate
    pairs meet ONLY inside a band bucket (ONE keyed shuffle into
    posting lists — output-bounded, never all-pairs) and verify with
    the exact Hamming distance inside the expansion.

    100 TB shape: the hash pass is a narrow map (one Python hop per
    image, PNG lossless so the oracle recomputes pixels from the
    formula); the posting lists are keyed on (band, value) exactly
    like minhash_lsh_pairs' (band, bucket) lists and carry the packed
    hash, so verification needs no join back."""
    from shuttlestandalonedbcreator_spark.operators.util import fan_out
    from shuttlestandalonedbcreator_spark.streaming import imagecodec as IC

    # same single-split fan_out as audio/video: the toy parquet arrives
    # as ONE split, which would serialize the PNG codec hops onto one
    # core — round-robin the raw vec_id+embedding rows first
    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    # two variants per vector in ONE projection (a union of two
    # transform()-projections of the same frame trips a Catalyst
    # constraint-rewrite NoSuchElementException under localCheckpoint)
    imgs = emb.select(
        "vec_id",
        "embedding",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("v"),
    ).select(
        (F.col("vec_id") * 2 + F.col("v")).alias("img_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(255)),
            lambda i: F.when(
                F.col("v") == 1,
                F.least(F.lit(255), _image_px(F.col("embedding"), i) + 3),
            ).otherwise(_image_px(F.col("embedding"), i)).cast("int"),
        ).alias("px"),
    )

    def codec(batches):
        # r10 FUSED codec hop (guide §4.1): encode→decode→resize→bit-pack
        # in ONE Python hop — the PNG bytes never cross Arrow and one
        # JVM↔Python round trip is gone; the real PNG round-trip itself
        # is unchanged (encode_png then decode_png per image). The bit
        # pack stays vectorized over the 9x8 grid (pure-integer ops,
        # bit-identical to the JVM HOF fold it replaced in r7); only
        # 16 bytes/image leave Python.
        import numpy as np
        import pandas as pd

        w32 = 1 << np.arange(32, dtype=np.int64)
        for pdf in batches:
            his, los = [], []
            for px_in in pdf["px"]:
                png = IC.encode_png(
                    16, 16, 1, np.asarray(px_in, dtype=np.uint8).tobytes()
                )
                w, h, ch, px = IC.decode_png(png)
                small = IC.resize_nearest(w, h, ch, px, 9, 8)
                g = np.frombuffer(small, dtype=np.uint8).reshape(8, 9)
                # bit p (row p//8, col p%8): grid[r,c] > grid[r,c+1]
                bits = (g[:, :8] > g[:, 1:]).reshape(-1).astype(np.int64)
                his.append(int(bits[:32] @ w32))
                los.append(int(bits[32:] @ w32))
            yield pd.DataFrame({"img_id": pdf["img_id"], "hi": his, "lo": los})

    hashed = imgs.mapInPandas(codec, "img_id long, hi long, lo long")
    return _banded_hamming_pairs(
        hashed,
        "img_id",
        [
            F.col("hi") % 65536,
            _image_idiv(F.col("hi"), 65536),
            F.col("lo") % 65536,
            _image_idiv(F.col("lo"), 65536),
        ],
    )


SQL_IMAGE_DHASH_NEARDUP = """
WITH imgs AS (
  SELECT vec_id * 2 + v AS img_id,
         [CAST(CASE WHEN v = 1
               THEN LEAST(255, ((CAST(FLOOR(CAST(embedding[i % 64 + 1] AS DOUBLE) * 1000.0) AS BIGINT) % 256 + 256) % 256) + 3)
               ELSE ((CAST(FLOOR(CAST(embedding[i % 64 + 1] AS DOUBLE) * 1000.0) AS BIGINT) % 256 + 256) % 256)
               END AS INT)
          for i in range(0, 256)] AS px
  FROM embeddings, (SELECT UNNEST([0, 1]) AS v)
),
px9 AS (
  SELECT img_id,
         [px[(r // 9) * 2 * 16 + ((r % 9) * 16) // 9 + 1]
          for r in range(0, 72)] AS p
  FROM imgs
),
hashed AS (
  SELECT img_id,
         CAST(list_sum([CASE WHEN p[(b // 8) * 9 + (b % 8) + 1] > p[(b // 8) * 9 + (b % 8) + 2]
                        THEN 1 << (b % 32) ELSE 0 END
                        for b in range(0, 32)]) AS BIGINT) AS hi,
         CAST(list_sum([CASE WHEN p[((b + 32) // 8) * 9 + (b % 8) + 1] > p[((b + 32) // 8) * 9 + (b % 8) + 2]
                        THEN 1 << (b % 32) ELSE 0 END
                        for b in range(0, 32)]) AS BIGINT) AS lo
  FROM px9
),
bands AS (
  SELECT img_id, u.band,
         CASE u.band WHEN 0 THEN hi % 65536 WHEN 1 THEN hi // 65536
                     WHEN 2 THEN lo % 65536 ELSE lo // 65536 END AS bv
  FROM hashed, (SELECT UNNEST(range(0, 4)) AS band) u
),
cand AS (
  SELECT DISTINCT a.img_id AS id_a, c.img_id AS id_b
  FROM bands a JOIN bands c ON a.band = c.band AND a.bv = c.bv
  WHERE a.img_id < c.img_id
)
SELECT cand.id_a, cand.id_b,
       CAST(bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) AS INT) AS hamming,
       cand.id_a // 2 = cand.id_b // 2 AS same_source
FROM cand
JOIN hashed ha ON ha.img_id = cand.id_a
JOIN hashed hb ON hb.img_id = cand.id_b
WHERE bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) <= 6
"""


def q_image_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-stats quality gate over decoded pixels — the image member
    of the quality-gate family (length/stopword/perplexity/zlib for
    text; **size/aspect/diversity/entropy** for images): per image the
    gray-level histogram yields n_levels (distinct values), simpson_px
    (sum of squared counts — the exact-integer Rényi-2 concentration; a
    flat/synthetic image concentrates, a natural one spreads) and
    entropy in integer micro-nats (per-term floor BEFORE the sum, the
    theil_index pattern, so both engines accumulate identical int64
    terms); keep = big enough AND not extreme-aspect AND diverse enough.

    Spark side runs the REAL multimodal path: variable-size gray images
    (8..31 px sides derived from vec_id) synthesized from embeddings,
    encoded to PNG and decoded back by the stdlib codec
    (streaming/imagecodec.py) in Arrow-batched mapInPandas — width and
    height in the output come from the PNG HEADER, so a codec dimension
    regression fails the driver hash. The histogram is fused into the
    decode hop (np.bincount, exact ints — r7 video lesson), so no
    exchange of pixels or histogram rows remains — the only shuffle is
    fan_out's round-robin of the raw input rows, planned BEFORE the
    codec hops; the log-bearing entropy term is still evaluated
    JVM-side over the 256-bin counts array so Java Math.log keeps the
    per-term floor bit-identical to the oracle, which recomputes
    everything from the pixel formula (PNG lossless)."""
    from shuttlestandalonedbcreator_spark.operators.util import fan_out
    from shuttlestandalonedbcreator_spark.streaming import imagecodec as IC

    # fan_out: parallelize the codec hops off the single toy-parquet
    # split (the only exchange in the plan — raw input rows, no pixels)
    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    w_e = (F.lit(8) + F.col("vec_id") % 24).cast("int")
    h_e = (F.lit(8) + (F.col("vec_id") * 7) % 24).cast("int")
    imgs = emb.select(
        F.col("vec_id").alias("img_id"),
        w_e.alias("w"),
        h_e.alias("h"),
        F.transform(
            F.sequence(F.lit(0), (w_e * h_e - 1).cast("int")),
            lambda i: _image_px(F.col("embedding"), i),
        ).alias("px"),
    )

    def enc(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            png = [
                IC.encode_png(int(w), int(h), 1,
                              np.asarray(px, dtype=np.uint8).tobytes())
                for w, h, px in zip(pdf["w"], pdf["h"], pdf["px"])
            ]
            yield pd.DataFrame({"img_id": pdf["img_id"], "png": png})

    def dec(batches):
        # r7 video-fuse lesson: the per-image gray-level HISTOGRAM is
        # computed right here (np.bincount — exact integer counts), so
        # the explode + two keyed hash-aggregate shuffles disappear from
        # the plan entirely; the log-bearing entropy term stays JVM-side
        # (HOF over the 256-bin counts) so the double arithmetic keeps
        # using Java Math.log, bit-identical to the pre-fuse form
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ws, hs, cnts = [], [], []
            for data in pdf["png"]:
                w, h, ch, px = IC.decode_png(bytes(data))
                ws.append(w)
                hs.append(h)
                cnts.append(
                    np.bincount(
                        np.frombuffer(px, dtype=np.uint8), minlength=256
                    ).astype("int64").tolist()
                )
            yield pd.DataFrame(
                {"img_id": pdf["img_id"], "width": ws, "height": hs,
                 "counts": cnts}
            )

    decoded = imgs.mapInPandas(enc, "img_id long, png binary").mapInPandas(
        dec, "img_id long, width int, height int, counts array<long>"
    )
    n = (F.col("width") * F.col("height")).cast("double")
    occupied = F.filter("counts", lambda c: c > 0)
    term = lambda c: F.floor(  # noqa: E731 — mirrors the SQL term shape
        F.lit(-1000000.0) * c.cast("double")
        * F.log(c.cast("double") / n) / n
    ).cast("long")
    stats = decoded.select(
        "img_id", "width", "height",
        F.size(occupied).cast("int").alias("n_levels"),
        F.aggregate(
            "counts", F.lit(0).cast("long"), lambda acc, c: acc + c * c
        ).alias("simpson_px"),
        F.aggregate(
            occupied, F.lit(0).cast("long"), lambda acc, c: acc + term(c)
        ).alias("entropy_mnat"),
    )
    return stats.select(
        "img_id", "width", "height", "n_levels", "simpson_px", "entropy_mnat",
        (
            (F.col("width") >= 16) & (F.col("height") >= 16)
            & ~(F.greatest("width", "height") > F.least("width", "height") * 3)
            & (F.col("n_levels") >= 16)
        ).alias("keep"),
    )


SQL_IMAGE_QUALITY_GATE = """
WITH imgs AS (
  SELECT vec_id AS img_id,
         CAST(8 + vec_id % 24 AS INT) AS width,
         CAST(8 + (vec_id * 7) % 24 AS INT) AS height,
         [CAST(((CAST(FLOOR(CAST(embedding[i % 64 + 1] AS DOUBLE) * 1000.0) AS BIGINT) % 256) + 256) % 256 AS INT)
          for i in range(0, (8 + vec_id % 24) * (8 + (vec_id * 7) % 24))] AS px
  FROM embeddings
),
hist AS (
  SELECT img_id, width, height, u.val, COUNT(*) AS c
  FROM imgs, UNNEST(px) AS u(val)
  GROUP BY img_id, width, height, u.val
),
stats AS (
  SELECT img_id, width, height,
         CAST(COUNT(*) AS INT) AS n_levels,
         CAST(SUM(c * c) AS BIGINT) AS simpson_px,
         CAST(SUM(CAST(FLOOR(-1000000.0 * CAST(c AS DOUBLE)
              * LN(CAST(c AS DOUBLE) / CAST(width * height AS DOUBLE))
              / CAST(width * height AS DOUBLE)) AS BIGINT)) AS BIGINT) AS entropy_mnat
  FROM hist
  GROUP BY img_id, width, height
)
SELECT img_id, width, height, n_levels, simpson_px, entropy_mnat,
       (width >= 16 AND height >= 16
        AND NOT (GREATEST(width, height) > LEAST(width, height) * 3)
        AND n_levels >= 16) AS keep
FROM stats
"""


def _audio_sample(emb_col, i, v):
    """16-bit PCM sample i of an audio track synthesized from the
    embedding vector — the `_image_px` construction widened to the int16
    range, with a per-frame gain ramp (1 + i div 64) and a linear phase
    term (i * 31) so the 16 analysis frames carry distinct spectra.
    Variant v=1 adds +1000 clamped at the int16 ceiling — the additive
    perturbation preserves most band-energy-difference signs (the
    fingerprint bits) while flipping a few, like a re-encoded copy."""
    base = (
        (
            F.floor(F.get(emb_col, i % 64).cast("double") * F.lit(1000.0))
            * (1 + _image_idiv(i, 64))
            + i * 31
        ) % 65536 + 65536
    ) % 65536 - 32768
    return (
        F.when(v == 1, F.least(F.lit(32767), base + 1000)).otherwise(base)
    ).cast("int")


def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic-fingerprint near-duplicate pairs — the audio member of
    the dedup family (exact / MinHash / SimHash / dHash / **band-energy
    fingerprint**), the Haitsma-Kalker robust-hash construction
    (ISMIR 2002) on exact integer band energies: bit(n,m) = sign of the
    time-and-frequency second difference of frame-band energies.

    Pipeline (all real multimodal plumbing): synthesize two 1024-sample
    16-bit PCM variants per embedding (base + a clamped +1000 copy),
    encode each to a REAL RIFF/WAVE file and decode it back with the
    stdlib codec (streaming/audiocodec.py) in ONE fused Arrow-batched
    mapInPandas hop (r10 — the hop also extracts 16 frames x 8 bands of
    exact int64 energies, vectorized numpy sum of squared samples over
    the decoded PCM; only 128 longs/track leave Python) — then 105
    fingerprint bits and 4 INTERLEAVED 27/26-bit LSH bands (bit t ->
    band t mod 4): adjacent bits share energy terms and correlate, so
    bit-slice bands collide ~30x more than interleaved ones (measured
    at sf0.1: 220k vs 7.5k candidates). Candidate pairs meet ONLY
    inside a band bucket (ONE keyed shuffle into posting lists —
    output-bounded, never all-pairs) and verify with the exact Hamming
    distance over the packed 53+52-bit halves inside the expansion.

    100 TB shape: the fingerprint pass is a narrow map (one Python hop
    per track through the WAV codec; PCM is lossless so the oracle
    recomputes samples from the formula); the posting lists are keyed
    on (band, value) exactly like minhash_lsh_candidates and carry the
    packed fingerprint, so verification needs no join back."""
    from shuttlestandalonedbcreator_spark.operators.util import fan_out
    from shuttlestandalonedbcreator_spark.streaming import audiocodec as AC

    # single-row-group toy parquet arrives as ONE split — without the
    # fan_out the whole synth+codec+energy+fold pipeline runs in one
    # task (measured: the sf0.1 run is ~5x slower); the shuffled raw
    # input is only vec_id+embedding (~0.5 MB at sf0.1)
    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    # two variants per vector in ONE projection (union of two
    # transform()-projections of one frame trips the Catalyst
    # constraint-rewrite bug under localCheckpoint)
    tracks = emb.select(
        "vec_id",
        "embedding",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("v"),
    ).select(
        (F.col("vec_id") * 2 + F.col("v")).alias("track_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(1023)),
            lambda i: _audio_sample(F.col("embedding"), i, F.col("v")),
        ).alias("s"),
    )

    def codec(batches):
        # r10 FUSED codec hop (guide §4.1): encode→decode→band-energies
        # in ONE Python hop — the WAV bytes never cross Arrow and one
        # JVM↔Python round trip is gone; the real RIFF/WAVE round-trip
        # itself is unchanged (encode_wav then decode_wav per track).
        # The band energies are the feature-extraction half of the
        # multimodal hop: E[q] (q = n*8+m; frame n of 64 samples, band m
        # of 8) = exact int64 sum of squared samples, computed vectorized
        # on the decoded PCM — ships 128 longs per track through Arrow
        # instead of 1024 samples (int64 is exact: |s| <= 32768,
        # 8 squares <= 2^33)
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for s_in in pdf["s"]:
                data = AC.encode_wav(8000, 1, np.asarray(s_in, dtype="<i2").tobytes())
                _rate, ch, n_frames, pcm = AC.decode_wav(bytes(data))
                s = np.frombuffer(pcm, dtype="<i2")[: n_frames * ch].astype(
                    "int64"
                )
                if len(s) % 8:  # codec regression must fail descriptively,
                    raise ValueError(  # not as a bare reshape crash
                        f"decoded WAV sample count {len(s)} not a multiple "
                        "of the 8-sample band width — audiocodec framing "
                        "regression"
                    )
                out.append((s * s).reshape(-1, 8).sum(axis=1))
            yield pd.DataFrame({"track_id": pdf["track_id"], "e": out})

    energies = tracks.mapInPandas(codec, "track_id long, e array<long>")

    # bit t (t=0..104): n = t div 7 + 1, m = t mod 7 — the
    # Haitsma-Kalker sign of (E[n,m]-E[n,m+1]) - (E[n-1,m]-E[n-1,m+1])
    def bit(t):
        q = ((_image_idiv(t, 7) + 1) * 8 + t % 7).cast("int")
        return F.when(
            (F.get(F.col("e"), q) - F.get(F.col("e"), q + 1))
            - (F.get(F.col("e"), q - 8) - F.get(F.col("e"), q - 7))
            > 0,
            F.lit(1),
        ).otherwise(F.lit(0))

    def fold(seq):  # MSB-first acc*2+bit: bit at the smallest t gets 2^0
        return F.aggregate(seq, F.lit(0).cast("long"), lambda acc, t: acc * 2 + bit(t))

    # checkpoint: bands and both verify sides read ONE materialization
    # of the fingerprint table instead of re-running the codec pipeline
    hashed = energies.select(
        "track_id",
        fold(F.sequence(F.lit(52), F.lit(0), F.lit(-1))).alias("hi"),
        fold(F.sequence(F.lit(104), F.lit(53), F.lit(-1))).alias("lo"),
        fold(F.sequence(F.lit(104), F.lit(0), F.lit(-4))).alias("b0"),
        fold(F.sequence(F.lit(101), F.lit(1), F.lit(-4))).alias("b1"),
        fold(F.sequence(F.lit(102), F.lit(2), F.lit(-4))).alias("b2"),
        fold(F.sequence(F.lit(103), F.lit(3), F.lit(-4))).alias("b3"),
    )
    return _banded_hamming_pairs(
        hashed, "track_id", [F.col(f"b{k}") for k in range(4)]
    )


SQL_AUDIO_FINGERPRINT = """
WITH base AS (
  SELECT vec_id, v,
         [((CAST(FLOOR(CAST(embedding[i % 64 + 1] AS DOUBLE) * 1000.0) AS BIGINT)
            * (1 + i // 64) + i * 31) % 65536 + 65536) % 65536 - 32768
          for i in range(0, 1024)] AS b
  FROM embeddings, (SELECT UNNEST([0, 1]) AS v)
),
tracks AS (
  SELECT vec_id * 2 + v AS track_id,
         CASE WHEN v = 1 THEN [LEAST(32767, x + 1000) for x in b] ELSE b END AS s
  FROM base
),
nrg AS (
  SELECT track_id,
         [CAST(list_sum([CAST(s[(q // 8) * 64 + (q % 8) * 8 + j + 1] AS BIGINT)
                         * s[(q // 8) * 64 + (q % 8) * 8 + j + 1]
                         for j in range(0, 8)]) AS BIGINT)
          for q in range(0, 128)] AS e
  FROM tracks
),
hashed AS (
  SELECT track_id,
         CAST(list_sum([CASE WHEN (e[(t // 7 + 1) * 8 + t % 7 + 1] - e[(t // 7 + 1) * 8 + t % 7 + 2])
                           - (e[(t // 7) * 8 + t % 7 + 1] - e[(t // 7) * 8 + t % 7 + 2]) > 0
                        THEN CAST(1 AS BIGINT) << t ELSE 0 END
                        for t in range(0, 53)]) AS BIGINT) AS hi,
         CAST(list_sum([CASE WHEN (e[(t // 7 + 1) * 8 + t % 7 + 1] - e[(t // 7 + 1) * 8 + t % 7 + 2])
                           - (e[(t // 7) * 8 + t % 7 + 1] - e[(t // 7) * 8 + t % 7 + 2]) > 0
                        THEN CAST(1 AS BIGINT) << (t - 53) ELSE 0 END
                        for t in range(53, 105)]) AS BIGINT) AS lo,
         CAST(list_sum([CASE WHEN (e[((0 + 4 * j) // 7 + 1) * 8 + (0 + 4 * j) % 7 + 1] - e[((0 + 4 * j) // 7 + 1) * 8 + (0 + 4 * j) % 7 + 2])
                           - (e[((0 + 4 * j) // 7) * 8 + (0 + 4 * j) % 7 + 1] - e[((0 + 4 * j) // 7) * 8 + (0 + 4 * j) % 7 + 2]) > 0
                        THEN CAST(1 AS BIGINT) << j ELSE 0 END
                        for j in range(0, 27)]) AS BIGINT) AS b0,
         CAST(list_sum([CASE WHEN (e[((1 + 4 * j) // 7 + 1) * 8 + (1 + 4 * j) % 7 + 1] - e[((1 + 4 * j) // 7 + 1) * 8 + (1 + 4 * j) % 7 + 2])
                           - (e[((1 + 4 * j) // 7) * 8 + (1 + 4 * j) % 7 + 1] - e[((1 + 4 * j) // 7) * 8 + (1 + 4 * j) % 7 + 2]) > 0
                        THEN CAST(1 AS BIGINT) << j ELSE 0 END
                        for j in range(0, 26)]) AS BIGINT) AS b1,
         CAST(list_sum([CASE WHEN (e[((2 + 4 * j) // 7 + 1) * 8 + (2 + 4 * j) % 7 + 1] - e[((2 + 4 * j) // 7 + 1) * 8 + (2 + 4 * j) % 7 + 2])
                           - (e[((2 + 4 * j) // 7) * 8 + (2 + 4 * j) % 7 + 1] - e[((2 + 4 * j) // 7) * 8 + (2 + 4 * j) % 7 + 2]) > 0
                        THEN CAST(1 AS BIGINT) << j ELSE 0 END
                        for j in range(0, 26)]) AS BIGINT) AS b2,
         CAST(list_sum([CASE WHEN (e[((3 + 4 * j) // 7 + 1) * 8 + (3 + 4 * j) % 7 + 1] - e[((3 + 4 * j) // 7 + 1) * 8 + (3 + 4 * j) % 7 + 2])
                           - (e[((3 + 4 * j) // 7) * 8 + (3 + 4 * j) % 7 + 1] - e[((3 + 4 * j) // 7) * 8 + (3 + 4 * j) % 7 + 2]) > 0
                        THEN CAST(1 AS BIGINT) << j ELSE 0 END
                        for j in range(0, 26)]) AS BIGINT) AS b3
  FROM nrg
),
bands AS (
  SELECT track_id, u.band,
         CASE u.band WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bv
  FROM hashed, (SELECT UNNEST(range(0, 4)) AS band) u
),
cand AS (
  SELECT DISTINCT a.track_id AS id_a, c.track_id AS id_b
  FROM bands a JOIN bands c ON a.band = c.band AND a.bv = c.bv
  WHERE a.track_id < c.track_id
)
SELECT cand.id_a, cand.id_b,
       CAST(bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) AS INT) AS hamming,
       cand.id_a // 2 = cand.id_b // 2 AS same_source
FROM cand
JOIN hashed ha ON ha.track_id = cand.id_a
JOIN hashed hb ON hb.track_id = cand.id_b
WHERE bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) <= 6
"""


def q_video_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe extraction from a real video container — the video
    member of the multimodal family: per-frame absolute pixel change
    against the previous frame, keyframe = first frame or a
    scene-cut-sized change (the content-based shot-boundary detector
    every training-data video pipeline runs before frame sampling).

    Pipeline (all real multimodal plumbing): synthesize 12 gray 12x12
    frames per embedding in 3 scenes of 4 (each scene reads the
    embedding at a different stride, so scene boundaries change nearly
    every pixel; within a scene a clamped +3/frame brightness ramp keeps
    the change small and one-sided — bounded by 3*144=432 against a
    measured >=8028 at scene cuts, threshold 2000), encode every frame
    to a REAL PNG inside a REAL frame container (streaming/videocodec.py
    SSVF: PNG frames + timestamps — the MJPEG shape) and decode it back
    in Arrow-batched mapInPandas stages; frame numbers and timestamps in
    the output come from the CONTAINER, so a demux regression fails the
    driver hash.

    100 TB shape: the whole pipeline is ONE narrow map — a video's
    frames are local to its container row, so the previous-frame diff
    is computed vectorized inside the decode hop and only
    (frame_no, ts_ms, diff_sum) leaves Python (24 bytes/frame vs the
    1.2 KB pixel array a keyed-window formulation would shuffle; PNG
    lossless so the oracle recomputes pixels from the formula). No
    exchange of DECODED payloads appears in the plan — the only shuffle
    is fan_out's round-robin of the raw vec_id+embedding input rows,
    planned BEFORE the codec hops (same shape as audio_fingerprint;
    test_av_codec_pipelines_fan_out pins it)."""
    from shuttlestandalonedbcreator_spark.operators.util import fan_out
    from shuttlestandalonedbcreator_spark.streaming import imagecodec as IC
    from shuttlestandalonedbcreator_spark.streaming import videocodec as VC

    # same single-split fan_out as audio_fingerprint: parallelize the
    # per-video synth + PNG/SSVF codec hops across cores
    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    vids = emb.select(
        F.col("vec_id").alias("vid_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(11)),
            lambda f: F.transform(
                F.sequence(F.lit(0), F.lit(143)),
                lambda i: F.least(
                    F.lit(255),
                    _image_px(F.col("embedding"), i * (3 + _image_idiv(f, 4)))
                    + (f % 4) * 3,
                ).cast("int"),
            ),
        ).alias("frames"),
    )

    def enc(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            vid = [
                VC.encode_video(
                    [
                        (f_no * 40,
                         IC.encode_png(12, 12, 1,
                                       np.asarray(fr, dtype=np.uint8).tobytes()))
                        for f_no, fr in enumerate(frames)
                    ]
                )
                for frames in pdf["frames"]
            ]
            yield pd.DataFrame({"vid_id": pdf["vid_id"], "video": vid})

    def dec(batches):
        # a video's frames are LOCAL to its container row, so the
        # previous-frame diff needs no cross-row data: compute it
        # vectorized right here and ship (frame_no, ts_ms, diff_sum)
        # — 24 bytes/frame instead of a 1.2 KB pixel array, and NO
        # shuffle anywhere in the plan (the earlier keyed-window form
        # moved every decoded pixel through an exchange; at 100k
        # videos that was a 1.4 GB shuffle of data the decode task
        # already held). Frame 0's diff is NULL, exactly as LAG-based
        # engines produce.
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, fnos, tss, diffs = [], [], [], []
            for vid_id, data in zip(pdf["vid_id"], pdf["video"]):
                prev = None
                for f_no, (ts_ms, png) in enumerate(VC.decode_video(bytes(data))):
                    _w, _h, _ch, px = IC.decode_png(bytes(png))
                    cur = np.frombuffer(px, dtype=np.uint8).astype("int64")
                    ids.append(vid_id)
                    fnos.append(f_no)
                    tss.append(ts_ms)
                    diffs.append(
                        None if prev is None else int(np.abs(cur - prev).sum())
                    )
                    prev = cur
            yield pd.DataFrame(
                {
                    "vid_id": ids,
                    "frame_no": fnos,
                    "ts_ms": tss,
                    "diff_sum": pd.array(diffs, dtype="Int64"),
                }
            )

    frames = vids.mapInPandas(enc, "vid_id long, video binary").mapInPandas(
        dec, "vid_id long, frame_no int, ts_ms int, diff_sum long"
    )

    return frames.filter((F.col("frame_no") == 0) | (F.col("diff_sum") > 2000))


SQL_VIDEO_KEYFRAMES = """
WITH fr AS (
  SELECT vec_id AS vid_id, f,
         [LEAST(255, ((CAST(FLOOR(CAST(embedding[(i * (3 + f // 4)) % 64 + 1] AS DOUBLE) * 1000.0) AS BIGINT) % 256 + 256) % 256)
                 + (f % 4) * 3)
          for i in range(0, 144)] AS px
  FROM embeddings, (SELECT UNNEST(range(0, 12)) AS f)
),
lagged AS (
  SELECT vid_id, f, px,
         lag(px) OVER (PARTITION BY vid_id ORDER BY f) AS prev
  FROM fr
),
d AS (
  SELECT vid_id, f,
         CAST(list_sum([abs(px[i + 1] - prev[i + 1]) for i in range(0, 144)]) AS BIGINT) AS diff_sum
  FROM lagged
)
SELECT vid_id, CAST(f AS INT) AS frame_no, CAST(f * 40 AS INT) AS ts_ms, diff_sum
FROM d
WHERE f = 0 OR diff_sum > 2000
"""


def q_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-aggregation surface — the 100 TB path for distinct
    counts: per-group HLL++ (`approx_count_distinct`, rsd 0.02) over two
    key columns. Driver-hash-checked against a golden-fixture pin
    (`_pinned_oracle`): Spark's native HLL++ partial is a register
    array whose merge is an elementwise max — set-determined — so the
    estimate is independent of partition layout (re-verified across
    repartition(1/3/8/32/64/200) x shuffle.partitions {5..200}: one
    distinct result; NOTES.md, round 7).

    The layout-SENSITIVE members of the surface live in the
    oracle-green `approx_aggregates_audit` twin as tolerance booleans
    rather than raw hashed values — the measured counterexamples that
    kept this entry rows-only through round 6: DataSketches
    `hll_sketch_estimate(hll_sketch_agg(...))` switches sparse/HLL_4/
    HLL_8 representations on per-partition cardinality, and 6 partition
    layouts produced 4 distinct estimates at sf0.01; `percentile_approx`
    merges partial quantile summaries in shuffle fetch order. Accuracy
    vs exact values is additionally pinned by
    tests/test_scale_ops.py::test_approx_aggregates_accuracy."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        )
        .orderBy("l_returnflag")
    )


def q_approx_aggregates_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-backed deterministic core of the approximate-aggregation
    surface (`approx_aggregates` — itself hash-green since the round-7
    HLL++-only reformulation — keeps the raw estimates):
    per group this emits the EXACT distinct counts (hash-checked against
    DuckDB) plus three contract booleans the oracle pins to TRUE —

    - `hll_rel_err_ok`: approx_count_distinct(rsd=0.02) within 6 % of
      exact (3σ);
    - `sketch_merge_ok`: estimate(union of per-linestatus HLL sketches)
      within 3 % of estimate(one whole-group sketch) — the property that
      lets 100 TB sketch rollups merge across days without rescanning.
      (Register merge is conceptually lossless, but DataSketches' union
      targets HLL_8 while a direct sketch stays HLL_4, so estimates
      drift ≲1.4 % measured — exact equality only holds in sparse mode,
      sf0.001);
    - `median_band_ok`: percentile_approx(0.5) lands inside the exact
      [p25, p75] band.

    If any approximate implementation drifts out of contract the boolean
    flips and the driver's value-hash comparison fails loudly."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("double")
    # Two aggregates on purpose: multi-column count_distinct plans an
    # EXPAND (row count × 3), and folding the percentile/sketch object
    # aggregates into the same Aggregate drags them through the expanded
    # stream (measured 18 s vs 5 s split at sf0.1). The extra scan is
    # cheaper than the expand multiplication.
    distincts = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.count_distinct("l_partkey").alias("exact_parts"),
    )
    per_group = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("_approx_orders"),
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey")).alias("_whole_est"),
        F.percentile_approx(price, F.lit(0.5), F.lit(1000)).alias("_approx_med"),
        # ONE array-percentile instead of two scalar aggs (r10, guide
        # §1.2): each scalar `percentile` buffers every price in its own
        # OpenHashMap; the array form computes both quantiles from ONE
        # buffer with the same per-percentage interpolation — identical
        # values
        F.percentile(price, F.array(F.lit(0.25), F.lit(0.75))).alias("_pq"),
    ).join(distincts, "l_returnflag")
    merged = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.hll_sketch_agg("l_partkey").alias("_sub_sketch"))
        .groupBy("l_returnflag")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("_sub_sketch")).alias("_merged_est")
        )
    )
    rel_err = F.abs(F.col("_approx_orders") - F.col("exact_orders")) / F.col(
        "exact_orders"
    )
    return (
        per_group.join(merged, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_orders",
            "exact_parts",
            (rel_err <= 0.06).alias("hll_rel_err_ok"),
            (
                F.abs(F.col("_merged_est") - F.col("_whole_est"))
                / F.col("_whole_est")
                <= 0.03
            ).alias("sketch_merge_ok"),
            F.col("_approx_med")
            .between(F.get("_pq", 0), F.get("_pq", 1))
            .alias("median_band_ok"),
        )
    )


SQL_APPROX_AGGREGATES_AUDIT = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS hll_rel_err_ok,
       TRUE AS sketch_merge_ok,
       TRUE AS median_band_ok
FROM lineitem GROUP BY l_returnflag
"""


def q_embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.4) — the
    vector-space member of the dedup family. Exact variant (normalize
    once, dot-product pair pass) as the oracle-checkable baseline; the
    100 TB path is the same operator with ``exact=False`` (sign-LSH
    bucketed candidates), recall-tested in tests/test_scale_ops.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return V.cosine_neardup_pairs(emb, "vec_id", "embedding", threshold=0.4, exact=True)


SQL_EMBEDDING_COSINE_NEARDUP = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), u AS (
  SELECT vec_id, list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS ue FROM v
)
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.ue, b.ue), 6) AS cosine
  FROM u a JOIN u b ON a.vec_id < b.vec_id
) WHERE cosine >= 0.4
"""


def q_embedding_cosine_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path of `embedding_cosine_neardup`: sign-LSH bucketed
    candidate generation (md5-derived hyperplanes) + true-cosine verify,
    join keyed on the bucket signature — output-bounded, never quadratic.
    6 planes balances the gate and the bench: collision prob at cosine
    0.4 is (1-acos(.4)/pi)^planes, so 8 planes passes the sf0.01 oracle
    vacuously with 0 rows while 4 planes (16 buckets) lets the sf0.1
    pair join blow up ~4× in wall time. Oracle-checked: the
    hyperplane components are md5-derived, so DuckDB reproduces the
    buckets bit-for-bit (SQL generated by `_sql_cosine_lsh`); recall vs
    the exact pass is pinned by
    tests/test_sampling.py::test_cosine_neardup_lsh_recall."""
    emb = _t(spark, sf_dir, "embeddings")
    return V.cosine_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.4, exact=False, planes=6, dim=64
    )


def _sql_cosine_lsh(threshold: float = 0.4, planes: int = 6, dim: int = 64) -> str:
    """DuckDB oracle for the sign-LSH cosine near-dup path
    (cosine_neardup_pairs(exact=False)): bucket on the UNIT vector, pair
    within buckets, verify with true cosine."""
    bucket = _sql_sign_bucket("ue", planes, dim)
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), u AS (
  SELECT vec_id, list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS ue FROM v
), tagged AS (
  SELECT vec_id, ue, {bucket} AS bkt FROM u
)
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.ue, b.ue), 6) AS cosine
  FROM tagged a JOIN tagged b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
) WHERE cosine >= {threshold}
"""


SQL_EMBEDDING_COSINE_NEARDUP_LSH = _sql_cosine_lsh()


def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (80/10/10) summarized
    per split × source. The split is a pure function of (doc_id, seed):
    narrow map, reproducible across engines/retries, stable as data grows
    (operators/sampling.py:hash_split)."""
    from shuttlestandalonedbcreator_spark.operators import sampling as S

    docs = _t(spark, sf_dir, "documents")
    split = S.hash_split(
        docs, "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)], seed=7
    )
    return split.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


SQL_TRAIN_VAL_TEST_SPLIT = """
WITH b AS (
  SELECT source, n_chars,
         CAST(('0x' || substr(md5(concat('7|', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10000 AS bucket
  FROM documents
), s AS (
  SELECT source, n_chars,
         CASE WHEN bucket < 8000 THEN 'train'
              WHEN bucket < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM b
)
SELECT split, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY split, source
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language mixture weighting: hash-threshold sampling at
    per-stratum rates (downsample dominant en, upsample the rest) —
    the reproducible mixture primitive (operators/sampling.py:
    stratified_sample), summarized per language."""
    from shuttlestandalonedbcreator_spark.operators import sampling as S

    docs = _t(spark, sf_dir, "documents")
    sampled = S.stratified_sample(
        docs,
        "doc_id",
        "lang",
        fractions={"en": 0.25, "de": 0.75, "fr": 0.75, "es": 0.75, "zh": 1.0},
        default_fraction=0.5,
        seed=11,
    )
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


SQL_STRATIFIED_SAMPLE = """
WITH b AS (
  SELECT lang, n_chars,
         CAST(('0x' || substr(md5(concat('11|', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10000 AS bucket
  FROM documents
), kept AS (
  SELECT lang, n_chars FROM b
  WHERE bucket < CASE lang WHEN 'en' THEN 2500 WHEN 'de' THEN 7500
                           WHEN 'fr' THEN 7500 WHEN 'es' THEN 7500
                           WHEN 'zh' THEN 10000 ELSE 5000 END
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM kept GROUP BY lang
"""


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: every document gets a
    deterministic (shard, chunk_id, offset_in_chunk) for a 2048-token
    budget over 4 hash shards (operators/sampling.py:pack_sequences).
    One shuffle keyed on the shard; shards lay out independently."""
    from shuttlestandalonedbcreator_spark.operators import sampling as S

    docs = _t(spark, sf_dir, "documents")
    with_tokens = docs.select("doc_id", T.token_count(F.col("text")).alias("n_tok"))
    return S.pack_sequences(with_tokens, "doc_id", "n_tok", budget=2048, shards=4, seed=3)


SQL_SEQUENCE_PACKING = """
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(('0x' || substr(md5(concat('3|', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
  FROM documents
), laid AS (
  SELECT doc_id, n_tokens, CAST(h % 4 AS INTEGER) AS shard,
         SUM(n_tokens) OVER (PARTITION BY h % 4 ORDER BY h, doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS strt
  FROM toks
)
SELECT doc_id, shard, n_tokens,
       CAST(strt // 2048 AS BIGINT) AS chunk_id,
       CAST(strt % 2048 AS BIGINT) AS offset_in_chunk
FROM laid
"""


def q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check: near-duplicate pairs (word-3-gram
    Jaccard >= 0.5) whose members land in DIFFERENT hash splits — the
    leakage audit every training pipeline needs before shipping a split.
    The split label is RE-DERIVED from the id (pure hash function), so no
    join against an assignment table: one inverted-index near-dup pass +
    a narrow map."""
    from shuttlestandalonedbcreator_spark.operators.sampling import split_label

    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    splits = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    return (
        pairs.withColumn("split_a", split_label(F.col("id_a"), splits, seed=7))
        .withColumn("split_b", split_label(F.col("id_b"), splits, seed=7))
        .filter(F.col("split_a") != F.col("split_b"))
    )


SQL_SPLIT_CONTAMINATION = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
           ELSE [] END) AS g
  FROM toks
), e AS (
  SELECT doc_id, unnest(g) AS tok FROM grams
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (
  SELECT doc_id, len(g) AS s FROM grams
), pairs AS (
  SELECT id_a, id_b, c * 1.0 / (sa.s + sb.s - c) AS jaccard
  FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
  WHERE c * 1.0 / (sa.s + sb.s - c) >= 0.5
), sp AS (
  SELECT id_a, id_b, jaccard,
         CASE WHEN CAST(('0x' || substr(md5(concat('7|', CAST(id_a AS VARCHAR))), 1, 15)) AS BIGINT) % 10000 < 8000 THEN 'train'
              WHEN CAST(('0x' || substr(md5(concat('7|', CAST(id_a AS VARCHAR))), 1, 15)) AS BIGINT) % 10000 < 9000 THEN 'val'
              ELSE 'test' END AS split_a,
         CASE WHEN CAST(('0x' || substr(md5(concat('7|', CAST(id_b AS VARCHAR))), 1, 15)) AS BIGINT) % 10000 < 8000 THEN 'train'
              WHEN CAST(('0x' || substr(md5(concat('7|', CAST(id_b AS VARCHAR))), 1, 15)) AS BIGINT) % 10000 < 9000 THEN 'val'
              ELSE 'test' END AS split_b
  FROM pairs
)
SELECT id_a, id_b, jaccard, split_a, split_b FROM sp WHERE split_a <> split_b
"""


def q_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by EXACT n-gram overlap (the GPT-3-style
    check, complementing `split_contamination`'s fuzzy-Jaccard audit):
    flag every TRAIN document sharing any word-5-gram with the held-out
    test split, with the count and fraction of contaminated grams.

    Scale shape: the benchmark gram set is the small side by construction
    (the held-out slice) → distinct, joined hint-free (the test split
    scales with the corpus, so AQE decides broadcast vs shuffle); the
    train side streams through a narrow explode + hash probe — the
    100 TB corpus is never re-shuffled wholesale. Split labels are RE-DERIVED from doc_id (pure hash,
    operators/sampling.py:split_label), so no assignment-table join.
    Grams travel as 64-bit xxhash64 keys (word_ngram_hashes: no gram
    strings built, ~3× faster); the oracle counts the same overlaps from
    text grams — equal absent 64-bit collisions."""
    from shuttlestandalonedbcreator_spark.operators.sampling import split_label

    docs = _t(spark, sf_dir, "documents")
    splits = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    labeled = docs.withColumn("split", split_label(F.col("doc_id"), splits, seed=7))
    grams = labeled.select(
        "doc_id",
        "split",
        F.explode(D.word_ngram_hashes(F.col("text"), 5)).alias("gram"),
    )
    bench = grams.filter(F.col("split") == "test").select("gram").distinct()
    hits = (
        grams.filter(F.col("split") == "train")
        .join(bench, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    sizes = labeled.filter(F.col("split") == "train").select(
        "doc_id", F.size(D.word_ngram_hashes(F.col("text"), 5)).cast("long").alias("n_grams")
    )
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        "n_shared_grams",
        "n_grams",
        (F.col("n_shared_grams") * F.lit(1.0) / F.col("n_grams")).alias(
            "shared_frac"
        ),
    )


SQL_BENCHMARK_DECONTAMINATION = """
WITH sp AS (
  SELECT doc_id, text,
         CASE WHEN CAST(('0x' || substr(md5(concat('7|', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10000 < 8000 THEN 'train'
              WHEN CAST(('0x' || substr(md5(concat('7|', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10000 < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), toks AS (
  SELECT doc_id, split,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM sp WHERE split IN ('train', 'test')
), grams AS (
  SELECT doc_id, split,
         list_distinct(CASE WHEN len(w) >= 5
           THEN list_transform(range(1, len(w) - 3),
                               i -> concat(w[i], ' ', w[i+1], ' ', w[i+2], ' ', w[i+3], ' ', w[i+4]))
           ELSE [] END) AS g
  FROM toks
), bench AS (
  SELECT DISTINCT unnest(g) AS gram FROM grams WHERE split = 'test'
), tg AS (
  SELECT doc_id, unnest(g) AS gram FROM grams WHERE split = 'train'
), sz AS (
  SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams FROM grams WHERE split = 'train'
), hits AS (
  SELECT t.doc_id, COUNT(*) AS n_shared_grams
  FROM tg t JOIN bench b ON t.gram = b.gram
  GROUP BY t.doc_id
)
SELECT h.doc_id, h.n_shared_grams, s.n_grams,
       h.n_shared_grams * 1.0 / s.n_grams AS shared_frac
FROM hits h JOIN sz s ON h.doc_id = s.doc_id
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling via PRIORITY SAMPLING (Duffield,
    Lund & Thorup, JACM 2007): priority = weight / u with u a
    deterministic hash-uniform in (0, 1]; keep the top-k priorities.
    Weight here is n_chars — longer documents proportionally likelier.

    Chosen over Efraimidis-Spirakis u^(1/w) because priority needs only
    IEEE divisions (bit-identical across engines — u is an exact
    power-of-two scaling of the 60-bit md5 hash), not `pow`, so the
    oracle comparison is exact. Narrow map + TakeOrderedAndProject:
    no shuffle, top-k merges per-partition heaps on the driver."""
    docs = _t(spark, sf_dir, "documents")
    u = (D.md5_long(F.col("doc_id"), seed=13) + F.lit(1)).cast("double") / F.lit(
        float(2**60)
    )
    priority = F.col("n_chars").cast("double") / u
    return (
        docs.filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.round(priority, 6).alias("priority"),
            priority.alias("_p"),
        )
        .orderBy(F.desc("_p"), "doc_id")
        .limit(500)
        .drop("_p")
    )


SQL_WEIGHTED_SAMPLE = """
WITH k AS (
  SELECT doc_id, lang, source, n_chars,
         n_chars / ((CAST(('0x' || substr(md5(concat('13|', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) + 1)
                    / 1152921504606846976.0) AS p
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, lang, source, n_chars, round(p, 6) AS priority
FROM k ORDER BY p DESC, doc_id LIMIT 500
"""


def q_length_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length-percentile quality gate: compute exact p05/p95
    of n_chars per language, keep documents inside the band — the
    distribution-relative filter (trim truncated fragments + outlier
    boilerplate) that fixed thresholds can't express across languages.

    Two passes over a single scan lineage: a tiny per-language bounds agg
    (5 rows) broadcast back onto the corpus, then one survivors agg.
    At 100 TB the bounds side stays O(languages) — broadcast, no skew."""
    docs = _t(spark, sf_dir, "documents")
    bounds = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.05)").alias("_lo"),
        F.expr("percentile(n_chars, 0.95)").alias("_hi"),
        F.count(F.lit(1)).alias("n_total"),
    )
    kept = (
        docs.join(bounded_broadcast(bounds, "domain"), "lang")
        .filter((F.col("n_chars") >= F.col("_lo")) & (F.col("n_chars") <= F.col("_hi")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )
    return bounds.join(kept, "lang").select(
        "lang",
        F.round(F.col("_lo"), 6).alias("lo_chars"),
        F.round(F.col("_hi"), 6).alias("hi_chars"),
        "n_total",
        "n_kept",
        "kept_chars",
        (F.col("n_kept") * F.lit(1.0) / F.col("n_total")).alias("kept_frac"),
    )


SQL_LENGTH_PERCENTILE_GATE = """
WITH bounds AS (
  SELECT lang, quantile_cont(n_chars, 0.05) AS lo, quantile_cont(n_chars, 0.95) AS hi,
         COUNT(*) AS n_total
  FROM documents GROUP BY lang
), kept AS (
  SELECT d.lang, COUNT(*) AS n_kept, CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
  FROM documents d JOIN bounds b ON d.lang = b.lang
  WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi
  GROUP BY d.lang
)
SELECT b.lang, round(b.lo, 6) AS lo_chars, round(b.hi, 6) AS hi_chars,
       b.n_total, k.n_kept, k.kept_chars,
       k.n_kept * 1.0 / b.n_total AS kept_frac
FROM bounds b JOIN kept k ON b.lang = k.lang
"""


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-curation funnel in ONE aggregation pass:
    cumulative survivor counts for language-ID → quality threshold →
    near-dup removal (drop the higher id of each jaccard>=0.8 pair).
    Flags are computed per row (narrow); the near-dup id set joins
    hint-free (it scales with the corpus' duplicate mass — AQE broadcasts
    it only while genuinely small); the output is one funnel-counter row.

    r10 (guide §2.2): fan_out before the tokenize+score pass — the
    single-split toy parquet serialized it onto one core (isolated A/B:
    0.74 → 0.41 s for the scored branch); no-op at scale. The pair core
    fans out internally."""
    from shuttlestandalonedbcreator_spark.operators.util import fan_out

    docs = _t(spark, sf_dir, "documents")
    with_toks = fan_out(docs).select(
        "doc_id", "text", T.word_tokens(F.col("text")).alias("_toks")
    )
    scored = with_toks.select(
        "doc_id",
        T.quality_score(F.col("text"), F.col("_toks")).alias("_q"),
        T.lang_id(F.col("text"), F.col("_toks")).alias("_lang"),
    )
    dup_ids = (
        D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("_isdup", F.lit(1))
    )
    flagged = scored.join(dup_ids, "doc_id", "left")
    lang_ok = F.col("_lang") != "und"
    quality_ok = lang_ok & (F.col("_q") >= 0.75)
    unique_ok = quality_ok & F.col("_isdup").isNull()
    return flagged.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(lang_ok, 1)).alias("n_lang_ok"),
        F.count(F.when(quality_ok, 1)).alias("n_quality_ok"),
        F.count(F.when(unique_ok, 1)).alias("n_unique"),
    )


SQL_CURATION_FUNNEL = f"""
WITH tq AS ({SQL_TEXT_QUALITY}), dups AS (
  SELECT DISTINCT id_b AS doc_id FROM ({SQL_NGRAM_JACCARD}) j
)
SELECT COUNT(*) AS n_total,
       COUNT(*) FILTER (tq.lang_guess <> 'und') AS n_lang_ok,
       COUNT(*) FILTER (tq.lang_guess <> 'und' AND tq.quality >= 0.75) AS n_quality_ok,
       COUNT(*) FILTER (tq.lang_guess <> 'und' AND tq.quality >= 0.75
                        AND dups.doc_id IS NULL) AS n_unique
FROM tq LEFT JOIN dups ON tq.doc_id = dups.doc_id
"""


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over near-dup pairs (word-3-gram Jaccard >=
    0.5) — the pairs→clusters step that turns pair detection into an
    actionable keep/drop list: one canonical doc (smallest id) per
    duplicate group. Iterative min-label propagation, rounds = cluster
    diameter (tiny for near-dup graphs)."""
    from shuttlestandalonedbcreator_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    comp = connected_components(pairs, "id_a", "id_b")
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).cast("long").alias("keep"),
    )


SQL_NEARDUP_CLUSTERS = """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
           ELSE [] END) AS g
  FROM toks
), e AS (
  SELECT doc_id, unnest(g) AS tok FROM grams
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (
  SELECT doc_id, len(g) AS s FROM grams
), pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
  WHERE c * 1.0 / (sa.s + sb.s - c) >= 0.5
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM pairs
), reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
)
SELECT u AS doc_id, MIN(r) AS cluster_id,
       CAST(u = MIN(r) AS BIGINT) AS keep
FROM reach GROUP BY u
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters, per document: fraction of bigram
    occurrences taken by the most frequent bigram, and fraction of
    redundant trigram occurrences. Both pure per-row maps (shuffle-free
    at any scale) — the boilerplate/looping-text axes of corpus quality
    filtering that length/punctuation scores (text_quality) miss."""
    from shuttlestandalonedbcreator_spark.operators.util import fan_out

    docs = _t(spark, sf_dir, "documents")
    with_toks = fan_out(docs).select(
        "doc_id", D.tokens(F.col("text")).alias("_toks")
    )
    return with_toks.select(
        "doc_id",
        T.top_ngram_frac(F.col("_toks"), n=2).alias("top_bigram_frac"),
        T.dup_ngram_frac(F.col("_toks"), n=3).alias("dup_trigram_frac"),
    )


SQL_TEXT_REPETITION = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
    CASE WHEN len(w) >= 2
      THEN list_transform(range(1, len(w)), i -> concat(w[i], ' ', w[i+1]))
      ELSE [] END AS g2,
    CASE WHEN len(w) >= 3
      THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
      ELSE [] END AS g3
  FROM toks
), top2 AS (
  SELECT doc_id, MAX(cnt) AS maxc FROM (
    SELECT doc_id, tok, COUNT(*) AS cnt
    FROM (SELECT doc_id, unnest(g2) AS tok FROM grams) GROUP BY doc_id, tok
  ) GROUP BY doc_id
)
SELECT g.doc_id,
  CASE WHEN len(g2) > 0
    THEN CAST(t.maxc AS DOUBLE) / CAST(len(g2) AS DOUBLE)
    ELSE 0.0 END AS top_bigram_frac,
  CASE WHEN len(g3) > 0
    THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE)
    ELSE 0.0 END AS dup_trigram_frac
FROM grams g LEFT JOIN top2 t ON g.doc_id = t.doc_id
"""


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: a new batch (doc_id % 5 == 0) against a
    minhash signature index of the existing corpus (the rest). At scale
    the index is persisted once, partitioned by band; here it is built
    inline. Oracle-checked: signatures are per-doc deterministic, so the
    oracle is the SQL_MINHASH_LSH banding chain with the candidate join
    restricted to new×corpus pairs; equivalence to a full recompute is
    additionally pinned by
    tests/test_scale_ops.py::test_incremental_neardup_matches_full_recompute."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    index = D.minhash_index(corpus, "doc_id", "text")
    return D.incremental_neardup_pairs(batch, index, "doc_id", "text")


SQL_INCREMENTAL_NEARDUP = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
           ELSE [] END) AS g
  FROM toks
), e AS (
  SELECT doc_id, unnest(g) AS tok FROM grams
), hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 1000000007 AS h1,
         CAST(('0x' || substr(md5(tok), 16, 15)) AS BIGINT) % 1000000007 AS h2
  FROM e
), mh AS (
  SELECT doc_id, seed, MIN((h1 + seed * h2) % 1000000007) AS v
  FROM hashed CROSS JOIN (SELECT unnest(range(0, 32)) AS seed)
  GROUP BY doc_id, seed
), sig AS (
  SELECT doc_id, list(v ORDER BY seed) AS s FROM mh GROUP BY doc_id
), bands AS (
  SELECT doc_id, b,
         md5(array_to_string(list_transform(s[b*4+1 : b*4+4], x -> CAST(x AS VARCHAR)), ',')) AS bucket
  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b)
), cand AS (
  SELECT DISTINCT a.doc_id AS new_id, b2.doc_id AS match_id
  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.bucket = b2.bucket
  WHERE a.doc_id % 5 = 0 AND b2.doc_id % 5 <> 0
)
SELECT new_id, match_id,
       round(len(list_filter(range(1, 33), i -> sa.s[i] = sb.s[i])) / 32.0, 6) AS est_jaccard
FROM cand JOIN sig sa ON new_id = sa.doc_id JOIN sig sb ON match_id = sb.doc_id
WHERE len(list_filter(range(1, 33), i -> sa.s[i] = sb.s[i])) / 32.0 >= 0.5
"""


def q_json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction (SURVEY §2.8 F11 — absent in the reference,
    provided as extension surface): pull a typed field out of a JSON
    string column and aggregate it. `get_json_object` stays JVM-side
    (Jackson path eval inside codegen); the agg is one shuffle with
    map-side partials."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("_k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_k").alias("sum_k"),
            F.min("_k").alias("min_k"),
            F.max("_k").alias("max_k"),
            (F.sum("_k").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "avg_k"
            ),
        )
    )


SQL_JSON_EXTRACT_AGG = """
WITH x AS (
  SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k, MAX(k) AS max_k,
       CAST(CAST(SUM(k) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_k
FROM x GROUP BY event_type
"""


def q_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled time-grid rollup (hypertable-rollup family): hourly
    aggregates per event_type joined onto a dense generated time spine so
    silent hours surface as explicit zero rows. Both join sides are tiny
    however large the fact table gets — the spine (hours × types) is
    generated with `sequence`+`explode` from a single min/max agg, and
    the fact side is aggregated BEFORE the join, so the left join
    broadcasts its build side."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = (
        bounds.select(
            F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour")
        )
        .crossJoin(ev.select("event_type").distinct())
    )
    return (
        spine.join(hourly, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
    )


SQL_GAPFILL_HOURLY = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi FROM events
), spine AS (
  SELECT t.event_type, g.hour
  FROM (SELECT DISTINCT event_type FROM events) t,
       (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds) g
)
SELECT s.event_type, s.hour, COALESCE(h.n_events, 0) AS n_events,
       COALESCE(h.total_value, 0.0) AS total_value
FROM spine s LEFT JOIN hourly h ON s.event_type = h.event_type AND s.hour = h.hour
"""


def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (`percentile`, not the
    approx sketch — `approx_aggregates` covers that). Exact quantiles
    sort within the aggregation buffer: memory O(group size) — right for
    bounded groups; use percentile_approx when groups are unbounded."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
    )


SQL_EXACT_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95
FROM events GROUP BY event_type
"""


def q_below_avg_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — fact rows below a per-key aggregate of the same
    fact table (correlated-subquery semantics, decorrelated into a join):
    revenue of lineitems with quantity under 50% of their part's average.
    The per-part averages reuse the join's hash key; the threshold uses
    exact decimal sums so both engines compute the identical cutoff."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    qty_scaled = (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("long")
    per_part = li.groupBy("l_partkey").agg(
        (F.sum(qty_scaled).cast("double") / (F.count(F.lit(1)) * 100).cast("double")).alias("_avg")
    )
    return (
        li.join(per_part, "l_partkey")
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("_avg"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _exact_sum(F.col("l_extendedprice"), 2).alias("total_price"),
        )
    )


SQL_BELOW_AVG_QTY = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS DOUBLE)
           / CAST(COUNT(*) * 100 AS DOUBLE) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT COUNT(*) AS n_items,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 AS total_price
FROM lineitem l JOIN per_part p ON l.l_partkey = p.l_partkey
WHERE l.l_quantity < 0.5 * p.avg_qty
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document: corpus document frequency (one
    agg over the exploded token set), smoothed idf = ln((N+1)/(df+1))+1,
    per-doc top-k by a ranking window. Plan shape: the token explode is
    aggregated to (doc, token, tf) with map-side partials before anything
    joins; df is a second agg over distinct (doc, token) rows — both keyed
    on the token, so AQE reuses the exchange; the final window shuffles on
    doc_id. N (corpus size) rides along as a broadcast 1-row aggregate
    crossJoin (the `vocab_build` pattern) instead of a driver-side
    `.count()` — one plan, no extra job per invocation. Deterministic
    ties: (score desc, token asc)."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    # r10: fan_out and a tf localCheckpoint were both A/B-measured SLOWER
    # here (two consumer branches re-run the fan_out exchange; the
    # materialization exceeds the re-run) — left in the original shape
    toks = docs.select(
        F.col("doc_id"), F.explode(D.tokens(F.col("text"))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_, "token").crossJoin(bounded_broadcast(n_docs, "one_row")).withColumn(
        "score",
        F.round(
            F.col("tf").cast("double")
            * (
                F.log((F.col("_n_docs") + 1.0) / (F.col("df").cast("double") + 1.0))
                + 1.0
            ),
            6,
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "score", F.col("rk").cast("int").alias("rk"))
    )


SQL_TFIDF_TOP_TERMS = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT t.doc_id, t.token,
         round(CAST(t.tf AS DOUBLE) * (ln((CAST(n.n_docs AS DOUBLE) + 1.0) / (CAST(d.df AS DOUBLE) + 1.0)) + 1.0), 6) AS score
  FROM tf t JOIN df d ON t.token = d.token CROSS JOIN n
)
SELECT doc_id, token, score, CAST(rk AS INTEGER) AS rk FROM (
  SELECT doc_id, token, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rk
  FROM scored
) WHERE rk <= 3
"""


SQL_ADHOC = """
SELECT n_name AS nation,
       COUNT(DISTINCT c_custkey) AS n_customers,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
FROM customer
JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY n_name
"""


def q_sql_adhoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's real query path (SURVEY §3.2): ad-hoc SQL text over
    registered views — the IDENTICAL string runs on Spark and the oracle,
    demonstrating the engine's SQL surface is dialect-compatible."""
    for name in ("customer", "nation", "orders"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(SQL_ADHOC)


def q_semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 extension (TPC-H Q4 shape): EXISTS decorrelated to a left-semi
    join. The semi join shuffles only the join key of the filtered probe
    side (no payload columns cross the exchange) and short-circuits per
    key — at 100 TB this is the cheapest possible existence check."""
    orders = _t(spark, sf_dir, "orders")
    hit = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_discount") > 0.05)
        .select("l_orderkey")
    )
    return (
        orders.join(hit, orders["o_orderkey"] == hit["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


SQL_SEMI_JOIN_EXISTS = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
GROUP BY 1
"""


def q_anti_join_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 extension (TPC-H Q22 shape): NOT EXISTS as a left-anti join —
    the same plan family J1 uses to find transfer rows whose
    parent_folder resolves to no id (SQLiteDirectImporter.java:826-836
    leaves parent_id NULL). Probe side filtered BEFORE the join so the
    anti join's build input is minimal. Exact-decimal sum, cast out."""
    cust = _t(spark, sf_dir, "customer")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_custkey")
    )
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_acctbal"),
        )
    )


SQL_ANTI_JOIN_ORPHANS = """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
GROUP BY 1
"""


def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 extension: CUBE over two dimensions with GROUPING() markers —
    the markers disambiguate subtotal rows from genuine NULL group keys
    (the `''` vs NULL asymmetry of §1.2 makes this distinction load-
    bearing). One Expand + one hash aggregate; no extra shuffles."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("record_count"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        )
    )


SQL_CUBE_COUNTS = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS record_count,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_histogram_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 extension: fixed-width histogram (width_bucket family) — one
    narrow projection + one hash aggregate on a derived key; the bucket
    count is bounded so the reduce side is tiny at any scale. min/max
    are exact data values (no accumulation-order sensitivity)."""
    li = _t(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / F.lit(5000.0)).cast("long")
    return li.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


SQL_HISTOGRAM_PRICE = """
SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
       COUNT(*) AS n_items,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price
FROM lineitem GROUP BY 1
"""


_PROFILE_NUM_COLS = ("o_orderkey", "o_custkey", "o_totalprice")
_PROFILE_STR_COLS = ("o_orderstatus", "o_orderpriority")
_PROFILE_TS_COLS = ("o_orderdate",)


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling operator (inspection family, S10 writ large): per-
    column row/null/distinct counts plus typed min/max, then unpivoted
    driver-free via explode of a 6-element struct array on the singleton
    aggregate row. Two passes by design: the distinct counts ride the
    Expand pass with only fixed-width (hash-aggregable) buffers, while
    string min/max — whose var-width buffers would force a SortAggregate
    over the x7-expanded rows — run in a second scan pruned to just the
    two string columns (measured 3x faster than one combined pass).
    Timestamp min/max stay NULL (session-timezone-free by design)."""
    orders = _t(spark, sf_dir, "orders")
    all_cols = _PROFILE_NUM_COLS + _PROFILE_STR_COLS + _PROFILE_TS_COLS
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in all_cols:
        aggs.append(F.count(F.col(c)).alias(f"{c}__nn"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__nd"))
    for c in _PROFILE_NUM_COLS:
        aggs.append(F.min(F.col(c)).cast("double").alias(f"{c}__min"))
        aggs.append(F.max(F.col(c)).cast("double").alias(f"{c}__max"))
    str_aggs = []
    for c in _PROFILE_STR_COLS:
        str_aggs.append(F.min(F.col(c)).alias(f"{c}__min"))
        str_aggs.append(F.max(F.col(c)).alias(f"{c}__max"))
    # r11 adjudication (guide §1.1 measure-first): the distinct-count
    # Expand pass is 86 % of the entry and runs in the toy parquet's
    # single scan task, so a fan_out was A/B'd — NOT robust: −18 % in
    # one interleaved sample (1.089→0.896 s), +5 % in another
    # (0.960→1.012 s min-of-6 interleaved) — the round-robin exchange of
    # the full table offsets the parallel partial agg. Reverted; at real
    # scale the scan splits naturally and the Expand partial-aggregates
    # map-side, so the original shape is already the scalable one.
    row = orders.agg(*aggs).crossJoin(orders.agg(*str_aggs))

    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    entries = []
    for c in all_cols:
        if c in _PROFILE_NUM_COLS:
            mn, mx, ms, xs = F.col(f"{c}__min"), F.col(f"{c}__max"), null_s, null_s
        elif c in _PROFILE_STR_COLS:
            mn, mx, ms, xs = null_d, null_d, F.col(f"{c}__min"), F.col(f"{c}__max")
        else:
            mn, mx, ms, xs = null_d, null_d, null_s, null_s
        entries.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(f"{c}__nn")).alias("n_nulls"),
                F.col(f"{c}__nd").alias("n_distinct"),
                mn.alias("min_num"),
                mx.alias("max_num"),
                ms.alias("min_str"),
                xs.alias("max_str"),
            )
        )
    return row.select(F.explode(F.array(*entries)).alias("p")).select("p.*")


def _profile_oracle_block(c: str) -> str:
    if c in _PROFILE_NUM_COLS:
        mn = f"CAST(MIN({c}) AS DOUBLE)", f"CAST(MAX({c}) AS DOUBLE)"
        ms = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
    elif c in _PROFILE_STR_COLS:
        mn = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
        ms = f"MIN({c})", f"MAX({c})"
    else:
        mn = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
        ms = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
    return (
        f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows,"
        f" COUNT(*) - COUNT({c}) AS n_nulls, COUNT(DISTINCT {c}) AS n_distinct,"
        f" {mn[0]} AS min_num, {mn[1]} AS max_num,"
        f" {ms[0]} AS min_str, {ms[1]} AS max_str FROM orders"
    )


SQL_COLUMN_PROFILE = "\nUNION ALL\n".join(
    _profile_oracle_block(c)
    for c in _PROFILE_NUM_COLS + _PROFILE_STR_COLS + _PROFILE_TS_COLS
)


def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline op: build a top-N vocabulary with stable ids and
    corpus-coverage stats. The token count is a partial+final hash agg;
    the top-N cut is TakeOrderedAndProject (never a global sort of the
    full vocabulary); only the N surviving rows pass through the global
    window for id assignment + running coverage — bounded work no matter
    the corpus size. Ties broken lexicographically for determinism."""
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(D.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    # corpus total = sum of per-doc token counts: a narrow, shuffle-free
    # second scan — NOT a recompute of the token-count exchange
    total = docs.agg(
        F.sum(F.size(D.tokens(F.col("text")))).cast("double").alias("_total")
    )
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(100)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return (
        top.crossJoin(bounded_broadcast(total, "one_row"))
        .withColumn("token_id", F.row_number().over(w).cast("int"))
        .withColumn(
            "cum_coverage",
            F.sum("n_occurrences").over(w).cast("double") / F.col("_total"),
        )
        .select("token", "n_occurrences", "token_id", "cum_coverage")
    )


SQL_VOCAB_BUILD = """
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
  FROM documents
), counts AS (
  SELECT token, COUNT(*) AS n_occurrences FROM toks GROUP BY token
), total AS (
  SELECT CAST(SUM(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS DOUBLE) AS _total
  FROM documents
), top AS (
  SELECT token, n_occurrences FROM counts
  ORDER BY n_occurrences DESC, token LIMIT 100
)
SELECT token, n_occurrences,
       CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token) AS INTEGER) AS token_id,
       CAST(SUM(n_occurrences) OVER (ORDER BY n_occurrences DESC, token
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE) / _total AS cum_coverage
FROM top CROSS JOIN total
"""


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection: per-group z-score outliers. Group moments come
    from EXACT decimal sums (sum and sum-of-squares are order-free), so
    mean/stddev are bit-identical across engines; the per-row z uses one
    shared double expression tree. The tiny per-type moment table joins
    back by broadcast — the fact table is scanned once, never shuffled."""
    ev = _t(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    stats = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("_n"),
            F.sum(v).cast("double").alias("_s"),
            F.sum(v * v).cast("double").alias("_ss"),
        )
        .withColumn("_mu", F.col("_s") / F.col("_n"))
        .withColumn(
            "_sigma",
            F.sqrt(F.col("_ss") / F.col("_n") - F.col("_mu") * F.col("_mu")),
        )
    )
    joined = ev.join(bounded_broadcast(stats, "domain"), "event_type")
    z = F.round((F.col("value") - F.col("_mu")) / F.col("_sigma"), 6)
    return (
        joined.withColumn("zscore", z)
        .filter((F.col("_sigma") > 0) & (F.abs(F.col("zscore")) > 3.0))
        .select("event_id", "event_type", "value", "zscore")
    )


SQL_ZSCORE_OUTLIERS = """
WITH stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS _n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS _s,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS _ss
  FROM events GROUP BY event_type
), mom AS (
  SELECT event_type, _s / _n AS _mu,
         sqrt(_ss / _n - (_s / _n) * (_s / _n)) AS _sigma
  FROM stats
)
SELECT e.event_id, e.event_type, e.value,
       round((e.value - m._mu) / m._sigma, 6) AS zscore
FROM events e JOIN mom m USING (event_type)
WHERE m._sigma > 0 AND abs(round((e.value - m._mu) / m._sigma, 6)) > 3.0
"""


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline op: deterministic text normalization (lowercase,
    strip non-alphanumerics, collapse runs of spaces, trim) + a canonical
    md5 fingerprint of the normalized form — the step that runs BEFORE
    exact dedup so near-identical formatting collapses to one key. Pure
    narrow projection: no shuffle, whole-stage codegen end-to-end."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        "source",
        F.md5(norm).alias("fingerprint"),
        F.length(norm).cast("long").alias("n_norm_chars"),
    )


SQL_NORMALIZE_TEXT = """
SELECT doc_id, source,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g'))) AS fingerprint,
       CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                       ' +', ' ', 'g'))) AS BIGINT) AS n_norm_chars
FROM documents
"""


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-analytics funnel: per user, first signup → first purchase
    strictly after it; stage counts + conversion rate. One shuffle on
    user_id produces the per-user stage timestamps (conditional min
    aggregates — no self-join of the event stream), then a tiny global
    rollup. Rate = int/int division in double, rounded."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    converted = (F.col("first_signup").isNotNull()) & (
        F.col("first_purchase") > F.col("first_signup")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(F.col("first_signup").isNotNull(), 1)).alias("n_signed_up"),
        F.count(F.when(converted, 1)).alias("n_converted"),
        (
            F.count(F.when(converted, 1)).cast("double")
            / F.count(F.when(F.col("first_signup").isNotNull(), 1)).cast("double")
        ).alias("conversion_rate"),
    )


SQL_FUNNEL_CONVERSION = """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(CASE WHEN first_signup IS NOT NULL THEN 1 END) AS n_signed_up,
       COUNT(CASE WHEN first_signup IS NOT NULL AND first_purchase > first_signup THEN 1 END) AS n_converted,
       CAST(COUNT(CASE WHEN first_signup IS NOT NULL AND first_purchase > first_signup THEN 1 END) AS DOUBLE)
             / CAST(COUNT(CASE WHEN first_signup IS NOT NULL THEN 1 END) AS DOUBLE) AS conversion_rate
FROM per_user
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-analytics retention matrix: users cohorted by first-seen
    week × activity in each subsequent week. Two keyed aggregations
    (user first-seen, then distinct user-week activity) meet on a
    hint-free join of the cohort map — the cohort side is |users|, which
    GROWS with the data, so no explicit broadcast (AQE picks the strategy
    by measured size), and the week offset is pure
    integer date arithmetic (timezone-free)."""
    ev = _t(spark, sf_dir, "events")
    wk = lambda c: F.date_trunc("week", c)  # noqa: E731
    first_seen = ev.groupBy("user_id").agg(wk(F.min("ts")).alias("cohort_week"))
    active = ev.select("user_id", wk(F.col("ts")).alias("active_week")).distinct()
    return (
        active.join(first_seen, "user_id")
        .withColumn(
            "week_offset",
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7).cast("int"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


SQL_RETENTION_COHORTS = """
WITH first_seen AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS INTEGER) AS week_offset,
       COUNT(*) AS n_active_users
FROM active a JOIN first_seen f USING (user_id)
GROUP BY 1, 2
"""


def q_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable family: gap-filled hourly grid with last-observation-
    carried-forward — missing hours inherit the latest preceding real
    value per series. The spine/rollup join is the bounded gapfill plan;
    the LOCF pass is one window per series ordered by the grid (state =
    one value per partition). Hours before a series' first sample stay
    NULL by definition."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("hour_value"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour")
    ).crossJoin(ev.select("event_type").distinct())
    grid = spine.join(hourly, ["event_type", "hour"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.select(
        "event_type",
        "hour",
        (F.col("hour_value").isNotNull()).alias("is_observed"),
        F.round(F.last("hour_value", ignorenulls=True).over(w), 6).alias("filled_value"),
    )


SQL_GAPFILL_LOCF = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS hour_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi FROM events
), spine AS (
  SELECT t.hour, e.event_type
  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds) t
  CROSS JOIN (SELECT DISTINCT event_type FROM events) e
), grid AS (
  SELECT s.event_type, s.hour, h.hour_value
  FROM spine s LEFT JOIN hourly h USING (event_type, hour)
)
SELECT event_type, hour,
       hour_value IS NOT NULL AS is_observed,
       round(last_value(hour_value IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS filled_value
FROM grid
"""


def q_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join — revenue per nation from lineitems
    where the supplier and customer share a nation, for one region and
    one order-year. The two big tables (lineitem ⋈ orders) meet on
    their natural key; region/nation are explicitly broadcast (closed
    25/5-row domains); customer and supplier join hint-free on pruned key
    columns only (they scale with SF — AQE sizes the strategy). Date + region predicates
    push to the scans. Exact decimal revenue, cast on output."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(bounded_broadcast(nation, "domain"), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(bounded_broadcast(region, "domain"), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


SQL_LOCAL_SUPPLIER_REVENUE = """
SELECT n_name AS nation,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND r_name = 'ASIA'
GROUP BY 1
"""


def q_pandas_udaf_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 UDF surface: a user-defined GROUPED_AGG pandas UDAF —
    linenumber-weighted mean quantity per return flag. Arrow ships each
    group's columns as one batch; the UDAF works in scaled int64 (cents
    × weight), so its sums are order-free exact and the result is
    bit-stable however Spark orders rows within the group. This is the
    extension path for aggregations Catalyst lacks; everything
    expressible with built-ins should stay JVM-side instead."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG form: under `from __future__ import annotations`
    # type hints stringify and can't declare the eval type
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def weighted_mean_qty(qty, weight):
        cents = (qty * 100).round().astype("int64")
        w = weight.astype("int64")
        return round(float((cents * w).sum()) / 100.0 / float(w.sum()), 6)

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            weighted_mean_qty(F.col("l_quantity"), F.col("l_linenumber")).alias(
                "weighted_mean_qty"
            )
        )
    )


SQL_PANDAS_UDAF_WEIGHTED = """
SELECT l_returnflag,
       round(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) * l_linenumber) AS DOUBLE)
             / 100.0 / CAST(SUM(l_linenumber) AS DOUBLE), 6) AS weighted_mean_qty
FROM lineitem GROUP BY 1
"""


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (64-token windows, stride 48) —
    the context-window preparation step for embedding/retrieval pipelines
    (operators/sampling.py:chunk_tokens). Entirely per-row narrow compute:
    no shuffle at any corpus size; each chunk is identified by a portable
    md5 fingerprint so downstream chunk-level dedup needs no text."""
    from shuttlestandalonedbcreator_spark.operators.sampling import chunk_tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", T.word_tokens(F.col("text")).alias("_w"))
    chunks = chunk_tokens(toks, "doc_id", "_w", size=64, stride=48)
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size("chunk").cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", F.col("chunk"))).alias("chunk_hash"),
    )


SQL_DOC_CHUNKING = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS w
  FROM documents
), nz AS (
  SELECT doc_id, w, (greatest(len(w) - 64, 0) + 47) // 48 AS last_idx
  FROM toks WHERE len(w) > 0
), ch AS (
  SELECT doc_id, unnest(range(0, last_idx + 1)) AS i, w FROM nz
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_idx,
       CAST(len(list_slice(w, i * 48 + 1, i * 48 + 64)) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(list_slice(w, i * 48 + 1, i * 48 + 64), ' ')) AS chunk_hash
FROM ch
"""


def q_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group canonical-document pick via argmax (`max_by` /
    `arg_max`): for each (lang, source) keep the id of the longest
    document, deterministic tiebreak on id — the keep-best rule used when
    collapsing exact-duplicate URL/content groups. One hash aggregate;
    no window, no self-join. The ranking key is a struct so the
    (n_chars, doc_id) lexicographic order holds for ANY doc_id — an
    integer encode like n_chars*K + doc_id breaks (wrong order and rank
    collisions) the moment doc_id >= K, which a 100 TB corpus reaches;
    the DuckDB oracle uses the equivalent exact HUGEINT encode
    n_chars * 2^63 + doc_id (doc_id is int64, so always < 2^63)."""
    docs = _t(spark, sf_dir, "documents")
    rank = F.struct(F.col("n_chars"), F.col("doc_id"))
    return docs.groupBy("lang", "source").agg(
        F.max_by(F.col("doc_id"), rank).alias("best_doc_id"),
        F.max("n_chars").alias("max_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


SQL_CANONICAL_PICK = """
SELECT lang, source,
       arg_max(doc_id, n_chars::HUGEINT * 9223372036854775808 + doc_id) AS best_doc_id,
       MAX(n_chars) AS max_chars,
       COUNT(*) AS n_docs
FROM documents GROUP BY lang, source
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filters on both sides of a
    3-way join, then top-10 unshipped orders by revenue. lineitem is
    pre-aggregated per order key BEFORE joining (the exchange is reused
    by the join), customer joins hint-free (SF-scaled side; AQE decides),
    and the final top-k plans as
    TakeOrderedAndProject — no global sort materializes."""
    cutoff = F.lit("1995-03-15").cast("timestamp")
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev_scaled = (rev.cast("decimal(18,6)") * 1_000_000).cast("long")
    per_order = li.groupBy("l_orderkey").agg(F.sum(rev_scaled).alias("_rev"))
    return (
        per_order.join(o, per_order["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "l_orderkey",
            (F.col("_rev") / F.lit(1e6)).alias("revenue"),
            "o_orderdate",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


SQL_SHIPPING_PRIORITY = """
SELECT l_orderkey,
       CAST(SUM(CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) / 1000000.0 AS revenue,
       o_orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


SQL_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 extension: explicit GROUPING SETS (two-level subtotals + grand
    total) with GROUPING() null-vs-subtotal markers — the general form of
    rollup/cube. The IDENTICAL SQL string runs on both engines (dialect
    compatibility, like sql_adhoc); Catalyst expands it into a single
    Expand + one hash aggregate — one shuffle for all three sets."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(SQL_GROUPING_SETS)


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + per-vector cosine-to-own-centroid — the
    cluster-quality / outlier-scoring pass over an embedding corpus
    (operators/similarity.py:label_centroids). The centroid table is
    labels×dims — tiny at any corpus size — so it broadcasts back and the
    scoring pass is a narrow map; total cost is one posexplode aggregate
    over the corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = V.label_centroids(emb, "label", "embedding")
    return (
        emb.join(bounded_broadcast(cents, "query_set"), "label")
        .select(
            "vec_id",
            "label",
            F.round(
                V.dot(F.col("embedding"), F.col("centroid"))
                / (V.norm(F.col("embedding")) * V.norm(F.col("centroid"))),
                6,
            ).alias("cos_centroid"),
        )
    )


SQL_EMBEDDING_CENTROIDS = """
WITH e AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) AS d,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings
), c AS (
  SELECT label, d, SUM(x) / COUNT(*) AS cx FROM e GROUP BY label, d
), j AS (
  SELECT e.vec_id, e.label,
         SUM(e.x * c.cx) AS dotp,
         SUM(e.x * e.x) AS nv,
         SUM(c.cx * c.cx) AS nc
  FROM e JOIN c ON e.label = c.label AND e.d = c.d
  GROUP BY e.vec_id, e.label
)
SELECT vec_id, label, ROUND(dotp / (sqrt(nv) * sqrt(nc)), 6) AS cos_centroid
FROM j
"""


def q_edit_distance_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level fuzzy dedup: Levenshtein-verified near-duplicate
    pairs. Edit distance is quadratic per pair, so it NEVER runs on a
    blocked self-join at scale — candidates come from minhash-LSH banding
    (output-bounded; the same portable hash family the oracle replays)
    and Levenshtein only VERIFIES that small pair set. The candidate
    list scales with the corpus' duplicate mass, so both text joins are
    hint-free — AQE broadcasts it while small, shuffles when it is not."""
    docs = _t(spark, sf_dir, "documents")
    cand = D.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.0
    ).select("id_a", "id_b")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("_ta"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("_tb"))
    j = a.join(cand, "id_a").join(b, "id_b")
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"))
    ratio = 1 - dist / F.greatest(F.length("_ta"), F.length("_tb"))
    return (
        j.select(
            "id_a",
            "id_b",
            dist.cast("long").alias("edit_distance"),
            ratio.alias("sim_ratio"),
        )
        .filter(F.col("sim_ratio") >= 0.4)
    )


# candidate generation is the SQL_MINHASH_LSH CTE chain (same md5-derived
# hash family), with the est-jaccard gate dropped (threshold 0) and a
# Levenshtein verification stage on top
SQL_EDIT_DISTANCE_NEARDUP = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
           ELSE [] END) AS g
  FROM toks
), e AS (
  SELECT doc_id, unnest(g) AS tok FROM grams
), hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 1000000007 AS h1,
         CAST(('0x' || substr(md5(tok), 16, 15)) AS BIGINT) % 1000000007 AS h2
  FROM e
), mh AS (
  SELECT doc_id, seed, MIN((h1 + seed * h2) % 1000000007) AS v
  FROM hashed CROSS JOIN (SELECT unnest(range(0, 32)) AS seed)
  GROUP BY doc_id, seed
), sig AS (
  SELECT doc_id, list(v ORDER BY seed) AS s FROM mh GROUP BY doc_id
), bands AS (
  SELECT doc_id, b,
         md5(array_to_string(list_transform(s[b*4+1 : b*4+4], x -> CAST(x AS VARCHAR)), ',')) AS bucket
  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
)
SELECT id_a, id_b,
       CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance,
       1 - levenshtein(da.text, db.text) / greatest(len(da.text), len(db.text)) AS sim_ratio
FROM cand
JOIN documents da ON id_a = da.doc_id
JOIN documents db ON id_b = db.doc_id
WHERE 1 - levenshtein(da.text, db.text) / greatest(len(da.text), len(db.text)) >= 0.4
"""


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): HAVING-filtered aggregate
    subquery joined back to its dimensions. Spark-first restatement: the
    per-order quantity sum is computed ONCE and filtered (no IN-subquery
    re-scan of lineitem); orders join reuses the same order-key exchange;
    customer joins hint-free (SF-scaled — AQE decides); top-100 plans as
    TakeOrderedAndProject."""
    qty_sum = F.sum(F.col("l_quantity").cast("decimal(18,2)"))
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(qty_sum.alias("_q"))
        .filter(F.col("_q") > 300)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            (F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
            F.col("_q").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("total_price"), F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(100)
    )


SQL_LARGE_ORDERS = """
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
       CAST(q AS DOUBLE) AS sum_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_price DESC, o_orderdate, o_orderkey
LIMIT 100
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (table diff): FULL OUTER join two corpus
    versions on the key and classify every row added / removed / changed /
    unchanged — the validation gate run between pipeline re-builds before
    promoting a new corpus. The 'new' snapshot is derived deterministically
    from the base table by a portable hash (10% removed, 20% rewritten,
    10% cloned under new ids), so both engines diff identical inputs.
    One shuffle keyed on the id; classification is a narrow projection;
    output is the 4-row summary.

    r11 (guide §6/§2.4, VERDICT r10 #6): ONE corpus scan instead of
    three. The old side and both derived-snapshot branches (surviving,
    added) are emitted from a single pass as (k, _old, _new) HALF-ROWS
    via a conditional explode — 1 struct for a removed key, 2 for a
    surviving key, 3 when the row also spawns a clone — and the
    full-outer join on k becomes the groupBy(k) that merges the halves
    (each side contributes at most one non-null per key, doc_id being
    unique and clone keys offset by 2^40, so max() IS the join). Same
    statuses, same counts — oracle-proven; at 100 TB this saves two of
    three full corpus scans and one of two corpus-wide exchanges."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    h = D.md5_long(F.col("doc_id"), seed=11) % 10
    surv_text = (
        F.when(h <= 2, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
    )
    _null_s = F.lit(None).cast("string")
    old_half = F.struct(
        F.col("doc_id").alias("k"),
        F.col("text").alias("_old"), _null_s.alias("_new"),
    )
    new_half = F.struct(
        F.col("doc_id").alias("k"),
        _null_s.alias("_old"), surv_text.alias("_new"),
    )
    add_half = F.struct(
        (F.col("doc_id") + F.lit(1 << 40)).alias("k"),
        _null_s.alias("_old"), F.col("text").alias("_new"),
    )
    n_emit = F.when(h == 0, F.lit(1)).when(h == 9, F.lit(3)).otherwise(F.lit(2))
    halves = docs.select(
        F.explode(
            F.slice(F.array(old_half, new_half, add_half), F.lit(1), n_emit)
        ).alias("r")
    ).select("r.*")
    status = (
        F.when(F.col("_old").isNull(), F.lit("added"))
        .when(F.col("_new").isNull(), F.lit("removed"))
        .when(F.col("_old") != F.col("_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        halves.groupBy("k")
        .agg(F.max("_old").alias("_old"), F.max("_new").alias("_new"))
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


SQL_SNAPSHOT_DIFF = """
WITH base AS (
  SELECT doc_id, text,
         CAST(('0x' || substr(md5(concat('11|', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10 AS h
  FROM documents
), new AS (
  SELECT doc_id, CASE WHEN h <= 2 THEN concat(text, ' v2') ELSE text END AS text
  FROM base WHERE h <> 0
  UNION ALL
  SELECT doc_id + 1099511627776 AS doc_id, text FROM base WHERE h = 9
), d AS (
  SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.text <> n.text THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM base o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT status, COUNT(*) AS n_rows FROM d GROUP BY status
"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing (α = 0.5): per-source expected
    picks ∝ √count scaled to a 2000-row budget — keep rate ∝ 1/√count,
    so small sources are upsampled relative to proportional — then
    a deterministic hash-threshold selection pass
    (operators/sampling.py:mixture_rates). Rate math is all-integer, so
    both engines derive bit-identical thresholds; the corpus is scanned
    twice (counts, then selection) but shuffled never — only the tiny
    source table moves."""
    from shuttlestandalonedbcreator_spark.operators.sampling import (
        hash_bucket,
        mixture_rates,
    )

    docs = _t(spark, sf_dir, "documents")
    rates = mixture_rates(docs, "source", budget_rows=2000)
    picked = (
        docs.join(
            bounded_broadcast(rates, "domain"), docs["source"] == rates["stratum"]
        )
        .filter(hash_bucket(F.col("doc_id"), seed=21) < F.col("_thresh"))
        .groupBy("stratum")
        .agg(F.count(F.lit(1)).alias("n_selected"))
    )
    return (
        rates.join(picked, "stratum", "left")
        .select(
            F.col("stratum").alias("source"),
            F.col("n_rows").alias("n_docs"),
            F.round(F.col("_thresh") / 10000.0, 4).alias("rate"),
            F.coalesce(F.col("n_selected"), F.lit(0)).alias("n_selected"),
        )
    )


SQL_MIXTURE_SAMPLE = """
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), w AS (
  SELECT source, n_docs, CAST(floor(sqrt(n_docs) * 1000) AS BIGINT) AS wv FROM counts
), d AS (
  SELECT CAST(SUM(wv) AS BIGINT) AS s FROM w
), r AS (
  SELECT source, n_docs, least(10000, (20000000000000 // wv) // s) AS thresh FROM w, d
), sel AS (
  SELECT doc.source, COUNT(*) AS n_selected
  FROM documents doc JOIN r ON doc.source = r.source
  WHERE CAST(('0x' || substr(md5(concat('21|', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10000 < r.thresh
  GROUP BY doc.source
)
SELECT r.source, r.n_docs,
       round(thresh / 10000.0, 4) AS rate,
       COALESCE(n_selected, 0) AS n_selected
FROM r LEFT JOIN sel ON r.source = sel.source
"""


def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: double-correlated EXISTS / NOT EXISTS ("the only
    supplier that shipped late on a multi-supplier order"), decorrelated
    into aggregates — the textbook rewrite that replaces two correlated
    re-scans of the fact table with ONE (order, supplier)-level dedup
    aggregate; the per-order supplier/late counts ride a WINDOW over
    that aggregate instead of a second aggregate+join-back (Spark has no
    CTE materialization, so the aggregate-twice form scanned lineitem
    twice — the window form is one fact scan, one agg exchange, one
    window exchange). The supplier join is hint-free (supplier scales
    with SF); top-20 plans as TakeOrderedAndProject."""
    late = (F.col("l_shipdate") > F.lit("1995-06-01").cast("timestamp")).cast("int")
    lvl1 = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("_late"))
    )
    wo = Window.partitionBy("l_orderkey")
    stats = lvl1.select(
        "l_orderkey",
        "l_suppkey",
        "_late",
        F.count(F.lit(1)).over(wo).alias("_n_supp"),
        F.sum("_late").over(wo).alias("_n_late"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        stats.filter(
            (F.col("_late") == 1)
            & (F.col("_n_supp") > 1)
            & (F.col("_n_late") == 1)
        )
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


SQL_SOLE_LATE_SUPPLIER = """
WITH lvl1 AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_shipdate > TIMESTAMP '1995-06-01' THEN 1 ELSE 0 END) AS late
  FROM lineitem GROUP BY l_orderkey, l_suppkey
), per_o AS (
  SELECT l_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late
  FROM lvl1 GROUP BY l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM lvl1
JOIN per_o USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE lvl1.late = 1 AND per_o.n_supp > 1 AND per_o.n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: scalar conditional-aggregate ratio (promo revenue
    % in one month). One pass over the date-pruned lineitem slice; the
    part side joins hint-free with the promo flag pre-computed (the probe
    carries one boolean, not the type string — part scales with SF, so
    AQE sizes the join); both sums are exact scaled longs so
    the final ratio is bit-identical across engines."""
    lo, hi = (
        F.lit("1995-09-01").cast("timestamp"),
        F.lit("1995-10-01").cast("timestamp"),
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", (F.col("p_type") == "PROMO").alias("_promo")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev_scaled = (rev.cast("decimal(18,6)") * 1_000_000).cast("long")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .agg(
            F.sum(F.when(F.col("_promo"), rev_scaled)).alias("_promo_rev"),
            F.sum(rev_scaled).alias("_total_rev"),
        )
        .select(
            ((100.0 * F.col("_promo_rev")) / F.col("_total_rev")).alias(
                "promo_revenue_pct"
            ),
            (F.col("_total_rev") / F.lit(1e6)).alias("total_revenue"),
        )
    )


SQL_PROMO_REVENUE_SHARE = """
WITH j AS (
  SELECT CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS rs,
         p_type = 'PROMO' AS promo
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1995-09-01' AND l_shipdate < TIMESTAMP '1995-10-01'
)
SELECT (100.0 * CAST(SUM(CASE WHEN promo THEN rs END) AS BIGINT)) / CAST(SUM(rs) AS BIGINT) AS promo_revenue_pct,
       CAST(SUM(rs) AS BIGINT) / 1000000.0 AS total_revenue
FROM j
"""


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: a 3-branch disjunctive predicate over joined
    dimension+fact attributes (brand × size-range × quantity-range). The
    dimension-only conjuncts ride the (hint-free, AQE-sized) build side; the OR of
    per-branch conjunctions evaluates post-join in one codegen stage —
    and the quantity bounds common to all branches (1..40) are pushed to
    the lineitem scan as a CNF residual."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    branch = (
        ((b == "Brand#12") & sz.between(1, 10) & q.between(1, 11))
        | ((b == "Brand#23") & sz.between(1, 20) & q.between(10, 20))
        | ((b == "Brand#34") & sz.between(1, 30) & q.between(20, 40))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev_scaled = (rev.cast("decimal(18,6)") * 1_000_000).cast("long")
    return (
        li.filter(q.between(1, 40))
        .join(p, li["l_partkey"] == p["p_partkey"])
        .filter(branch)
        .agg(
            (F.sum(rev_scaled) / F.lit(1e6)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_DISJUNCTIVE_REVENUE = """
SELECT CAST(SUM(CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) / 1000000.0 AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_quantity BETWEEN 1 AND 40
  AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11)
    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
    OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 40))
"""


def q_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold (global avg positive
    balance, computed ONCE as a 1-row broadcast) + LEFT ANTI join against
    recent orders ("dormant since mid-1998") + per-nation rollup. The
    anti join's build side is date-filtered BEFORE the join and ships
    only the custkey column; the threshold compare is exact (scaled
    longs; quotient is one IEEE division, identical in both engines)."""
    c = _t(spark, sf_dir, "customer")
    bal_scaled = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
    thresh = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(bal_scaled).cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("_avg_scaled")
        )
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-06-01").cast("timestamp"))
        .select("o_custkey")
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rich = c.crossJoin(bounded_broadcast(thresh, "one_row")).filter(
        bal_scaled.cast("double") > F.col("_avg_scaled")
    )
    return (
        rich.join(o, rich["c_custkey"] == o["o_custkey"], "left_anti")
        .join(bounded_broadcast(n, "domain"), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(bal_scaled) / F.lit(100.0)).alias("total_acctbal"),
        )
    )


SQL_DORMANT_RICH_CUSTOMERS = """
WITH t AS (
  SELECT CAST(CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_scaled
  FROM customer WHERE c_acctbal > 0
)
SELECT n_name,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 AS total_acctbal
FROM customer, t
JOIN nation ON c_nationkey = n_nationkey
WHERE CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS DOUBLE) > t.avg_scaled
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1998-06-01')
GROUP BY n_name
"""


def q_embedding_topk_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vectorized rerank path: exact cosine top-10 for 200 query
    vectors via Arrow-batch BLAS matmul (operators/similarity.py:
    matmul_topk) — measured ~10× the HOF per-pair path at this shape.
    Oracle-checked (same contract as embedding_topk: scores rounded to 6
    decimals make BLAS-vs-fold float reassociation invisible); exactness
    vs the HOF baseline is also pinned by
    test_matmul_topk_matches_brute_force."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return V.matmul_topk(
        emb, queries, "vec_id", "embedding", "qid", "qv", k=10
    ).withColumn("rank", F.col("rank").cast("int"))


SQL_EMBEDDING_TOPK_BLAS = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), q AS (
  SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 200
), scored AS (
  SELECT q.qid AS query_id, v.vec_id AS neighbor_id,
         round(list_dot_product(v.e, q.qe) /
               (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe))), 6) AS score
  FROM v CROSS JOIN q
)
SELECT query_id, neighbor_id, score, CAST(rk AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rk
  FROM scored
) WHERE rk <= 10
"""


def q_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational reshape (melt): a wide per-priority metrics row is
    unpivoted to (priority, metric, value) long form — the inverse of
    pivot_counts and the standard shape for metric sinks/dashboards.
    Spark 4's native `unpivot` plans as a single Expand (no join, no
    shuffle beyond the aggregate's); all metrics are cast to one DOUBLE
    value column as unpivot requires a common type."""
    o = _t(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        F.count_distinct(F.col("o_custkey")).cast("double").alias("n_customers"),
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_orders", "total_price", "n_customers"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    )


SQL_METRICS_UNPIVOT = """
WITH wide AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS DOUBLE) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
         CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS n_customers
  FROM orders GROUP BY o_orderpriority
)
UNPIVOT wide ON n_orders, total_price, n_customers
INTO NAME metric VALUE metric_value
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure-pushdown microbenchmark — scan + three
    conjunctive range predicates + one exact sum, no join/shuffle beyond
    the final single-partition agg. All three predicates must reach the
    parquet scan (PLANS.md shows the pushed count); at 100 TB this query
    is I/O-bound and row-group statistics skip most of the file."""
    li = _t(spark, sf_dir, "lineitem")
    rev_scaled = (
        (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)")
        * 1_000_000
    ).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(rev_scaled) / F.lit(1e6)).alias("forecast_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_FORECAST_REVENUE = """
SELECT CAST(SUM(CAST(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) / 1000000.0 AS forecast_revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total reporting shape: per-nation revenue plus its share
    of the grand total — a window over an AGGREGATE. The unpartitioned
    window runs on the tiny post-aggregation frame (one row per nation),
    so the 'move everything to one partition' cost everyone fears applies
    to ~25 rows, not the fact table; the fact table sees one ordinary
    partial+final aggregate."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    price_scaled = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    per_nation = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(bounded_broadcast(n, "domain"), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum(price_scaled).alias("_rev"))
    )
    w = Window.partitionBy()
    return per_nation.select(
        F.col("n_name").alias("nation"),
        (F.col("_rev") / F.lit(100.0)).alias("revenue"),
        (F.col("_rev") / F.sum("_rev").over(w) * 100.0).alias("revenue_pct"),
    )


SQL_NATION_REVENUE_SHARE = """
WITH per_nation AS (
  SELECT n_name,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name AS nation,
       rev / 100.0 AS revenue,
       rev / CAST(SUM(rev) OVER () AS BIGINT) * 100.0 AS revenue_pct
FROM per_nation
"""


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data governance: k-anonymity audit over the
    quasi-identifier (lang, source) at k=5 — a release pipeline must
    flag any group small enough to re-identify. Reported as a per-lang
    AUDIT (group count, risky-group count, smallest group), not just the
    offender list, so the result is informative at every corpus size
    (at large SF every group clears k and a bare offender list is
    empty). Two stacked aggregates; the second input is tiny."""
    docs = _t(spark, sf_dir, "documents")
    groups = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("_gs")
    )
    return groups.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("_gs") < 5, 1).otherwise(0)).alias("n_risky_groups"),
        F.min("_gs").alias("min_group_size"),
    )


SQL_K_ANONYMITY_AUDIT = """
WITH groups AS (
  SELECT lang, source, COUNT(*) AS gs
  FROM documents GROUP BY lang, source
)
SELECT lang, COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN gs < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_groups,
       CAST(MIN(gs) AS BIGINT) AS min_group_size
FROM groups GROUP BY lang
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction gate (functions/text.py:scrub_pii) — the
    privacy pass every training-corpus pipeline runs before release. The
    synthetic corpus contains no digits, so each doc gets DETERMINISTIC
    doc_id-derived PII (an email, a phone, an IPv4) prepended inside the
    query; the gate must find exactly those spans and the redacted-text
    hash must agree across engines. Regexes live in the Java-regex ∩ RE2
    common subset so Spark and DuckDB match identical spans. Narrow map,
    shuffle-free — scales as a pure scan."""
    from shuttlestandalonedbcreator_spark.functions.text import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
        pii_count,
        scrub_pii,
    )

    docs = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit(" "),
        F.col("text"),
    )
    # hash + length both read the scrubbed string: let-bind its 3
    # regexp_replace passes
    red = T.let(
        scrub_pii(injected),
        lambda s: F.struct(F.md5(s).alias("h"), F.length(s).cast("long").alias("n")),
    )
    return docs.select(
        "doc_id",
        pii_count(injected, PII_EMAIL_RE).alias("n_emails"),
        pii_count(injected, PII_PHONE_RE).alias("n_phones"),
        pii_count(injected, PII_IPV4_RE).alias("n_ips"),
        red["h"].alias("redacted_hash"),
        red["n"].alias("n_redacted_chars"),
    )


SQL_PII_SCRUB = r"""
WITH inj AS (
  SELECT doc_id,
         concat('contact user', CAST(doc_id AS VARCHAR),
                '@example.com or +1 555-',
                lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-',
                lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                ' from 10.0.', CAST(doc_id % 256 AS VARCHAR), '.',
                CAST((doc_id * 7) % 256 AS VARCHAR), ' ', text) AS t
  FROM documents
), scrubbed AS (
  SELECT doc_id, t,
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
           '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS red
  FROM inj
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(t, '\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phones,
       CAST(len(regexp_extract_all(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INTEGER) AS n_ips,
       md5(red) AS redacted_hash,
       CAST(length(red) AS BIGINT) AS n_redacted_chars
FROM scrubbed
"""


def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape on the available tables (no partsupp in the corpus):
    per part, the supplier with the lowest observed unit price in
    lineitem, ties to the smallest suppkey. The argmin-with-wide-payload
    pattern done the scale-safe way: aggregate DOWN first (part×supplier
    unit-price min — one shuffle with map-side partials), then a single
    max_by/arg_min struct aggregate per part — NO join-back of the fact
    table and no window over it; the supplier name joins hint-free
    (supplier scales with SF).
    Unit price is scaled-integer math so both engines agree bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem")
    # exact: cents via DECIMAL(18,2) (round-half-up in BOTH engines —
    # a bare double→BIGINT cast truncates in Spark but rounds in DuckDB),
    # then micros-scaled floor division by the integral quantity
    unit_cost = F.expr(
        "(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000)"
        " div CAST(l_quantity AS BIGINT)"
    )
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(unit_cost).alias("_cost")
    )
    best = per_ps.groupBy("l_partkey").agg(
        F.min_by(
            F.col("l_suppkey"), F.struct(F.col("_cost"), F.col("l_suppkey"))
        ).alias("s_key"),
        F.min("_cost").alias("min_unit_cost_micros"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        best.join(s, best["s_key"] == s["s_suppkey"])
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("s_name").alias("cheapest_supplier"),
            (F.col("min_unit_cost_micros") / F.lit(1e6)).alias("min_unit_price"),
        )
    )


SQL_CHEAPEST_SUPPLIER_PER_PART = """
WITH per_ps AS (
  SELECT l_partkey, l_suppkey,
         MIN((CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000)
             // CAST(l_quantity AS BIGINT)) AS cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
), best AS (
  SELECT l_partkey,
         arg_min(l_suppkey, cost * 9223372036854775808::HUGEINT + l_suppkey) AS s_key,
         MIN(cost) AS min_cost
  FROM per_ps GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey,
       s_name AS cheapest_supplier,
       min_cost / 1000000.0 AS min_unit_price
FROM best JOIN supplier ON s_key = s_suppkey
"""


def q_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (crawl-frequency capping): keep at most 40
    docs per source, preferring longer docs, deterministic (n_chars desc,
    doc_id asc) order — the anti-domination gate that stops one source
    from flooding the training mix. One window over the source partition;
    at scale the partition key is the host and skewed hosts are exactly
    the rows the cap discards, so the window never materializes more than
    it keeps + discards per host."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.withColumn("rank_in_source", F.row_number().over(w))
        .filter(F.col("rank_in_source") <= 40)
        .select(
            "source",
            "doc_id",
            "n_chars",
            F.col("rank_in_source").cast("int").alias("rank_in_source"),
        )
    )


SQL_PER_SOURCE_CAP = """
SELECT source, doc_id, n_chars, CAST(rn AS INTEGER) AS rank_in_source FROM (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
) WHERE rn <= 40
"""


def q_json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VARIANT path for semi-structured props (Spark 4):
    `parse_json` once → typed `variant_get` extractions — at scale this
    beats per-field `get_json_object` re-parsing when several fields are
    pulled from the same JSON blob (one parse, binary-encoded access).
    Same aggregate contract as `json_extract_agg`, which keeps the
    string-path variant for comparison."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "long")
    return (
        ev.select("event_type", k.alias("_k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_k").alias("sum_k"),
            F.min("_k").alias("min_k"),
            F.max("_k").alias("max_k"),
        )
    )


SQL_JSON_VARIANT_EXTRACT = """
WITH x AS (
  SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k, MAX(k) AS max_k
FROM x GROUP BY event_type
"""


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (template/nav-bar removal
    family): a 3-gram is "boilerplate" when it appears in >= 5 distinct
    docs; each doc reports how much of its distinct-gram set is
    boilerplate. Distinct from `text_repetition` (within-doc) and
    `benchmark_decontamination` (vs external set) — this is corpus
    self-similarity. Plan: one explode of distinct per-doc grams, a gram
    doc-frequency agg, and a semi join back keyed on the gram (inverted
    index family — the hot-gram table is bounded by corpus vocabulary,
    never by corpus size); left join restores zero-boilerplate docs."""
    from shuttlestandalonedbcreator_spark.operators.util import fan_out

    # r10 (guide §2.2 + §5.1): ONE fanned-out tokenizer pass builds the
    # per-doc distinct-gram arrays, materialized once — the old shape ran
    # word_ngrams on the single input split THREE times (grams feeding
    # hot, grams feeding boiler, and the separate n_grams projection)
    docs = fan_out(_t(spark, sf_dir, "documents"))
    with_arr = docs.select(
        "doc_id", D.word_ngrams(F.col("text"), 3).alias("_arr")
    ).localCheckpoint(eager=True)
    grams = with_arr.select("doc_id", F.explode("_arr").alias("gram"))
    hot = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= 5)
        .select("gram")
    )
    boiler = (
        grams.join(hot, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_nb"))
    )
    base = with_arr.select(
        "doc_id", F.size("_arr").cast("long").alias("n_grams")
    )
    return base.join(boiler, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("_nb"), F.lit(0)).cast("long").alias("n_boilerplate"),
        (
            F.coalesce(F.col("_nb"), F.lit(0)).cast("double")
            / F.greatest(F.col("n_grams"), F.lit(1)).cast("double")
        ).alias("boilerplate_frac"),
    )


SQL_BOILERPLATE_NGRAMS = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), gsets AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
           ELSE [] END) AS g
  FROM toks
), grams AS (
  SELECT doc_id, unnest(g) AS gram FROM gsets
), hot AS (
  SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 5
), boiler AS (
  SELECT doc_id, COUNT(*) AS nb FROM grams WHERE gram IN (SELECT gram FROM hot) GROUP BY doc_id
)
SELECT gsets.doc_id,
       CAST(len(g) AS BIGINT) AS n_grams,
       CAST(COALESCE(nb, 0) AS BIGINT) AS n_boilerplate,
       CAST(COALESCE(nb, 0) AS DOUBLE) / CAST(greatest(len(g), 1) AS DOUBLE) AS boilerplate_frac
FROM gsets LEFT JOIN boiler ON gsets.doc_id = boiler.doc_id
"""


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003
    — the MOSS local fingerprinting algorithm; public method): hash every
    k-gram (k=4) of the token stream, slide a window of w=5 hashes, keep
    each window's MINIMUM — the selected set is a position-independent
    document fingerprint with guaranteed density ~2/(w+1), the standard
    building block for plagiarism/near-dup detection at corpus scale.

    Output per doc: gram count, distinct fingerprint count, an md5
    digest of the sorted fingerprint set (so the driver hash-checks the
    exact selection), and the selection density (single exact division,
    shipped unrounded per the determinism rules).

    Plan: one narrow per-row projection — tokenize, gram-hash, window-min
    — entirely in JVM higher-order functions, ZERO shuffles; at 100 TB
    this is embarrassingly parallel scan work. Hashes are the portable
    60-bit md5 prefix so the DuckDB oracle reproduces them bit-exactly.
    Docs shorter than one window keep min(all grams) as their single
    fingerprint (winnowing's own rule for short inputs)."""
    from shuttlestandalonedbcreator_spark.operators.util import fan_out

    # r10: the single-split toy parquet serialized the whole md5-gram +
    # winnow pipeline onto one core (guide §2.2 stragglers) — round-robin
    # the raw rows first like every other per-row-heavy text entry
    docs = fan_out(_t(spark, sf_dir, "documents"))
    k, w = 4, 5
    no_hashes = F.array().cast("array<bigint>")

    def gram_hashes(t: Column) -> Column:
        return F.when(
            F.size(t) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (k - 1)),
                lambda i: F.conv(
                    F.substring(F.md5(F.concat_ws(" ", F.slice(t, i, k))), 1, 15), 16, 10
                ).cast("bigint"),
            ),
        ).otherwise(no_hashes)

    def winnow(g: Column) -> Column:
        fps = (
            F.when(
                F.size(g) >= w,
                F.transform(
                    F.sequence(F.lit(1), F.size(g) - (w - 1)),
                    lambda j: F.array_min(F.slice(g, j, w)),
                ),
            )
            .when(F.size(g) > 0, F.array(F.array_min(g)))
            .otherwise(no_hashes)
        )
        return F.struct(
            F.size(g).cast("bigint").alias("n_grams"),
            F.array_sort(F.array_distinct(fps)).alias("fps"),
        )

    return docs.select(
        "doc_id",
        T.let(T.let(D.tokens(F.col("text")), gram_hashes), winnow).alias("_s"),
    ).select(
        "doc_id",
        F.col("_s.n_grams").alias("n_grams"),
        F.size("_s.fps").cast("long").alias("n_fingerprints"),
        F.md5(
            F.concat_ws(",", F.expr("transform(_s.fps, x -> cast(x as string))"))
        ).alias("fp_digest"),
        (
            F.size("_s.fps").cast("double")
            / F.greatest(F.col("_s.n_grams"), F.lit(1)).cast("double")
        ).alias("fp_density"),
    ).orderBy("doc_id")


SQL_WINNOWING_FINGERPRINTS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 4
           THEN list_transform(range(1, len(t) - 2),
                i -> CAST(('0x' || substr(md5(concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3])), 1, 15)) AS BIGINT))
           ELSE [] END AS g
  FROM toks
), fps AS (
  SELECT doc_id, len(g) AS n_grams,
         list_sort(list_distinct(
           CASE WHEN len(g) >= 5
                THEN list_transform(range(1, len(g) - 3), j -> list_min(g[j:j+4]))
                WHEN len(g) > 0 THEN [list_min(g)]
                ELSE [] END)) AS f
  FROM grams
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(len(f) AS BIGINT) AS n_fingerprints,
       md5(array_to_string(list_transform(f, x -> CAST(x AS VARCHAR)), ',')) AS fp_digest,
       CAST(len(f) AS DOUBLE) / CAST(greatest(n_grams, 1) AS DOUBLE) AS fp_density
FROM fps
ORDER BY doc_id
"""


def q_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-salt join (operators/skew.py:salted_join) proving the
    skew-mitigation machinery is RESULT-neutral: lineitem joins supplier
    on a salted key (supplier replicated per salt bucket, fact side
    randomly salted), then per-nation revenue. The oracle is the PLAIN
    join — salting must change the shuffle layout, never the answer.
    Revenue goes through the engine's exact scaled-integer accumulation."""
    from shuttlestandalonedbcreator_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"),
        (
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast("decimal(18,6)")
            * 1_000_000
        ).cast("long").alias("_rev"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(li, s, "s_suppkey", salt_buckets=8)
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum("_rev") / F.lit(1e6)).alias("revenue"),
    )


SQL_SALTED_JOIN_REVENUE = """
SELECT s_nationkey,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) / 1000000.0 AS revenue
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
"""


def q_numeric_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group: Pearson correlation, sample
    covariance and both stddevs of (quantity, extendedprice) per return
    flag — the feature-relationship profiling pass (leakage checks,
    feature pruning) over a fact table. Single hash aggregate with
    map-side partials; the moment accumulators are mergeable, so the
    plan is the same partial+final shape as any sum. Rounded to 6 both
    engines (both use numerically stable single-pass accumulation)."""
    li = _t(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.corr(q, p), 6).alias("corr_qty_price"),
        F.round(F.covar_samp(q, p), 6).alias("covar_qty_price"),
        F.round(F.stddev_samp(q), 6).alias("sd_qty"),
        F.round(F.stddev_samp(p), 6).alias("sd_price"),
    )


SQL_NUMERIC_CORRELATIONS = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 6) AS covar_qty_price,
       round(stddev_samp(l_quantity), 6) AS sd_qty,
       round(stddev_samp(l_extendedprice), 6) AS sd_price
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# TPC-H decorrelation/join-shape batch (Q4/Q7/Q8/Q9/Q10/Q11/Q13/Q15/Q16/
# Q17/Q20 adapted to the available columns: no partsupp table, no
# commit/receipt dates — each keeps the query's *plan shape*, which is
# what matters for the engine surface). Money math is the exact
# scaled-long formulation (_exact_sum) throughout.
# ---------------------------------------------------------------------------


def _rev_micros() -> F.Column:
    """Per-row revenue in exact integer micros (portable HALF_UP cast)."""
    return (
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        .cast("decimal(18,6)")
        * 1_000_000
    ).cast("long")


_SQL_REV_MICROS = (
    "CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))"
    " * 1000000 AS BIGINT)"
)


def q_order_priority_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a correlated NON-EQUI predicate
    (lineitem shipped >60 days after its order's date), decorrelated into
    a LEFT SEMI join whose condition mixes the equi orderkey with the
    cross-table date comparison. Catalyst keeps orderkey as the shuffle
    key (hash semi join) and evaluates the date predicate as a join
    residual — no window, no double scan of orders."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


SQL_ORDER_PRIORITY_CHECKS = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue flowing between a block of nations by
    ship year (cross-nation trade only). Join order chosen for scale: the two dimension chains
    (supplier→nation, customer→nation) BROADCAST onto the fact sides and
    their nation filters apply before the one real shuffle
    (lineitem⋈orders on orderkey) — so the shuffled rows are only the
    pre-filtered trade between the two nations, not the whole fact
    table."""
    n_pair = (0, 1, 2, 3, 4)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.year("l_shipdate").cast("int").alias("ship_year"),
        _rev_micros().alias("_rev"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey").filter(
        F.col("s_nationkey").isin(*n_pair)
    )
    li_s = li.join(s, li["l_suppkey"] == s["s_suppkey"]).select(
        "l_orderkey", "ship_year", "_rev", F.col("s_nationkey").alias("supp_nation")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey").filter(
        F.col("c_nationkey").isin(*n_pair)
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    o_c = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey", F.col("c_nationkey").alias("cust_nation")
    )
    traded = li_s.join(o_c, li_s["l_orderkey"] == o_c["o_orderkey"]).filter(
        F.col("supp_nation") != F.col("cust_nation")
    )
    return traded.groupBy("supp_nation", "cust_nation", "ship_year").agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum("_rev") / F.lit(1e6)).alias("revenue"),
    )


SQL_VOLUME_SHIPPING = f"""
SELECT s_nationkey AS supp_nation, c_nationkey AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS ship_year,
       COUNT(*) AS n_items,
       CAST(SUM({_SQL_REV_MICROS}) AS BIGINT) / 1000000.0 AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE s_nationkey IN (0, 1, 2, 3, 4) AND c_nationkey IN (0, 1, 2, 3, 4)
  AND s_nationkey <> c_nationkey
GROUP BY 1, 2, 3
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_7's share of PROMO-part revenue sold to
    ASIA-region customers, per order year. The share is a conditional
    sum over the same rows as the total — ONE aggregate with two
    branches, not two scans; numerator/denominator stay exact integer
    micros until the final rounded division."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", _rev_micros().alias("_rev")
    )
    li_p = li.join(part, li["l_partkey"] == part["p_partkey"])
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li_ps = li_p.join(s, li_p["l_suppkey"] == s["s_suppkey"]).select(
        "l_orderkey", "_rev", F.col("s_nationkey").alias("supp_nation")
    )
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2).select("n_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    c_asia = c.join(bounded_broadcast(nat, "domain"), c["c_nationkey"] == nat["n_nationkey"]).select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").cast("int").alias("order_year")
    )
    o_c = o.join(c_asia, o["o_custkey"] == c_asia["c_custkey"]).select(
        "o_orderkey", "order_year"
    )
    rows = li_ps.join(o_c, li_ps["l_orderkey"] == o_c["o_orderkey"])
    agg = rows.groupBy("order_year").agg(
        F.sum(F.when(F.col("supp_nation") == 7, F.col("_rev")).otherwise(F.lit(0))).alias("_num"),
        F.sum("_rev").alias("_den"),
    )
    return agg.select(
        "order_year",
        (F.col("_num") / F.lit(1e6)).alias("nation_revenue"),
        (F.col("_den") / F.lit(1e6)).alias("total_revenue"),
        (F.col("_num").cast("double") / F.col("_den").cast("double")).alias("mkt_share"),
    )


SQL_MARKET_SHARE = f"""
WITH rows_ AS (
  SELECT EXTRACT(year FROM o_orderdate) AS order_year, s_nationkey,
         {_SQL_REV_MICROS} AS rev
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey AND n_regionkey = 2
)
SELECT CAST(order_year AS INTEGER) AS order_year,
       CAST(SUM(CASE WHEN s_nationkey = 7 THEN rev ELSE 0 END) AS BIGINT) / 1000000.0 AS nation_revenue,
       CAST(SUM(rev) AS BIGINT) / 1000000.0 AS total_revenue,
       CAST(SUM(CASE WHEN s_nationkey = 7 THEN rev ELSE 0 END) AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE) AS mkt_share
FROM rows_
GROUP BY 1
"""


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on 'widget' parts by supplier nation and
    order year. No partsupp in this corpus, so supply cost is modeled as
    half the part's retail price — the POINT is the plan: two hint-free
    dims (filtered part, supplier — both SF-scaled, AQE-sized) folded
    onto lineitem before the single orderkey shuffle, profit accumulated as exact integer micros
    (revenue micros minus qty × retail-half-cents × 10^4)."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("widget"))
        .select(
            "p_partkey",
            (F.col("p_retailprice").cast("decimal(18,2)") * 100).cast("long").alias("_retail_cents"),
        )
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        _rev_micros().alias("_rev"),
        F.col("l_quantity").cast("long").alias("_qty"),
    )
    li_p = li.join(part, li["l_partkey"] == part["p_partkey"]).select(
        "l_orderkey", "l_suppkey",
        (F.col("_rev") - F.col("_qty") * F.col("_retail_cents") * 5000).alias("_profit"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li_ps = li_p.join(s, li_p["l_suppkey"] == s["s_suppkey"])
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("order_year")
    )
    rows = li_ps.join(o, li_ps["l_orderkey"] == o["o_orderkey"])
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        rows.groupBy("s_nationkey", "order_year")
        .agg((F.sum("_profit") / F.lit(1e6)).alias("profit"))
        .join(bounded_broadcast(nat, "domain"), F.col("s_nationkey") == nat["n_nationkey"])
        .select(F.col("n_name").alias("nation"), "order_year", "profit")
    )


SQL_PRODUCT_PROFIT = f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
       CAST(SUM({_SQL_REV_MICROS}
                - CAST(l_quantity AS BIGINT)
                  * CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 5000)
            AS BIGINT) / 1000000.0 AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in a
    quarter. Aggregate down to custkey FIRST (the only wide shuffle),
    then join the customer/nation payload onto just the aggregated rows
    (customer hint-free — SF-scaled; nation explicitly broadcast), then TakeOrderedAndProject for the global top-k —
    never a full sort. Deterministic ties: (revenue desc, custkey)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", _rev_micros().alias("_rev")
    )
    per_cust = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(F.sum("_rev").alias("_rev_sum"))
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        per_cust.join(c, per_cust["o_custkey"] == c["c_custkey"])
        .join(bounded_broadcast(nat, "domain"), c["c_nationkey"] == nat["n_nationkey"])
        .select(
            "c_custkey", "c_name", F.col("n_name").alias("nation"),
            (F.col("_rev_sum") / F.lit(1e6)).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


SQL_RETURNED_ITEM_CUSTOMERS = f"""
SELECT c_custkey, c_name, n_name AS nation,
       CAST(SUM({_SQL_REV_MICROS}) AS BIGINT) / 1000000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value exceeds the ADAPTIVE
    above-mean threshold (global total ÷ part count) — the
    scalar-subquery-in-HAVING pattern, with a threshold that stays
    meaningful at every SF (a fixed fraction selects everything at small
    SF and nothing at large). The global total and part count ride along
    as a broadcast 1-row aggregate crossJoin (no driver-side collect, one
    plan), and the comparison is pure integer math — value > total div
    nparts — so no epsilon can disagree between engines."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").alias("_cents"),
    )
    per_part = li.groupBy("l_partkey").agg(F.sum("_cents").alias("_value"))
    total = per_part.agg(
        F.sum("_value").alias("_total"), F.count(F.lit(1)).alias("_nparts")
    )
    # adaptive threshold (above the mean part value): a FIXED fraction
    # degenerates as the part count grows — all parts qualify at small SF,
    # none at large. total div nparts is overflow-free exact math.
    return (
        per_part.crossJoin(bounded_broadcast(total, "one_row"))
        .filter(F.col("_value") > F.expr("_total div _nparts"))
        .select("l_partkey", (F.col("_value") / F.lit(100.0)).alias("part_value"))
    )


SQL_IMPORTANT_PARTS = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, value_ / 100.0 AS part_value
FROM per_part
WHERE value_ > (SELECT CAST(SUM(value_) AS BIGINT) // COUNT(*) FROM per_part)
"""


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: histogram of orders-per-customer INCLUDING
    zero-order customers — a LEFT OUTER join whose filter lives in the
    JOIN CONDITION (not WHERE, which would turn it inner), then two
    stacked aggregations. count(o_orderkey) counts only matched rows,
    exactly the outer-join-aware count the shape exists to test."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"]) & (o["o_orderpriority"] != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


SQL_CUSTOMER_ORDER_DISTRIBUTION = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) achieving MAX quarterly revenue —
    scalar-max subquery kept tie-faithful (every supplier at the max is
    returned). Revenue stays integer micros end-to-end so the equality
    against the max is exact; the max rides as a broadcast 1-row agg."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("l_suppkey", _rev_micros().alias("_rev"))
    per_supp = li.groupBy("l_suppkey").agg(F.sum("_rev").alias("_rev_sum"))
    mx = per_supp.agg(F.max("_rev_sum").alias("_mx"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.crossJoin(bounded_broadcast(mx, "one_row"))
        .filter(F.col("_rev_sum") == F.col("_mx"))
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", (F.col("_rev_sum") / F.lit(1e6)).alias("total_revenue"))
    )


SQL_TOP_REVENUE_SUPPLIER = f"""
WITH rev AS (
  SELECT l_suppkey, CAST(SUM({_SQL_REV_MICROS}) AS BIGINT) AS rev_sum
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, rev_sum / 1000000.0 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_sum = (SELECT MAX(rev_sum) FROM rev)
"""


def q_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    group, EXCLUDING a blacklist via anti-join (the NOT IN subquery).
    The fact table collapses to distinct (attrs, suppkey) in the same
    shuffle that feeds the count-distinct — no second wide exchange; the
    blacklist (suppliers in arrears) feeds the anti join hint-free — it
    scales with supplier, so AQE sizes it."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") != "PROMO").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    rows = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(bad, li["l_suppkey"] == bad["s_suppkey"], "left_anti")
    )
    return rows.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


SQL_SUPPLIER_PART_VARIETY = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q_small_qty_avg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below
    half their part's average quantity — the correlated scalar-AVG
    subquery, decorrelated into per-part sums that ride a WINDOW over
    the (brand-filtered) fact rows — the pre-aggregate-then-join-back
    form evaluated lineitem⋈part twice (Spark materializes no CTEs);
    the window form is one fact pass plus one l_partkey exchange. The
    threshold test is cross-multiplied into pure integers
    (2·qty·cnt < sum) so the 'average' never materializes as a float."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_quantity").cast("long").alias("_qty"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").alias("_cents"),
    )
    wp = Window.partitionBy("l_partkey")
    picked = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select("l_partkey", "_qty", "_cents")
        .withColumn("_qty_sum", F.sum("_qty").over(wp))
        .withColumn("_cnt", F.count(F.lit(1)).over(wp))
        .filter(F.lit(2) * F.col("_qty") * F.col("_cnt") < F.col("_qty_sum"))
    )
    return picked.agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum("_cents") / F.lit(700.0)).alias("avg_yearly"),
    )


SQL_SMALL_QTY_AVG_REVENUE = """
WITH li_b AS (
  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#23'
), per_part AS (
  SELECT l_partkey AS pk, CAST(SUM(qty) AS BIGINT) AS qty_sum, COUNT(*) AS cnt
  FROM li_b GROUP BY 1
)
SELECT COUNT(*) AS n_items,
       CAST(SUM(cents) AS BIGINT) / 700.0 AS avg_yearly
FROM li_b JOIN per_part ON l_partkey = pk
WHERE 2 * qty * cnt < qty_sum
"""


def q_qualified_green_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: the nested double-semi-join chain — suppliers
    having shipped a 'red' part in bulk (>20% of that part's total
    flow; the share test scales where a fixed quantity threshold
    degenerates). Inner aggregates feed a LEFT SEMI join on the
    supplier key; the part filter folds onto the fact hint-free before
    the grouping shuffle. Output joins supplier hint-free and nation as
    an explicit broadcast (closed domain)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red")).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", F.col("l_quantity").cast("long").alias("_qty")
    )
    red = li.join(part, li["l_partkey"] == part["p_partkey"])
    per_pair = red.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("_qty").alias("_pair_qty")
    )
    # adaptive bulk test: the supplier moved >20% of that part's total
    # flow (5·pair > part, exact ints) — a fixed quantity threshold
    # degenerates as supplier/part counts grow with scale. The part
    # total rides a WINDOW over per_pair (the aggregate-then-join-back
    # form re-scanned lineitem⋈part — Spark materializes no CTEs).
    wp = Window.partitionBy("l_partkey")
    bulk = (
        per_pair.withColumn("_part_qty", F.sum("_pair_qty").over(wp))
        .filter(F.col("_pair_qty") * 5 > F.col("_part_qty"))
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        s.join(bulk, s["s_suppkey"] == bulk["l_suppkey"], "left_semi")
        .join(bounded_broadcast(nat, "domain"), F.col("s_nationkey") == nat["n_nationkey"])
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )


SQL_QUALIFIED_GREEN_SUPPLIERS = """
SELECT s_suppkey, s_name, n_name AS nation
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  WITH per_pair AS (
    SELECT l_suppkey, l_partkey,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS pair_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
    GROUP BY l_suppkey, l_partkey
  ), per_part AS (
    SELECT l_partkey, CAST(SUM(pair_qty) AS BIGINT) AS part_qty
    FROM per_pair GROUP BY l_partkey
  )
  SELECT l_suppkey FROM per_pair JOIN per_part USING (l_partkey)
  WHERE pair_qty * 5 > part_qty
)
"""


# ---------------------------------------------------------------------------
# Training-pipeline extensions round 2: containment near-dup, unigram LM
# surprisal scoring, cross-source canonical dedup, deterministic shard
# export.
# ---------------------------------------------------------------------------


def q_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (operators/dedup.py:
    containment_pairs): pairs where the smaller 3-gram set is >=50%
    inside the larger — the quote/excerpt detector Jaccard misses (a
    short doc fully inside a long one has tiny Jaccard but containment
    1.0). Same single-shuffle inverted-index core as ngram_jaccard."""
    docs = _t(spark, sf_dir, "documents")
    return D.containment_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


SQL_CONTAINMENT_NEARDUP = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
           ELSE [] END) AS g
  FROM toks
), e AS (
  SELECT doc_id, unnest(g) AS tok FROM grams
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (
  SELECT doc_id, len(g) AS s FROM grams
)
SELECT CASE WHEN sa.s <= sb.s THEN id_a ELSE id_b END AS contained_id,
       CASE WHEN sa.s <= sb.s THEN id_b ELSE id_a END AS container_id,
       c * 1.0 / least(sa.s, sb.s) AS containment
FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
WHERE c * 1.0 / least(sa.s, sb.s) >= 0.5
"""


def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: per-doc mean token surprisal
    ln(N/count(token)) against the corpus's own unigram distribution —
    the cheap stand-in for an LM-based quality filter (gibberish and
    rare-token soup score high, templated text scores low). Plan: token
    counts aggregate once (token-keyed shuffle with map-side partials),
    join back onto per-doc tf rows on the SAME key (AQE reuses the
    exchange), corpus total rides as a broadcast 1-row aggregate.
    Determinism: per-token surprisal is rounded to integer micro-nats
    BEFORE the per-doc sum, so accumulation is exact integer math on
    both engines (a double sum would be order-dependent)."""
    from shuttlestandalonedbcreator_spark.operators.util import fan_out

    # r10: both fan_out and a tf localCheckpoint were A/B-measured
    # SLOWER here — tf feeds two branches, so the fan_out exchange re-ran
    # per branch and the materialization cost exceeded the re-run of the
    # small token stream; left in the original shape
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.col("doc_id"), F.explode(D.tokens(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    counts = tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("_total"))
    scored = (
        tf.join(counts, "token")
        .crossJoin(bounded_broadcast(total, "one_row"))
        .withColumn(
            "_sm",
            F.round(
                F.log(F.col("_total").cast("double") / F.col("cnt").cast("double"))
                * 1_000_000
            ).cast("long"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("_sm")).alias("_s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("_s") / F.col("n_tokens") / F.lit(1e6)).alias("avg_surprisal"),
        )
    )


SQL_UNIGRAM_SURPRISAL = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), counts AS (
  SELECT token, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1
), total AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total_ FROM counts
), scored AS (
  SELECT doc_id, tf,
         CAST(round(ln(CAST(total_ AS DOUBLE) / CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS sm
  FROM tf JOIN counts USING (token) CROSS JOIN total
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
       CAST(SUM(tf * sm) AS BIGINT) / CAST(SUM(tf) AS BIGINT) / 1000000.0 AS avg_surprisal
FROM scored GROUP BY doc_id
"""


def q_cross_source_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-dup canonicalization: when the same content
    arrives from multiple sources, keep one copy chosen by source
    priority (real crawl beats mirror), then lowest id. The corpus has
    no cross-source exact dups, so a deterministic 'mirror' replica of
    every 5th doc is injected in-query (the pii_scrub fixture pattern) —
    the operator under test is the group-canonicalize-map-back pipeline:
    one groupBy on md5(content) computing the winner via min_by over an
    encoded (priority, id) rank (priority·2^62+id — id is far below 2^62
    at any real scale), then a join back keyed on the same hash to emit
    the dup→canonical mapping.

    r11 (guide §6, VERDICT r10 #6): the corpus∪mirror union was two
    pruned re-reads per consumer (four scans, md5 over the text twice
    per mirrored row); each consumer now derives it in ONE pass — md5
    once per row, then a conditional explode emits the original struct
    plus, for every 5th id, its mirror struct (id offset by 2^40 so
    injected mirrors never collide with corpus ids at any scale). Two
    consumers (groups, join-back) keep two scans total; collapsing to
    one would need either a corpus-sized localCheckpoint or a skew-
    unsafe collect_list per content hash — the min_by + join-back shape
    stays because it is the one that survives a hot exact-dup group
    (boilerplate pages) at 100 TB."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    base = docs.select("doc_id", "source", F.md5("text").alias("_h"))
    orig = F.struct(
        F.col("doc_id").alias("doc_id"),
        F.col("source").alias("source"),
        F.lit(0).alias("_prio"),
    )
    mir = F.struct(
        (F.col("doc_id") + F.lit(1 << 40)).alias("doc_id"),
        F.lit("mirror").alias("source"),
        F.lit(1).alias("_prio"),
    )
    n_emit = F.when(F.col("doc_id") % 5 == 0, F.lit(2)).otherwise(F.lit(1))
    all_ = base.select(
        "_h",
        F.explode(F.slice(F.array(orig, mir), F.lit(1), n_emit)).alias("r"),
    ).select("r.doc_id", "r.source", "_h", "r._prio")
    rank = F.col("_prio") * F.lit(1 << 62) + F.col("doc_id")
    groups = (
        all_.groupBy("_h")
        .agg(F.min_by(F.col("doc_id"), rank).alias("canonical_id"), F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
    )
    return (
        all_.join(groups, "_h")
        .filter(F.col("doc_id") != F.col("canonical_id"))
        .select(F.col("doc_id").alias("dup_id"), "canonical_id", "source")
    )


SQL_CROSS_SOURCE_CANONICAL = """
WITH all_ AS (
  SELECT doc_id, source, md5(text) AS h,
         0 AS prio
  FROM documents
  UNION ALL
  SELECT doc_id + 1099511627776, 'mirror', md5(text), 1
  FROM documents WHERE doc_id % 5 = 0
), groups AS (
  SELECT h, arg_min(doc_id, prio * 4611686018427387904 + doc_id) AS canonical_id,
         COUNT(*) AS n
  FROM all_ GROUP BY h
  HAVING COUNT(*) >= 2
)
SELECT a.doc_id AS dup_id, g.canonical_id, a.source
FROM all_ a JOIN groups g USING (h)
WHERE a.doc_id <> g.canonical_id
"""


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-export shuffle: assign every doc a shard
    (md5-derived 60-bit hash mod 16) and a position within its shard
    (rank by hash, id tiebreak) — the 'global shuffle' a training run
    needs, WITHOUT a global sort: the plan is one hash partition + a
    within-shard sort (window per shard). At real scale the shard count
    is set >= cluster parallelism (each shard becomes one output file
    read sequentially by a data loader); the hash makes the permutation
    reproducible across engines and runs."""
    docs = _t(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast("long")
    w = Window.partitionBy("shard").orderBy(F.asc("_h"), F.asc("doc_id"))
    return (
        docs.select("doc_id", h.alias("_h"))
        .withColumn("shard", (F.col("_h") % 16).cast("int"))
        .withColumn("position", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "position")
    )


SQL_SHUFFLE_SHARDS = """
WITH h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
  FROM documents
)
SELECT doc_id, CAST(hv % 16 AS INTEGER) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY hv % 16 ORDER BY hv ASC, doc_id ASC) AS BIGINT) AS position
FROM h
"""


def q_neardup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup REMOVAL (the operator users actually run):
    exact-Jaccard pairs → connected components → keep one representative
    per cluster → anti-filter the corpus. Composition of
    ngram_jaccard_pairs + graph.cluster_keep_list; the component table
    holds only docs with a near-dup, so the keep-decision join stays
    hint-free (it scales with duplicate mass — AQE broadcasts while
    small) and the corpus itself is never shuffled."""
    from shuttlestandalonedbcreator_spark.operators.graph import cluster_keep_list

    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return (
        cluster_keep_list(docs.select("doc_id", "source", "n_chars"), pairs, "doc_id")
        .filter(F.col("keep") == 1)
        .select("doc_id", "source", "n_chars")
    )


# survivors = docs minus non-representative cluster members; reuses the
# recursive-CTE reachability of SQL_NEARDUP_CLUSTERS
SQL_NEARDUP_PRUNE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
           ELSE [] END) AS g
  FROM toks
), e AS (
  SELECT doc_id, unnest(g) AS tok FROM grams
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (
  SELECT doc_id, len(g) AS s FROM grams
), pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
  WHERE c * 1.0 / (sa.s + sb.s - c) >= 0.5
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM pairs
), reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
), pruned AS (
  SELECT u AS doc_id FROM reach GROUP BY u HAVING u <> MIN(r)
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d LEFT JOIN pruned p ON d.doc_id = p.doc_id
WHERE p.doc_id IS NULL
"""


def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization audit — the 4× storage-shrink pass a
    100 TB embedding corpus takes before ANN serving. Per vector:
    scale = max|x|/127, q_i = round(x_i/scale), and the reconstruction
    error stats. Entirely higher-order-function column math (zero
    shuffle, zero Python); per-row doubles follow identical expression
    trees on both engines, rounded on output."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    # FLOAT[] parquet arrives as float; promote once so both engines do
    # double math throughout
    dv = F.transform(v, lambda x: x.cast("double"))
    mx = F.array_max(F.transform(dv, lambda x: F.abs(x)))
    scale = mx / F.lit(127.0)

    # `scale` is an O(dim) array_max: read inside a per-element lambda it
    # would re-run PER ELEMENT → O(dim²) per row, so it is let-bound
    # (measured ~4× on dim=64)
    def _stats(s: F.Column) -> F.Column:
        q = F.transform(dv, lambda x: F.round(x / s).cast("long"))
        err = F.zip_with(dv, q, lambda x, qq: F.abs(x - qq.cast("double") * s))
        return F.struct(
            s.alias("s"),
            F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + F.abs(x)).alias(
                "l1"
            ),
            F.array_max(err).alias("mx_err"),
            (F.aggregate(err, F.lit(0.0), lambda a, x: a + x) / F.size(err)).alias(
                "mean_err"
            ),
        )

    packed = T.let(scale, _stats)
    return emb.select("vec_id", packed.alias("_p")).select(
        "vec_id",
        F.round(F.col("_p.s"), 6).alias("scale"),
        F.col("_p.l1").alias("l1_quant"),
        F.round(F.col("_p.mx_err"), 6).alias("max_abs_err"),
        F.round(F.col("_p.mean_err"), 6).alias("mean_abs_err"),
    )


SQL_EMBEDDING_QUANTIZATION = """
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
), scaled AS (
  SELECT vec_id, dv,
         list_max(list_transform(dv, x -> abs(x))) / 127.0 AS scale
  FROM base
), quant AS (
  SELECT vec_id, dv, scale,
         list_transform(dv, x -> CAST(round(x / scale) AS BIGINT)) AS q
  FROM scaled
), err AS (
  SELECT vec_id, scale, q,
         list_transform(list_zip(dv, q), p -> abs(p[1] - CAST(p[2] AS DOUBLE) * scale)) AS e
  FROM quant
)
SELECT vec_id,
       round(scale, 6) AS scale,
       CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS l1_quant,
       round(list_max(e), 6) AS max_abs_err,
       round(list_sum(e) / len(e), 6) AS mean_abs_err
FROM err
"""


def q_event_type_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands / SCD2 shape: collapse each user's event stream
    into RUNS of consecutive identical event_type (validity intervals of
    a changing attribute — the change-tracking view a slowly-changing
    dimension needs). The classic two-row_number difference trick: both
    windows share the (user_id → ts) partitioning, so Catalyst plans ONE
    shuffle and two window passes over the same sort order. Ties broken
    by event_id for full determinism."""
    ev = _t(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = ev.select(
        "user_id", "event_type", "ts", "event_id",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("_island"),
    )
    return runs.groupBy("user_id", "event_type", "_island").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("started_at"),
        F.max("ts").alias("ended_at"),
    ).drop("_island")


SQL_EVENT_TYPE_ISLANDS = """
WITH runs AS (
  SELECT user_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS island
  FROM events
)
SELECT user_id, event_type, COUNT(*) AS n_events,
       MIN(ts) AS started_at, MAX(ts) AS ended_at
FROM runs GROUP BY user_id, event_type, island
"""


def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (operators/quality.py): five row
    rules over orders in ONE aggregate scan, key uniqueness, and
    orders→customer referential integrity — the deequ/dbt-test shape a
    pipeline gates on before publishing a dataset. Three passes total
    regardless of row-rule count."""
    from shuttlestandalonedbcreator_spark.operators.quality import (
        referential_audit,
        row_rule_audit,
        uniqueness_audit,
    )

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rows = row_rule_audit(
        o,
        {
            "orderkey_not_null": F.col("o_orderkey").isNotNull(),
            "totalprice_positive": F.col("o_totalprice") > 0,
            "status_in_domain": F.col("o_orderstatus").isin("F", "O", "P"),
            "orderdate_in_range": (
                (F.col("o_orderdate") >= F.lit("1990-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("2030-01-01").cast("timestamp"))
            ),
            "priority_format": F.col("o_orderpriority").rlike("^[0-9]-[A-Z ]+$"),
        },
    )
    uniq = uniqueness_audit(o, ["o_orderkey"], "orderkey_unique")
    fk = referential_audit(o, "o_custkey", c, "c_custkey", "custkey_references_customer")
    return rows.unionByName(uniq).unionByName(fk)


SQL_DQ_AUDIT = """
WITH row_rules AS (
  SELECT COUNT(*) AS checked,
         CAST(SUM(CASE WHEN NOT COALESCE(o_orderkey IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
         CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_tp,
         CAST(SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('F','O','P'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_st,
         CAST(SUM(CASE WHEN NOT COALESCE(o_orderdate >= TIMESTAMP '1990-01-01' AND o_orderdate < TIMESTAMP '2030-01-01', FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_dt,
         CAST(SUM(CASE WHEN NOT COALESCE(regexp_matches(o_orderpriority, '^[0-9]-[A-Z ]+$'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_pf
  FROM orders
)
SELECT 'orderkey_not_null' AS rule, checked, v_nn AS violations FROM row_rules
UNION ALL SELECT 'totalprice_positive', checked, v_tp FROM row_rules
UNION ALL SELECT 'status_in_domain', checked, v_st FROM row_rules
UNION ALL SELECT 'orderdate_in_range', checked, v_dt FROM row_rules
UNION ALL SELECT 'priority_format', checked, v_pf FROM row_rules
UNION ALL
SELECT 'orderkey_unique', COUNT(*), CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
UNION ALL
SELECT 'custkey_references_customer',
       (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL),
       CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL
             AND o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT)
"""


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation — the
    z-score alternative that a single corrupt value cannot poison (the
    mean AND stddev of zscore_outliers both move with every outlier; the
    median moves with none). Two grouped percentile passes: per-type
    median, broadcast back, then median of |value − med| in one final
    aggregate (outlier flagging is then a trivial downstream filter
    against k·1.4826·mad). The median is ROUNDED to 6
    before deviations so both engines anchor deviations to the identical
    constant (raw interpolated medians can differ in the last ulp)."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("_med")
    )
    dev = ev.join(bounded_broadcast(med, "domain"), "event_type").withColumn(
        "_dev", F.abs(F.col("value") - F.col("_med"))
    )
    return dev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.first("_med").alias("median"),
        F.round(F.expr("percentile(_dev, 0.5)"), 6).alias("mad"),
    )


SQL_MAD_OUTLIERS = """
WITH med AS (
  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, med, abs(value - med) AS d
  FROM events e JOIN med USING (event_type)
)
SELECT event_type, COUNT(*) AS n_events, ANY_VALUE(med) AS median,
       round(quantile_cont(d, 0.5), 6) AS mad
FROM dev GROUP BY event_type
"""


def q_lang_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the language mix per source — the diversity
    profile a corpus-balance dashboard tracks (0 = monolingual source).
    entropy = ln(N) − (Σ c·ln c)/N over the per-(source,lang) counts:
    one grouped count, one tiny re-aggregate. Each ln is rounded to
    integer micro-nats BEFORE the weighted sum (exact long math), so the
    only float ops are one division and one subtraction — deterministic
    on both engines (a raw double Σ c·ln c would be order-dependent)."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    lnc_micro = F.round(F.log(F.col("c").cast("double")) * 1_000_000).cast("long")
    per_src = counts.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(F.col("c") * lnc_micro).alias("_wsum"),
    )
    ln_n_micro = F.round(F.log(F.col("n_docs").cast("double")) * 1_000_000).cast("long")
    return per_src.select(
        "source",
        "n_docs",
        "n_langs",
        (
            (
                ln_n_micro.cast("double")
                - F.col("_wsum").cast("double") / F.col("n_docs").cast("double")
            )
            / F.lit(1e6)
        ).alias("lang_entropy"),
    )


SQL_LANG_ENTROPY_BY_SOURCE = """
WITH counts AS (
  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2
), per_src AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_docs,
         COUNT(*) AS n_langs,
         CAST(SUM(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS wsum
  FROM counts GROUP BY 1
)
SELECT source, n_docs, n_langs,
       (CAST(CAST(round(ln(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS DOUBLE)
              - CAST(wsum AS DOUBLE) / CAST(n_docs AS DOUBLE)) / 1000000.0 AS lang_entropy
FROM per_src
"""


def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test of customer market segment ×
    order priority — the feature-correlation screen over two categorical
    columns. Observed cell counts come from ONE shuffle (orders ⋈
    customer hint-free → grouped count); the row/column/grand-total
    margins ride WINDOW sums over the resulting ~35-cell table — the
    margins-as-aggregates form re-evaluated the whole orders⋈customer
    subtree once per margin (8 fact scans; Spark materializes no CTEs),
    where windows on the bounded post-aggregate frame cost nothing.
    Each cell's (obs−exp)²/exp is rounded to integer micro-units before
    the final sum, so the statistic is exact integer math over ~35 cells
    (a raw double sum would be order-dependent across engines)."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    obs = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    # margins over the segments×priorities cell table (bounded domains —
    # the unpartitioned grand-total window sees ~35 rows by construction)
    cells = obs.select(
        "c_mktsegment",
        "o_orderpriority",
        "obs",
        F.sum("obs").over(Window.partitionBy("c_mktsegment")).alias("_rt"),
        F.sum("obs").over(Window.partitionBy("o_orderpriority")).alias("_ct"),
        F.sum("obs").over(Window.partitionBy()).alias("_n"),
    )
    exp = F.col("_rt").cast("double") * F.col("_ct").cast("double") / F.col("_n").cast("double")
    contrib_micro = F.round(
        (F.col("obs").cast("double") - exp) * (F.col("obs").cast("double") - exp)
        / exp
        * 1_000_000
    ).cast("long")
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        (
            (F.count_distinct("c_mktsegment") - 1)
            * (F.count_distinct("o_orderpriority") - 1)
        ).alias("dof"),
        F.round(F.sum(contrib_micro) / F.lit(1e6), 6).alias("chi2"),
    )


SQL_CHI_SQUARE_INDEPENDENCE = """
WITH obs AS (
  SELECT c_mktsegment, o_orderpriority, COUNT(*) AS obs
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), rowt AS (
  SELECT c_mktsegment, CAST(SUM(obs) AS BIGINT) AS rt FROM obs GROUP BY 1
), colt AS (
  SELECT o_orderpriority, CAST(SUM(obs) AS BIGINT) AS ct FROM obs GROUP BY 1
), tot AS (
  SELECT CAST(SUM(obs) AS BIGINT) AS n FROM obs
), cells AS (
  SELECT obs.*, rt, ct, n,
         CAST(round((CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(obs AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                    / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS contrib
  FROM obs JOIN rowt USING (c_mktsegment) JOIN colt USING (o_orderpriority) CROSS JOIN tot
)
SELECT COUNT(*) AS n_cells,
       (COUNT(DISTINCT c_mktsegment) - 1) * (COUNT(DISTINCT o_orderpriority) - 1) AS dof,
       round(CAST(SUM(contrib) AS BIGINT) / 1000000.0, 6) AS chi2
FROM cells
"""


def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations (U2 completion): INTERSECT ALL keeps
    min(multiplicity), EXCEPT ALL subtracts multiplicities — the variants
    `set_ops` (distinct semantics) doesn't cover. Operands: customer
    nation keys vs supplier nation keys, both with duplicates. Spark
    plans both as aggregate+join on the value (no Expand); the summary
    collapses the multisets to verifiable counts per nation."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    both = c.intersectAll(s).groupBy("nk").agg(F.count(F.lit(1)).alias("n_common"))
    only_c = c.exceptAll(s).groupBy("nk").agg(F.count(F.lit(1)).alias("n_cust_only"))
    return both.join(only_c, "nk", "full").select(
        "nk",
        F.coalesce("n_common", F.lit(0)).alias("n_common"),
        F.coalesce("n_cust_only", F.lit(0)).alias("n_cust_only"),
    )


SQL_SET_OPS_ALL = """
WITH c AS (SELECT c_nationkey AS nk FROM customer),
s AS (SELECT s_nationkey AS nk FROM supplier),
both_ AS (
  SELECT nk, COUNT(*) AS n_common FROM (SELECT nk FROM c INTERSECT ALL SELECT nk FROM s) GROUP BY nk
), only_c AS (
  SELECT nk, COUNT(*) AS n_cust_only FROM (SELECT nk FROM c EXCEPT ALL SELECT nk FROM s) GROUP BY nk
)
SELECT COALESCE(both_.nk, only_c.nk) AS nk,
       COALESCE(n_common, 0) AS n_common,
       COALESCE(n_cust_only, 0) AS n_cust_only
FROM both_ FULL OUTER JOIN only_c ON both_.nk = only_c.nk
"""


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — the semantic a plain equi
    join silently drops (the reference's parent_id joins carry NULLs,
    J1). Key: priority with '1-URGENT' nulled out; the dim is the
    distinct key set, so every fact row (including NULL-keyed) must
    survive the inner join — count parity proves the NULL group joins."""
    o = _t(spark, sf_dir, "orders").select(
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("prio_key")
    )
    # re-alias the dim's key column: it derives from `o`, so without the
    # rename both sides of eqNullSafe resolve to the same attribute
    # (Spark warns "trivially true equals predicate")
    dim = o.distinct().select(
        F.col("prio_key").alias("_dim_key"),
        F.coalesce(F.col("prio_key"), F.lit("URGENT_RECLASSED")).alias("label"),
    )
    joined = o.join(dim, F.col("prio_key").eqNullSafe(F.col("_dim_key")))
    return joined.groupBy("label").agg(F.count(F.lit(1)).alias("n_orders"))


SQL_NULL_SAFE_JOIN = """
WITH o AS (
  SELECT NULLIF(o_orderpriority, '1-URGENT') AS prio_key FROM orders
), dim AS (
  SELECT prio_key, COALESCE(prio_key, 'URGENT_RECLASSED') AS label
  FROM (SELECT DISTINCT prio_key FROM o)
)
SELECT label, COUNT(*) AS n_orders
FROM o JOIN dim ON o.prio_key IS NOT DISTINCT FROM dim.prio_key
GROUP BY label
"""


def q_shipmode_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (completes the 22-query set; no l_shipmode column,
    so l_linestatus stands in as the mode): per mode, how many high- vs
    low-priority orders shipped in a year window. Conditional aggregation
    over the one orderkey join; only the 3 needed columns leave either
    scan, and the date range pushes down to parquet."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("l_linestatus").alias("ship_mode"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )


SQL_SHIPMODE_PRIORITY_COUNTS = """
SELECT l_linestatus AS ship_mode,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""


def q_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy subtree aggregation (the natural next question after
    the reference's hierarchy view: 'how much is UNDER each folder?'):
    per node of the region→nation→customer tree, the descendant count
    and total customer balance in its whole subtree. One ancestor
    closure (operators/hierarchy.py:ancestor_closure — O(N·depth) rows)
    then ONE grouped aggregate keyed on the ancestor; never a per-node
    walk. Balance in exact cents end-to-end."""
    region = _t(spark, sf_dir, "region").select(
        F.concat(F.lit("R"), F.col("r_regionkey")).alias("node_id"),
        F.lit(None).cast("string").alias("parent_id"),
        F.lit(0).cast("long").alias("_cents"),
    )
    nation = _t(spark, sf_dir, "nation").select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("node_id"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("parent_id"),
        F.lit(0).cast("long").alias("_cents"),
    )
    customer = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("node_id"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("parent_id"),
        (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").alias("_cents"),
    )
    nodes = region.unionByName(nation).unionByName(customer)
    anc = ancestor_closure(nodes, "node_id", "parent_id")
    measures = nodes.select(F.col("node_id"), "_cents")
    return (
        anc.join(measures, "node_id")
        .groupBy(F.col("ancestor_id").alias("node_id"))
        .agg(
            F.sum(F.when(F.col("distance") > 0, 1).otherwise(0)).alias("n_descendants"),
            (F.sum("_cents") / F.lit(100.0)).alias("subtree_balance"),
        )
    )


SQL_SUBTREE_ROLLUP = """
WITH RECURSIVE nodes AS (
  SELECT concat('R', r_regionkey) AS node_id, CAST(NULL AS VARCHAR) AS parent_id,
         CAST(0 AS BIGINT) AS cents FROM region
  UNION ALL
  SELECT concat('N', n_nationkey), concat('R', n_regionkey), CAST(0 AS BIGINT) FROM nation
  UNION ALL
  SELECT concat('C', c_custkey), concat('N', c_nationkey),
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) FROM customer
), anc(node_id, ancestor_id, distance) AS (
  SELECT node_id, node_id, 0 FROM nodes
  UNION ALL
  SELECT a.node_id, n.parent_id, a.distance + 1
  FROM anc a JOIN nodes n ON a.ancestor_id = n.node_id
  WHERE n.parent_id IS NOT NULL
)
SELECT a.ancestor_id AS node_id,
       CAST(SUM(CASE WHEN a.distance > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_descendants,
       CAST(SUM(m.cents) AS BIGINT) / 100.0 AS subtree_balance
FROM anc a JOIN nodes m ON a.node_id = m.node_id
GROUP BY a.ancestor_id
"""


def q_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, forward direction with a tolerance horizon: for each
    user's 'click' event, the value of their NEXT 'purchase' within 2
    hours (NULL if none) — attribution windows, exactly pandas
    merge_asof(direction='forward', tolerance=...). Same union+window
    construction as the backward join (operators/joins.py:asof_join):
    one key shuffle, tolerance as a post-filter on the carried match
    timestamp — never a range join."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.round("value", 6).alias("purchase_value")
    )
    return J.asof_join(
        clicks, purchases, "user_id", "ts", "p_ts", ["purchase_value"],
        direction="forward", tolerance_seconds=7200,
    )


# the oracle replays the identical union+window construction (DuckDB has
# native ASOF JOIN but only backward and without tolerance)
SQL_ASOF_FORWARD_TOLERANCE = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts AS p_ts, round(value, 6) AS purchase_value
  FROM events WHERE event_type = 'purchase'
), unioned AS (
  SELECT event_id, user_id, ts AS _ts, 1 AS side, CAST(NULL AS DOUBLE) AS pv
  FROM clicks
  UNION ALL
  SELECT NULL, user_id, p_ts, 0, purchase_value FROM purchases
), filled AS (
  SELECT event_id, user_id, _ts, side,
         last_value(CASE WHEN side = 0 THEN pv END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY _ts DESC, side ASC
                 ROWS UNBOUNDED PRECEDING) AS pv_carried,
         last_value(CASE WHEN side = 0 THEN _ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY _ts DESC, side ASC
                 ROWS UNBOUNDED PRECEDING) AS mts
  FROM unioned
)
SELECT event_id, user_id, _ts AS ts,
       CASE WHEN mts IS NOT NULL
             AND abs(epoch_us(_ts) - epoch_us(mts)) <= CAST(7200 AS BIGINT) * 1000000
            THEN pv_carried END AS purchase_value
FROM filled WHERE side = 1
"""


def q_id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-continuity audit: every gap in the event_id space (lost
    records, broken ingestion). The naive form is a lead() over a GLOBAL
    ordering — one task at any scale. Scale-safe form used here: ids
    bucket into fixed blocks (1024 ids), the lead() runs WITHIN each
    block (parallel, one hash exchange), and gaps that straddle a block
    boundary are stitched from the per-block (min, max) aggregate —
    a single-task lead over id-space/block_size rows, so the block size
    is the knob: 1024 here so test data exercises the stitch; at a
    10^12-id space you set ~10^6 so the stitch table stays ~10^6 rows
    (one comfortable task). Emits (gap_start,
    gap_end) inclusive ranges of missing ids. The corpus has contiguous
    ids, so deterministic holes are carved in-query (the pii_scrub
    fixture pattern: drop ids where id % 97 ∈ {3, 4})."""
    ev = _t(spark, sf_dir, "events").select("event_id").filter(
        ~(F.col("event_id") % 97).isin(3, 4)
    )
    blk = (F.col("event_id") / 1024).cast("long")
    w_in = Window.partitionBy("_blk").orderBy("event_id")
    within = (
        ev.withColumn("_blk", blk)
        .withColumn("_next", F.lead("event_id").over(w_in))
        .filter(F.col("_next") > F.col("event_id") + 1)
        .select(
            (F.col("event_id") + 1).alias("gap_start"),
            (F.col("_next") - 1).alias("gap_end"),
        )
    )
    # boundary stitch: per-block extremes are a tiny table; lead() over
    # it exposes holes between one block's max and the next block's min
    blocks = ev.groupBy(blk.alias("_blk")).agg(
        F.min("event_id").alias("_mn"), F.max("event_id").alias("_mx")
    )
    w_blk = Window.orderBy("_blk")
    across = (
        blocks.withColumn("_next_mn", F.lead("_mn").over(w_blk))
        .filter(F.col("_next_mn") > F.col("_mx") + 1)
        .select(
            (F.col("_mx") + 1).alias("gap_start"),
            (F.col("_next_mn") - 1).alias("gap_end"),
        )
    )
    return within.unionByName(across)


SQL_ID_GAP_AUDIT = """
WITH ev AS (
  SELECT event_id FROM events WHERE (event_id % 97) NOT IN (3, 4)
), within AS (
  SELECT event_id + 1 AS gap_start, nxt - 1 AS gap_end FROM (
    SELECT event_id, event_id // 1024 AS blk,
           LEAD(event_id) OVER (PARTITION BY event_id // 1024 ORDER BY event_id) AS nxt
    FROM ev
  ) WHERE nxt > event_id + 1
), blocks AS (
  SELECT event_id // 1024 AS blk, MIN(event_id) AS mn, MAX(event_id) AS mx
  FROM ev GROUP BY 1
), across AS (
  SELECT mx + 1 AS gap_start, next_mn - 1 AS gap_end FROM (
    SELECT blk, mx, LEAD(mn) OVER (ORDER BY blk) AS next_mn FROM blocks
  ) WHERE next_mn > mx + 1
)
SELECT * FROM within UNION ALL SELECT * FROM across
"""


def q_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC feed between two corpus snapshots — snapshot_diff's
    summary answers 'did it change?'; this emits the actual change rows
    a downstream incremental consumer applies: one op row per delta
    (insert with new content hash, delete, update with both hashes).
    Unchanged rows — the overwhelming majority at scale — are filtered
    INSIDE the same reconciliation pass, so the feed's size is
    O(changes), never O(corpus). Same deterministic snapshot derivation
    as snapshot_diff (md5-hash 10% removed / 20% rewritten / 10% new).

    r11 (guide §6/§2.4, VERDICT r10 #6): same one-scan shape as
    snapshot_diff — (k, _oh, _nh) hash half-rows from a single corpus
    pass via conditional explode, merged by groupBy(k) with max() (at
    most one non-null per side per key), replacing three corpus scans
    and a two-sided full-outer exchange with one scan and one exchange
    that carries 32-byte hashes, not documents."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    h = D.md5_long(F.col("doc_id"), seed=11) % 10
    surv_text = (
        F.when(h <= 2, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
    )
    _null_s = F.lit(None).cast("string")
    old_half = F.struct(
        F.col("doc_id").alias("k"),
        F.md5("text").alias("_oh"), _null_s.alias("_nh"),
    )
    new_half = F.struct(
        F.col("doc_id").alias("k"),
        _null_s.alias("_oh"), F.md5(surv_text).alias("_nh"),
    )
    add_half = F.struct(
        (F.col("doc_id") + F.lit(1 << 40)).alias("k"),
        _null_s.alias("_oh"), F.md5("text").alias("_nh"),
    )
    n_emit = F.when(h == 0, F.lit(1)).when(h == 9, F.lit(3)).otherwise(F.lit(2))
    halves = docs.select(
        F.explode(
            F.slice(F.array(old_half, new_half, add_half), F.lit(1), n_emit)
        ).alias("r")
    ).select("r.*")
    op = (
        F.when(F.col("_oh").isNull(), F.lit("insert"))
        .when(F.col("_nh").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return (
        halves.groupBy("k")
        .agg(F.max("_oh").alias("_oh"), F.max("_nh").alias("_nh"))
        .filter(
            F.col("_oh").isNull() | F.col("_nh").isNull() | (F.col("_oh") != F.col("_nh"))
        )
        .select(
            F.col("k").alias("doc_id"),
            op.alias("op"),
            F.col("_oh").alias("old_hash"),
            F.col("_nh").alias("new_hash"),
        )
    )


SQL_CHANGE_FEED = """
WITH base AS (
  SELECT doc_id, text,
         CAST(('0x' || substr(md5(concat('11|', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 10 AS h
  FROM documents
), new AS (
  SELECT doc_id, CASE WHEN h <= 2 THEN concat(text, ' v2') ELSE text END AS text
  FROM base WHERE h <> 0
  UNION ALL
  SELECT doc_id + 1099511627776 AS doc_id, text FROM base WHERE h = 9
), o AS (
  SELECT doc_id AS k, md5(text) AS oh FROM base
), n AS (
  SELECT doc_id AS k, md5(text) AS nh FROM new
)
SELECT COALESCE(o.k, n.k) AS doc_id,
       CASE WHEN oh IS NULL THEN 'insert'
            WHEN nh IS NULL THEN 'delete'
            ELSE 'update' END AS op,
       oh AS old_hash, nh AS new_hash
FROM o FULL OUTER JOIN n ON o.k = n.k
WHERE oh IS NULL OR nh IS NULL OR oh <> nh
"""


def q_token_id_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus → token-id encoding against a built vocabulary (the
    tokenize-to-ids step before training): top-100 tokens by frequency
    become ids 1..100 (count-desc, token-asc ties), everything else OOV
    (-1). Encoding is a pure HOF transform against a broadcast map
    LITERAL (the vocab is bounded by construction — collecting it to the
    driver is the same pattern as the reference's distinct→views loop,
    and the per-row path stays JVM codegen, zero joins per token).
    Output fingerprints the ORDERED id sequence (md5) plus token/OOV
    counts — array-free so the cross-engine compare is exact."""
    # r10: a fan_out (both passes) was A/B-measured SLOWER here — two
    # extra text exchanges vs two cheap tokenizer passes; original shape
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(D.tokens(F.col("text"))).alias("token"))
    vocab_rows = (
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(100)
        .collect()
    )
    pairs: list = []
    for i, r in enumerate(vocab_rows):
        pairs.extend([F.lit(r["token"]), F.lit(i + 1)])
    if pairs:
        vmap = F.create_map(*pairs)
    else:
        # empty corpus: create_map() with no args types as map<void,void>
        # and map[token] fails analysis — build a typed empty map instead
        vmap = F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<int>")
        )
    w = D.tokens(F.col("text"))
    ids = F.transform(w, lambda t: F.coalesce(vmap[t], F.lit(-1)))
    return docs.select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        F.size(F.filter(ids, lambda i: i == -1)).alias("n_oov"),
        F.md5(F.concat_ws(" ", ids)).alias("ids_fingerprint"),
    )


SQL_TOKEN_ID_ENCODE = """
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
  FROM documents
), vocab AS (
  SELECT token, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS tid
  FROM toks GROUP BY token
  ORDER BY COUNT(*) DESC, token ASC LIMIT 100
), vm AS (
  SELECT MAP(list(token ORDER BY tid), list(tid ORDER BY tid)) AS m FROM vocab
), docw AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), enc AS (
  SELECT doc_id, w,
         list_transform(w, t -> COALESCE(m[t][1], -1)) AS ids
  FROM docw CROSS JOIN vm
)
SELECT doc_id,
       CAST(len(w) AS INTEGER) AS n_tokens,
       CAST(len(list_filter(ids, i -> i = -1)) AS INTEGER) AS n_oov,
       md5(array_to_string(ids, ' ')) AS ids_fingerprint
FROM enc
"""


def q_sentence_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-granularity boilerplate detection (the cleaner real
    curation pipelines run alongside the n-gram one: repeated FULL
    sentences across documents are navigation/footer/template text).
    Sentences = [.!?]-delimited spans, normalized (lower, squeezed
    whitespace) and keyed by md5; a sentence in >= 3 DISTINCT docs is
    boilerplate. Same inverted-index shape as boilerplate_ngrams: one
    corpus-scale explode+aggregate keyed on the sentence hash, hot set
    semi-joined back. Fraction is an unrounded count ratio (exact).
    The synthetic docs are single sentences with no cross-doc repeats,
    so deterministic template footers are appended in-query (the
    pii_scrub fixture pattern) — the detector must find exactly those."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(". Subscribe to our newsletter now."))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" Click here to unsubscribe!"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    sent_arr = F.filter(
        F.transform(
            F.split(F.col("text"), r"[.!?]+"),
            lambda x: F.trim(F.regexp_replace(F.lower(x), r"\s+", " ")),
        ),
        lambda x: x != "",
    )
    sents = docs.select(
        "doc_id", F.explode(sent_arr).alias("_s")
    ).select("doc_id", F.md5("_s").alias("_h"))
    hot = (
        sents.groupBy("_h")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= 3)
        .select("_h")
    )
    per_doc = sents.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sentences"))
    boiler = (
        sents.join(hot, "_h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_nb"))
    )
    return (
        per_doc.join(boiler, "doc_id", "left")
        .select(
            "doc_id",
            "n_sentences",
            F.coalesce("_nb", F.lit(0)).cast("long").alias("n_boilerplate"),
            (
                F.coalesce("_nb", F.lit(0)).cast("double")
                / F.col("n_sentences").cast("double")
            ).alias("boiler_frac"),
        )
    )


SQL_SENTENCE_BOILERPLATE = """
WITH sents AS (
  SELECT doc_id,
         md5(s) AS h
  FROM (
    SELECT doc_id,
           unnest(list_filter(
             list_transform(string_split_regex(t, '[.!?]+'),
                            x -> trim(regexp_replace(lower(x), '\\s+', ' ', 'g'))),
             x -> x <> '')) AS s
    FROM (
      SELECT doc_id,
             concat(text,
                    CASE WHEN doc_id % 4 = 0 THEN '. Subscribe to our newsletter now.' ELSE '' END,
                    CASE WHEN doc_id % 7 = 0 THEN ' Click here to unsubscribe!' ELSE '' END) AS t
      FROM documents
    )
  )
), hot AS (
  SELECT h FROM sents GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 3
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_sentences FROM sents GROUP BY doc_id
), boiler AS (
  SELECT doc_id, COUNT(*) AS nb FROM sents WHERE h IN (SELECT h FROM hot) GROUP BY doc_id
)
SELECT p.doc_id, p.n_sentences,
       CAST(COALESCE(b.nb, 0) AS BIGINT) AS n_boilerplate,
       CAST(COALESCE(b.nb, 0) AS DOUBLE) / CAST(p.n_sentences AS DOUBLE) AS boiler_frac
FROM per_doc p LEFT JOIN boiler b ON p.doc_id = b.doc_id
"""


def q_groupwise_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (the §2.10 Python surface this catalog
    didn't yet exercise — grouped AGG, mapInPandas, UDTF and DataSource
    all are): per event_type, min-max normalize the value column. The
    pandas function sees each whole group as one Arrow batch
    (FlatMapGroupsInPandas — one shuffle on the group key); this exact
    semantics IS expressible with window functions, which is what the
    oracle uses — so the Python path is hash-verified against pure SQL,
    proving the Arrow transport mangles nothing. Per-row float ops are
    single IEEE subtract/divide (numpy and JVM agree bit-for-bit)."""
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        mn, mx = pdf["value"].min(), pdf["value"].max()
        rng = mx - mn
        pdf = pdf.copy()
        pdf["value_norm"] = (pdf["value"] - mn) / rng if rng > 0 else 0.0
        return pdf[["event_id", "event_type", "value_norm"]]

    return ev.groupBy("event_type").applyInPandas(
        norm, "event_id long, event_type string, value_norm double"
    )


SQL_GROUPWISE_MINMAX_NORM = """
SELECT event_id, event_type,
       CASE WHEN MAX(value) OVER w > MIN(value) OVER w
            THEN (value - MIN(value) OVER w) / (MAX(value) OVER w - MIN(value) OVER w)
            ELSE 0.0 END AS value_norm
FROM events
WINDOW w AS (PARTITION BY event_type)
"""


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation shape: confusion matrix of the lang-ID
    heuristic against the labeled lang column, plus per-label recall —
    the eval pass any pipeline model (quality classifier, language
    detector) gets before its threshold is trusted. One grouped count
    over (label, guess); recall = per-cell count over the label's
    marginal via a window on the tiny matrix (unrounded count ratio)."""
    docs = _t(spark, sf_dir, "documents")
    guessed = docs.select(
        F.col("lang").alias("label"),
        T.lang_id(F.col("text")).alias("guess"),
    )
    cells = guessed.groupBy("label", "guess").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("label")
    return cells.select(
        "label",
        "guess",
        "n_docs",
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w).cast("double")
        ).alias("label_frac"),
    )


SQL_LANGID_CONFUSION = """
WITH toks AS (
  SELECT lang AS label,
         list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS w
  FROM documents
), langs AS (
  SELECT label,
         [struct_pack(hits := CAST(len(list_filter(w, t -> list_contains(['the','and','of','to','is'], t))) AS BIGINT), lang := 'en'),
          struct_pack(hits := CAST(len(list_filter(w, t -> list_contains(['der','die','und','nicht','ist'], t))) AS BIGINT), lang := 'de'),
          struct_pack(hits := CAST(len(list_filter(w, t -> list_contains(['le','la','et','les','est'], t))) AS BIGINT), lang := 'fr'),
          struct_pack(hits := CAST(len(list_filter(w, t -> list_contains(['el','la','que','de','es'], t))) AS BIGINT), lang := 'es'),
          struct_pack(hits := CAST(len(list_filter(w, t -> list_contains(['de5','shi4','bu4','le5','zai4'], t))) AS BIGINT), lang := 'zh')] AS pairs
  FROM toks
), best AS (
  SELECT label, list_aggregate(pairs, 'max') AS b FROM langs
), guessed AS (
  SELECT label, CASE WHEN b.hits > 0 THEN b.lang ELSE 'und' END AS guess FROM best
), cells AS (
  SELECT label, guess, COUNT(*) AS n_docs FROM guessed GROUP BY 1, 2
)
SELECT label, guess, n_docs,
       CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER (PARTITION BY label) AS DOUBLE) AS label_frac
FROM cells
"""


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the lang-ID heuristic and the labeled lang
    column — chance-corrected agreement, the eval standard when two
    annotators (or a model and a gold set) label the same items. All
    statistics derive from ONE scan: the (label, guess) confusion cells
    (≤ |langs|² rows) feed the totals, the marginals, and the chance
    term Σ row_k·col_k; po, pe, and kappa each ship as a SINGLE division
    of exact int64 expressions (kappa = (N·agree − Σ)/(N² − Σ) — the
    algebra clears the classic (po−pe)/(1−pe) float chain entirely)."""
    docs = _t(spark, sf_dir, "documents")
    cells = (
        docs.select(
            F.col("lang").alias("label"), T.lang_id(F.col("text")).alias("guess")
        )
        .groupBy("label", "guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # cells (≤ |langs|² rows) feeds three consumers — without a
    # checkpoint each would re-scan the corpus and re-run the lang-ID
    # HOF (Spark materializes no CTEs)
    cells = cells.localCheckpoint(eager=True)
    tot = cells.agg(
        F.sum("n").alias("n_total"),
        F.sum(F.when(F.col("label") == F.col("guess"), F.col("n")).otherwise(0)).alias(
            "n_agree"
        ),
    )
    r = cells.groupBy(F.col("label").alias("k")).agg(F.sum("n").alias("rk"))
    c = cells.groupBy(F.col("guess").alias("k")).agg(F.sum("n").alias("ck"))
    s = r.join(c, "k").agg(
        F.coalesce(F.sum(F.col("rk") * F.col("ck")), F.lit(0)).alias("chance")
    )
    return (
        tot.crossJoin(bounded_broadcast(s, "one_row"))
        .select(
            "n_total",
            "n_agree",
            (F.col("n_agree").cast("double") / F.col("n_total").cast("double")).alias(
                "po"
            ),
            (
                F.col("chance").cast("double")
                / (F.col("n_total") * F.col("n_total")).cast("double")
            ).alias("pe"),
            (
                (F.col("n_total") * F.col("n_agree") - F.col("chance")).cast("double")
                / (F.col("n_total") * F.col("n_total") - F.col("chance")).cast(
                    "double"
                )
            ).alias("kappa"),
        )
    )


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Pareto frontier over (quality ↑, length ↓) — the
    multi-objective selection a curation pipeline runs when no single
    score ranks documents ("best quality at every length budget"). A doc
    is dominated iff some doc has ≥ quality and ≤ length with one strict.

    The naive formulation is a quadratic self-join (NOT EXISTS dominance
    probe); the 2-D identity collapses it to sorting: group to one row
    per (lang, quality) with the group's min length, take the strict
    prefix-min of length over quality DESC (a bounded window over ≤
    |distinct quality| rows), and keep docs matching their group min
    that beat the prefix-min. No arithmetic beyond comparisons, so
    cross-engine parity is structural. One shuffle for the group-by,
    one tiny window, one join back."""
    docs = _t(spark, sf_dir, "documents")
    # checkpoint the scored frame: both the (lang, quality) grouping and
    # the join-back reference it, and re-deriving it re-runs the
    # tokenization over the full corpus (measured ~2x the entry's cost)
    m = docs.select(
        "doc_id",
        "lang",
        T.stopword_ratio(F.col("text")).alias("quality"),
        F.size(D.tokens(F.col("text"))).cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=True)
    per_q = m.groupBy("lang", "quality").agg(F.min("n_tokens").alias("mlen"))
    wq = (
        Window.partitionBy("lang")
        .orderBy(F.desc("quality"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    strict = per_q.withColumn("smin", F.min("mlen").over(wq))
    return (
        m.join(strict, ["lang", "quality"])
        .filter(
            (F.col("n_tokens") == F.col("mlen"))
            & (F.col("smin").isNull() | (F.col("mlen") < F.col("smin")))
        )
        .select("doc_id", "lang", "quality", "n_tokens")
    )


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) in nats — the dependence
    measure behind feature selection and leakage checks (chi-square's
    information-theoretic sibling; same margins-as-windows plan: ONE
    grouped count, windows over the ~25-cell frame, no re-scans).
    Per-cell terms (n/N)·ln(N·n/(n_l·n_s)) are identical double trees on
    both engines, floored to integer micro-nats BEFORE the sum (a raw
    double Σ is order-dependent), so the statistic is exact to 1e-6."""
    docs = _t(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    w_all = Window.partitionBy()
    w_l = Window.partitionBy("lang")
    w_s = Window.partitionBy("source")
    t = cells.select(
        "n",
        F.sum("n").over(w_all).alias("nt"),
        F.sum("n").over(w_l).alias("nl"),
        F.sum("n").over(w_s).alias("ns"),
    )
    term = (F.col("n").cast("double") / F.col("nt").cast("double")) * F.log(
        (F.col("nt").cast("double") * F.col("n").cast("double"))
        / (F.col("nl").cast("double") * F.col("ns").cast("double"))
    )
    return t.agg(
        F.max("nt").alias("n_total"),
        F.count(F.lit(1)).alias("n_cells"),
        (
            F.sum(F.floor(term * 1000000.0 + 0.5).cast("long")).cast("double")
            / 1000000.0
        ).alias("mi_nats"),
    )














def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals — the classic
    fabricated-data screen (synthetic uniform data FAILS Benford loudly,
    which is exactly what the audit should report here). The first
    significant digit comes from the CENTS integer's string form (no
    log10 float path), counts are one tiny grouped aggregate, and the
    observed fraction plus its deviation from log10(1+1/d) are single
    divisions / fixed literals per digit row."""
    orders = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        orders.select(digit.alias("d"))
        .filter(F.col("d") >= 1)
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy()
    import math

    expected = F.element_at(
        F.array(*[F.lit(math.log10(1 + 1 / d)) for d in range(1, 10)]), F.col("d")
    )
    return counts.select(
        "d",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w).cast("double")).alias(
            "observed_frac"
        ),
        expected.alias("benford_frac"),
        (
            F.abs(
                F.col("n").cast("double") / F.sum("n").over(w).cast("double")
                - expected
            )
        ).alias("abs_deviation"),
    )


SQL_BENFORD_AUDIT = """
WITH cents AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM orders
), digits AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS d FROM cents
), counts AS (
  SELECT d, COUNT(*) AS n FROM digits WHERE d >= 1 GROUP BY d
), expect AS (
  SELECT * FROM (VALUES (1, log10(1 + 1.0/1)), (2, log10(1 + 1.0/2)),
                        (3, log10(1 + 1.0/3)), (4, log10(1 + 1.0/4)),
                        (5, log10(1 + 1.0/5)), (6, log10(1 + 1.0/6)),
                        (7, log10(1 + 1.0/7)), (8, log10(1 + 1.0/8)),
                        (9, log10(1 + 1.0/9))) AS t(d, benford_frac)
)
SELECT c.d, CAST(c.n AS BIGINT) AS n,
       CAST(c.n AS DOUBLE) / CAST(SUM(c.n) OVER () AS DOUBLE) AS observed_frac,
       e.benford_frac,
       abs(CAST(c.n AS DOUBLE) / CAST(SUM(c.n) OVER () AS DOUBLE) - e.benford_frac) AS abs_deviation
FROM counts c JOIN expect e ON c.d = e.d
"""


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic per event_type —
    PSI's sibling that needs NO binning model: D = max |CDF_ref −
    CDF_cur| over the value support. Same single-scan shape as the PSI
    entry (period pivoted INSIDE one aggregate over (type, value)),
    then running sums per type give both empirical CDFs; every CDF
    point is a single division of exact counts and D is a max over
    bit-identical doubles. Values quantize to cents for an exact
    support; one shuffle on (type, value), one window per type."""
    ev = _t(spark, sf_dir, "events")
    mid = F.lit("2024-01-16").cast("timestamp")
    vq = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    counts = (
        ev.select(
            "event_type",
            vq.alias("v"),
            (F.col("ts") < mid).cast("long").alias("_ref"),
        )
        .groupBy("event_type", "v")
        .agg(
            F.sum("_ref").alias("n_ref"),
            F.sum(1 - F.col("_ref")).alias("n_cur"),
        )
    )
    w = Window.partitionBy("event_type").orderBy(F.asc("v")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wg = Window.partitionBy("event_type")
    cdf = counts.select(
        "event_type",
        (
            F.sum("n_ref").over(w).cast("double")
            / F.sum("n_ref").over(wg).cast("double")
        ).alias("cdf_ref"),
        (
            F.sum("n_cur").over(w).cast("double")
            / F.sum("n_cur").over(wg).cast("double")
        ).alias("cdf_cur"),
    )
    return cdf.groupBy("event_type").agg(
        F.max(F.abs(F.col("cdf_ref") - F.col("cdf_cur"))).alias("ks_statistic")
    )


SQL_KS_DRIFT = """
WITH counts AS (
  SELECT event_type,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
  FROM events GROUP BY 1, 2
), cdf AS (
  SELECT event_type,
         CAST(SUM(n_ref) OVER (PARTITION BY event_type ORDER BY v ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(SUM(n_ref) OVER (PARTITION BY event_type) AS DOUBLE) AS cdf_ref,
         CAST(SUM(n_cur) OVER (PARTITION BY event_type ORDER BY v ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(SUM(n_cur) OVER (PARTITION BY event_type) AS DOUBLE) AS cdf_cur
  FROM counts
)
SELECT event_type, MAX(abs(cdf_ref - cdf_cur)) AS ks_statistic
FROM cdf GROUP BY event_type
"""


def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the growth-curve metric whose
    naive form (COUNT(DISTINCT) over an expanding window) re-scans every
    prefix and is quadratic. The first-touch identity makes it linear:
    a user contributes to exactly ONE day (their first), so min(ts) per
    user → count per first-day → running sum over the ~30-row day table.
    One shuffle on user_id, one on day, a window over days only."""
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("first_day")
    )
    daily = first.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy(F.asc("day")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


SQL_CUMULATIVE_DISTINCT_USERS = """
WITH first AS (
  SELECT user_id, CAST(MIN(ts) AS DATE) AS first_day FROM events GROUP BY user_id
), daily AS (
  SELECT first_day AS day, COUNT(*) AS new_users FROM first GROUP BY first_day
)
SELECT day, CAST(new_users AS BIGINT) AS new_users,
       CAST(SUM(new_users) OVER (ORDER BY day ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative_users
FROM daily
"""


def q_trend_slope_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS trend per event_type: slope of value against
    hours-since-first-event, plus Pearson r — the grouped regression
    every metric dashboard fits, without MLlib and without iteration.
    Two passes over one group key: min(ts) per type (tiny, broadcast
    back), then a single grouped aggregate of the five integer moment
    sums (x in whole hours, y in milli-units — both int64-exact, sized
    so every product fits). slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is ONE
    division of exact ints; r's denominator multiplies the two exact
    variance terms as DOUBLES (their int64 product could overflow) —
    identical trees on both engines."""
    ev = _t(spark, sf_dir, "events")
    t0 = ev.groupBy("event_type").agg(F.min("ts").alias("_t0"))
    base = ev.join(bounded_broadcast(t0, "domain"), "event_type").select(
        "event_type",
        F.floor(
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("_t0")))
            / F.lit(3600000000.0)
        ).cast("long").alias("x"),
        F.floor(F.col("value") * 1000.0 + 0.5).cast("long").alias("y"),
    )
    m = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    den_y = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    return m.filter((den_x > 0) & (den_y > 0)).select(
        "event_type",
        "n",
        (num.cast("double") / den_x.cast("double")).alias("slope_milli_per_hour"),
        (
            num.cast("double")
            / F.sqrt(den_x.cast("double") * den_y.cast("double"))
        ).alias("pearson_r"),
    )


SQL_TREND_SLOPE_BY_TYPE = """
WITH t0 AS (
  SELECT event_type, MIN(ts) AS t0 FROM events GROUP BY event_type
), base AS (
  SELECT e.event_type,
         CAST(floor((epoch_us(e.ts) - epoch_us(t0.t0)) / 3600000000.0) AS BIGINT) AS x,
         CAST(floor(e.value * 1000.0 + 0.5) AS BIGINT) AS y
  FROM events e JOIN t0 ON e.event_type = t0.event_type
), m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sx2,
         CAST(SUM(y * y) AS BIGINT) AS sy2
  FROM base GROUP BY event_type
)
SELECT event_type, n,
       CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sx2 - sx * sx AS DOUBLE) AS slope_milli_per_hour,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(n * sx2 - sx * sx AS DOUBLE) * CAST(n * sy2 - sy * sy AS DOUBLE)) AS pearson_r
FROM m WHERE n * sx2 - sx * sx > 0 AND n * sy2 - sy * sy > 0
"""


def q_customer_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each customer's cumulative spend trajectory
    treated as a series of monthly NET changes (orders add, the
    synthetic refund flag subtracts): running peak via a cumulative
    max window, drawdown = peak − current, report each customer's
    worst. The whole pipeline is exact integer cents — running sums,
    running max, and the final max are all int64; only the output
    drawdown_frac is a single division. Two stacked windows on ONE
    customer partition ordering (peak needs the running balance), then
    a grouped max — no self-joins. Top-20 by (drawdown desc, custkey)
    for a bounded result."""
    orders = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    # deterministic synthetic sign: ~1/4 of orders act as refunds
    signed = F.when(F.col("o_orderkey") % 4 == 0, -cents).otherwise(cents)
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # running peak must follow the SAME event order as bal — reuse the
    # order columns, not bal
    w_peak = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    traj = orders.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        F.sum(signed).over(w).alias("bal"),
    ).select(
        "o_custkey",
        "bal",
        F.max("bal").over(w_peak).alias("peak"),
    )
    dd = traj.groupBy("o_custkey").agg(
        F.max(F.col("peak") - F.col("bal")).alias("max_drawdown_cents"),
        F.max("peak").alias("peak_cents"),
    )
    out = dd.filter(F.col("peak_cents") > 0).select(
        "o_custkey",
        "max_drawdown_cents",
        "peak_cents",
        (
            F.col("max_drawdown_cents").cast("double")
            / F.col("peak_cents").cast("double")
        ).alias("drawdown_frac"),
    )
    return out.orderBy(
        F.desc("max_drawdown_cents"), F.asc("o_custkey")
    ).limit(20)


SQL_CUSTOMER_MAX_DRAWDOWN = """
WITH signed AS (
  SELECT o_custkey, o_orderdate, o_orderkey,
         CASE WHEN o_orderkey % 4 = 0
              THEN -CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
              ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) END AS v
  FROM orders
), bal_t AS (
  SELECT o_custkey, o_orderdate, o_orderkey,
         CAST(SUM(v) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS bal
  FROM signed
), traj AS (
  SELECT o_custkey, bal,
         CAST(MAX(bal) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS peak
  FROM bal_t
), dd AS (
  SELECT o_custkey,
         CAST(MAX(peak - bal) AS BIGINT) AS max_drawdown_cents,
         CAST(MAX(peak) AS BIGINT) AS peak_cents
  FROM traj GROUP BY o_custkey
)
SELECT o_custkey, max_drawdown_cents, peak_cents,
       CAST(max_drawdown_cents AS DOUBLE) / CAST(peak_cents AS DOUBLE) AS drawdown_frac
FROM dd WHERE peak_cents > 0
ORDER BY max_drawdown_cents DESC, o_custkey ASC
LIMIT 20
"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median: per return flag, the lineitem price at
    which half the shipped QUANTITY sits on either side — the order
    statistic that resists the outlier skew a plain mean absorbs.
    Classic cumulative-weight construction: order by value, running
    weight sum, pick the first row where 2·cumw ≥ total weight. All
    weights/cumulative sums are exact int64 (quantities are integral,
    prices in cents); the pick is a pure integer comparison with a
    row_number tiebreak. One shuffle on the group key; the windows and
    the pick all ride the same partition ordering."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_c"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.asc("price_c"), F.asc("qty")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wg = Window.partitionBy("l_returnflag")
    cum = base.select(
        "l_returnflag",
        "price_c",
        F.sum("qty").over(w).alias("cumw"),
        F.sum("qty").over(wg).alias("totw"),
    )
    hits = cum.filter(2 * F.col("cumw") >= F.col("totw"))
    wpick = Window.partitionBy("l_returnflag").orderBy(
        F.asc("price_c"), F.asc("cumw")
    )
    return (
        hits.withColumn("_rn", F.row_number().over(wpick))
        .filter(F.col("_rn") == 1)
        .select(
            "l_returnflag",
            (F.col("price_c").cast("double") / 100.0).alias("weighted_median_price"),
            F.col("totw").alias("total_weight"),
        )
    )


SQL_WEIGHTED_MEDIAN = """
WITH base AS (
  SELECT l_returnflag,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
), cum AS (
  SELECT l_returnflag, price_c,
         CAST(SUM(qty) OVER (PARTITION BY l_returnflag ORDER BY price_c ASC, qty ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw,
         CAST(SUM(qty) OVER (PARTITION BY l_returnflag) AS BIGINT) AS totw
  FROM base
), hits AS (
  SELECT l_returnflag, price_c, cumw, totw,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY price_c ASC, cumw ASC) AS rn
  FROM cum WHERE 2 * cumw >= totw
)
SELECT l_returnflag,
       CAST(price_c AS DOUBLE) / 100.0 AS weighted_median_price,
       totw AS total_weight
FROM hits WHERE rn = 1
"""


def q_price_proximity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-proximity self-join: part pairs whose retail prices differ by
    at most ε=0.50 — the 1-D near-neighbor join (record linkage on a
    numeric key, price-band competitor matching). The naive form is a
    quadratic |a−b| ≤ ε theta-join; the scale form buckets each value
    at width ε and joins only same-and-adjacent buckets (every
    qualifying pair differs by ≤ ε so it lands in neighbor buckets;
    the residual |a−b| ≤ ε filter removes the false candidates).
    Prices compare in exact integer CENTS. One shuffle keyed on the
    bucket; fan-out bounded by bucket occupancy, never n². Output:
    pair count + mean gap per price decile of the lower part (compact,
    deterministic)."""
    part = _t(spark, sf_dir, "part")
    cents = (F.col("p_retailprice").cast("decimal(18,2)") * 100).cast("long")
    eps = 50  # cents
    base = part.select(F.col("p_partkey").alias("pk"), cents.alias("c")).withColumn(
        "b", F.floor(F.col("c") / eps).cast("long")
    )
    base = base.localCheckpoint(eager=True)  # feeds both join sides
    a = base.alias("a")
    neighbor = base.select(
        "pk", "c", F.explode(F.array(F.col("b") - 1, F.col("b"), F.col("b") + 1)).alias("b")
    ).alias("nb")
    pairs = a.join(
        neighbor,
        (F.col("a.b") == F.col("nb.b"))
        & (F.col("a.pk") < F.col("nb.pk"))
        & (F.abs(F.col("a.c") - F.col("nb.c")) <= eps),
    ).select(
        F.col("a.pk").alias("id_a"),
        F.col("a.c").alias("c_a"),
        F.abs(F.col("a.c") - F.col("nb.c")).alias("gap"),
    )
    # dedup: a pair can match in two buckets only if it straddles a
    # boundary AND via the neighbor explode — (a.b == nb.b) appears for
    # at most one exploded value per (a, nb) pair, so no dedup needed:
    # the explode emits nb at three DISTINCT bucket ids.
    decile = F.least(F.floor(F.col("c_a") / 100000), F.lit(9)).cast("int")
    return pairs.groupBy(decile.alias("price_decile")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (
            F.sum("gap").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mean_gap_cents"),
    )


SQL_PRICE_PROXIMITY_JOIN = """
WITH base AS (
  SELECT p_partkey AS pk,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
  FROM part
), pairs AS (
  SELECT a.pk AS id_a, a.c AS c_a, abs(a.c - b.c) AS gap
  FROM base a JOIN base b
    ON a.pk < b.pk AND abs(a.c - b.c) <= 50
)
SELECT CAST(least(floor(c_a / 100000), 9) AS INTEGER) AS price_decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_gap_cents
FROM pairs GROUP BY 1
"""


def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: type-token ratio and hapax
    fraction (tokens occurring exactly once) — the cheap vocabulary-
    richness gates next to the Gopher repetition filters (low TTR =
    repetitive/generated text). Pure per-row HOF math — tokenize once,
    count distinct types and hapaxes inside the array — zero shuffles,
    zero joins; ratios are single divisions of exact ints."""
    from shuttlestandalonedbcreator_spark.operators.util import fan_out

    # r10: fan_out the single-split per-row pass (guide §2.2)
    docs = fan_out(_t(spark, sf_dir, "documents"))
    # r10 (guide §1.2): hapax count via sort + adjacency instead of the
    # old types×tokens nested filter (quadratic per row). A hapax is a
    # run of length 1 in the sorted array, so
    # n_hapax = n_types − |distinct values with an adjacent equal pair|
    # — exact integer counting, identical result.
    def diversity(toks: Column) -> Column:
        n_types = F.size(F.array_distinct(toks)).cast("long")
        n_repeated = T.let(
            F.array_sort(toks),
            lambda s: F.size(
                F.array_distinct(
                    F.transform(
                        F.filter(T.word_bigrams(s), lambda p: p["w1"] == p["w2"]),
                        lambda p: p["w1"],
                    )
                )
            ),
        ).cast("long")
        return F.struct(
            F.size(toks).cast("long").alias("n_tokens"),
            n_types.alias("n_types"),
            (n_types - n_repeated).alias("n_hapax"),
        )

    out = docs.select(
        "doc_id", T.let(D.tokens(F.col("text")), diversity).alias("_t")
    ).select("doc_id", "_t.*")
    return out.select(
        "doc_id",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.when(
            F.col("n_tokens") > 0,
            F.col("n_types").cast("double") / F.col("n_tokens").cast("double"),
        ).otherwise(F.lit(0.0)).alias("type_token_ratio"),
        F.when(
            F.col("n_types") > 0,
            F.col("n_hapax").cast("double") / F.col("n_types").cast("double"),
        ).otherwise(F.lit(0.0)).alias("hapax_frac"),
    )


SQL_LEXICAL_DIVERSITY = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(w)) AS BIGINT) AS n_types,
         CAST(len(list_filter(list_distinct(w),
              t -> len(list_filter(w, x -> x = t)) = 1)) AS BIGINT) AS n_hapax
  FROM toks
)
SELECT doc_id, n_tokens, n_types, n_hapax,
       CASE WHEN n_tokens > 0
            THEN CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
            ELSE 0.0 END AS type_token_ratio,
       CASE WHEN n_types > 0
            THEN CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE)
            ELSE 0.0 END AS hapax_frac
FROM m
"""


def q_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto 80/20 concentration: how many customers carry 80% of
    revenue (the skew diagnostic behind partitioning and key-salting
    decisions — the same math that predicts a hot-key shuffle). Revenue
    is exact integer CENTS end-to-end: the cumulative sum over
    customers (ordered by revenue desc, custkey tiebreak) and the 80%
    crossing test cum·5 < total·4 are pure int64 — no float enters
    until the final count ratios. The running sum rides the blocked
    decomposition (`operators/scalewin.py`): value-range blocks on rev,
    per-block running sums, a ≤1024-row block-offset stitch — no
    single-partition WindowExec over the customer frame, bit-identical
    to the global window, so the oracle is unchanged."""
    orders = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    per_cust = orders.groupBy("o_custkey").agg(F.sum(cents).alias("rev"))
    ranked = SW.with_global_running_sum(
        per_cust, [("rev", "desc"), ("o_custkey", "asc")], "rev", "cum",
        total_col="_tot",
    )
    return ranked.agg(
        (
            F.sum((F.col("cum") * 5 < F.col("_tot") * 4).cast("long")) + 1
        ).alias("n_top_customers"),
        F.count(F.lit(1)).alias("n_customers"),
        (
            (F.sum((F.col("cum") * 5 < F.col("_tot") * 4).cast("long")) + 1).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("frac_customers_for_80pct"),
    )


SQL_REVENUE_CONCENTRATION = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT rev,
         CAST(SUM(rev) OVER (ORDER BY rev DESC, o_custkey ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(rev) OVER () AS BIGINT) AS tot
  FROM per_cust
)
SELECT CAST(SUM(CASE WHEN cum * 5 < tot * 4 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_top_customers,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN cum * 5 < tot * 4 THEN 1 ELSE 0 END) + 1 AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS frac_customers_for_80pct
FROM ranked
"""


def q_rolling_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags: each event scored against the mean
    and variance of its event_type's PRECEDING 20 values (the online
    monitoring shape — no global stats leak from the future into the
    score). All frame aggregates run over integer MILLI-UNIT values, so
    the sliding sums are exact int64 on both engines (double frame sums
    are the classic incremental-add/remove vs recompute drift trap);
    the z statistic is assembled from those exact sums with one sqrt +
    one division: z = (n·v − Σ) / sqrt(n·(n·Σv² − Σ²)). One shuffle on
    event_type; frame state is 20 rows per partition. Emits only the
    |z| > 2.5 anomalies plus their evidence — O(anomalies) output."""
    ev = _t(spark, sf_dir, "events")
    vq = F.floor(F.col("value") * 1000.0 + 0.5).cast("long")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-20, -1)
    )
    base = ev.select(
        "event_id", "event_type", "ts", vq.alias("_v")
    ).withColumns(
        {
            "_n": F.count("_v").over(w),
            "_s": F.sum("_v").over(w),
            "_s2": F.sum(F.col("_v") * F.col("_v")).over(w),
        }
    )
    var_num = F.col("_n") * F.col("_s2") - F.col("_s") * F.col("_s")
    z = (
        (F.col("_n") * F.col("_v") - F.col("_s")).cast("double")
        / F.sqrt((F.col("_n") * var_num).cast("double"))
    )
    return (
        base.filter((F.col("_n") >= 10) & (var_num > 0))
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 2.5)
        .select(
            "event_id",
            "event_type",
            (F.col("_v").cast("double") / 1000.0).alias("value_milli"),
            "z",
        )
    )


SQL_ROLLING_ANOMALY_ZSCORE = """
WITH base AS (
  SELECT event_id, event_type,
         CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS v,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(CAST(floor(value * 1000.0 + 0.5) AS BIGINT)) OVER w AS BIGINT) AS s,
         CAST(SUM(CAST(floor(value * 1000.0 + 0.5) AS BIGINT)
                  * CAST(floor(value * 1000.0 + 0.5) AS BIGINT)) OVER w AS BIGINT) AS s2
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, event_type,
       CAST(v AS DOUBLE) / 1000.0 AS value_milli,
       CAST(n * v - s AS DOUBLE) / sqrt(CAST(n * (n * s2 - s * s) AS DOUBLE)) AS z
FROM base
WHERE n >= 10 AND (n * s2 - s * s) > 0
  AND abs(CAST(n * v - s AS DOUBLE) / sqrt(CAST(n * (n * s2 - s * s) AS DOUBLE))) > 2.5
"""


def q_approx_topk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based heavy hitters via Spark 4's `approx_top_k` (one
    bounded-memory aggregate, no per-item shuffle — the engine-native
    sibling of the Misra-Gries pre-pass in `frequent_tokens`), audited
    against the exact counts with TRUE-pinned contract booleans (the
    `approx_aggregates_audit` pattern — sketch internals aren't
    SQL-expressible, their GUARANTEES are): with tracking capacity
    (10k) above the vocabulary size the sketch must be exact, so every
    sketched count equals the exact count and the exact top-10 is
    covered by the sketched top-20."""
    docs = _t(spark, sf_dir, "documents")
    # the sketch, exact and top-10 branches each rescan the documents: a
    # checkpoint of toks measured no faster than those rescans at sf0.01-0.1
    toks = docs.select(F.explode(D.tokens(F.col("text"))).alias("token"))
    sk = (
        toks.agg(F.expr("approx_top_k(token, 20)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("token"), F.col("e.count").alias("est"))
    )
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    cmp = sk.join(exact, "token", "left")
    top10 = (
        exact.orderBy(F.desc("cnt"), F.asc("token"))
        .limit(10)
        .join(sk.select("token"), "token", "left_anti")
    )
    return (
        cmp.agg(
            F.count(F.lit(1)).alias("n_sketch"),
            F.min(F.col("est") == F.col("cnt")).alias("all_counts_exact"),
        )
        .crossJoin(
            bounded_broadcast(
                top10.agg((F.count(F.lit(1)) == 0).alias("covers_true_top10")),
                "one_row",
            )
        )
    )


SQL_APPROX_TOPK_AUDIT = """
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
  FROM documents
)
SELECT CAST(LEAST(20, (SELECT COUNT(DISTINCT token) FROM toks)) AS BIGINT) AS n_sketch,
       TRUE AS all_counts_exact,
       TRUE AS covers_true_top10
"""


def q_dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the near-dup
    graph — the structural health check on a dedup pass (a clique-heavy
    graph means template families; a wedge-heavy, triangle-poor one
    means chained false positives from transitive matching). Edges are
    the exact n-gram Jaccard pairs (id_a < id_b). Triangles via the
    standard two-join node-iterator on the ORDERED edge list (each
    triangle a<b<c counted exactly once): e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) —
    join cost is Σ deg², the wedge count, never all-pairs. Coefficient
    = 3·triangles / wedges, computed as the single integer division
    6T / Σ d(d−1). The edge list feeds three join sides plus the degree
    pass, so it is checkpointed once."""
    docs = _t(spark, sf_dir, "documents")
    edges = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).select(
        "id_a", "id_b"
    )
    edges = edges.localCheckpoint(eager=True)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.id_b") == F.col("e2.id_a"))
        .join(
            e3,
            (F.col("e3.id_a") == F.col("e1.id_a"))
            & (F.col("e3.id_b") == F.col("e2.id_b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    # r10 (guide §2.4): endpoint degree via ONE explode pass over the
    # checkpointed edges instead of union-of-two-selects (scans once)
    deg = (
        edges.select(F.explode(F.array("id_a", "id_b")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges2 = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1)).alias("_dd"),
    )
    return (
        edges.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(bounded_broadcast(tri, "one_row"))
        .crossJoin(bounded_broadcast(wedges2, "one_row"))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.when(F.col("_dd") > 0,
                   (6 * F.col("n_triangles")).cast("double")
                   / F.col("_dd").cast("double"))
            .otherwise(F.lit(0.0))
            .alias("clustering_coefficient"),
        )
    )


SQL_DUP_GRAPH_TRIANGLES = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
           ELSE [] END) AS g
  FROM toks
), e AS (
  SELECT doc_id, unnest(g) AS tok FROM grams
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (
  SELECT doc_id, len(g) AS s FROM grams
), edges AS (
  SELECT id_a, id_b
  FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
  WHERE c * 1.0 / (sa.s + sb.s - c) >= 0.5
), tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e1.id_b = e2.id_a
  JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
), deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT id_a AS v FROM edges UNION ALL SELECT id_b AS v FROM edges
  ) GROUP BY v
), wed AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d * (d - 1)) AS BIGINT) AS dd
  FROM deg
)
SELECT wed.n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
       tri.n_triangles,
       CASE WHEN wed.dd > 0
            THEN CAST(6 * tri.n_triangles AS DOUBLE) / CAST(wed.dd AS DOUBLE)
            ELSE 0.0 END AS clustering_coefficient
FROM tri CROSS JOIN wed
"""


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (behavioral modeling / anomaly baselines): lag gives each
    event its predecessor type, one grouped count per (prev, next)
    cell, and the row-conditional probability comes from a window over
    the tiny matrix (single division of exact counts, unrounded). One
    user_id shuffle for the lag; everything after runs on ≤|types|²
    rows."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    seq = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    cells = seq.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wr = Window.partitionBy("prev_type")
    return cells.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wr).cast("double")
        ).alias("p_next_given_prev"),
    )


SQL_EVENT_TRANSITION_MATRIX = """
WITH seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_type,
         event_type AS next_type
  FROM events
), cells AS (
  SELECT prev_type, next_type, COUNT(*) AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, next_type, CAST(n_transitions AS BIGINT) AS n_transitions,
       CAST(n_transitions AS DOUBLE)
         / CAST(SUM(n_transitions) OVER (PARTITION BY prev_type) AS DOUBLE) AS p_next_given_prev
FROM cells
"""


def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quartile scores for Recency (days
    since last order), Frequency (order count), Monetary (lifetime
    spend), concatenated into the classic 3-digit segment code. The
    quartile scores sit ABOVE the per-customer aggregate (the
    `nation_revenue_share` altitude rule) and each NTILE derives
    exactly from a blocked global row_number + the frame count
    (`operators/scalewin.py`): the three orderings share ONE
    checkpointed materialization, each rank is per-block parallel with
    a ≤1024-row offset stitch — no single-partition sort of the
    customer frame at any scale, bit-identical scores, oracle
    unchanged. Deterministic: every ordering carries a c_custkey
    tiebreak, recency in whole days (exact ints), spend in DECIMAL
    then double."""
    orders = _t(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("_maxd"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("_last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(bounded_broadcast(anchor, "one_row"))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.datediff(F.col("_maxd"), F.col("_last")).cast("long").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    ranked = SW.with_global_row_numbers(
        per_cust,
        {
            "_rr": [("recency_days", "asc"), ("custkey", "asc")],
            "_rf": [("frequency", "desc"), ("custkey", "asc")],
            "_rm": [("monetary", "desc"), ("custkey", "asc")],
        },
        count_col="_n",
    )
    scored = ranked.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        SW.ntile_from_rank(F.col("_rr"), F.col("_n"), 4).alias("r_score"),
        SW.ntile_from_rank(F.col("_rf"), F.col("_n"), 4).alias("f_score"),
        SW.ntile_from_rank(F.col("_rm"), F.col("_n"), 4).alias("m_score"),
    )
    return scored.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        F.concat_ws("", F.col("r_score"), F.col("f_score"), F.col("m_score")).alias(
            "rfm_code"
        ),
    )


SQL_RFM_SEGMENTATION = """
WITH anchor AS (
  SELECT MAX(o_orderdate) AS maxd FROM orders
), per_cust AS (
  SELECT o_custkey AS custkey,
         CAST(datediff('day', MAX(o_orderdate), (SELECT maxd FROM anchor)) AS BIGINT) AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT custkey, recency_days, frequency, monetary,
         CAST(NTILE(4) OVER (ORDER BY recency_days ASC, custkey ASC) AS INT) AS r_score,
         CAST(NTILE(4) OVER (ORDER BY frequency DESC, custkey ASC) AS INT) AS f_score,
         CAST(NTILE(4) OVER (ORDER BY monetary DESC, custkey ASC) AS INT) AS m_score
  FROM per_cust
)
SELECT custkey, recency_days, frequency, monetary, r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS rfm_code
FROM scored
"""


def _basket_items(li: DataFrame) -> DataFrame:
    """Per-order DISTINCT part sets as sorted arrays: (l_orderkey, _ps).

    r10 shared core for the co-purchase graph family (copurchase_lift,
    pagerank_fixed, kcore_decomposition, graph_degree_distribution).
    One l_orderkey exchange builds the basket arrays; pair expansion
    then runs INSIDE each array (``ordered_pairs``, the posting-list
    kernel every pair detector shares) — replacing the old
    items.distinct() + self-join on l_orderkey, which shuffled the
    item table three times (distinct, join left, join right) and paid
    two sort-merge sorts, with ONE shuffle (guide §2.4). Fan-out per
    basket is still bounded by basket size² (TPC-H baskets ≤ 7; a
    domain-bounded cap at any SF), identical to the join's bound."""
    return li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("_ps")
    )


def _basket_pairs(baskets: DataFrame) -> DataFrame:
    """(p1, p2, c12) co-basket counts, p1 < p2, from _basket_items
    output — ascending-slice expansion guarantees p1 < p2 exactly as
    the old `a.l_partkey < b.l_partkey` self-join predicate did."""
    return (
        baskets.select(
            ordered_pairs(
                F.col("_ps"), lambda x, y: F.struct(x.alias("p1"), y.alias("p2"))
            ).alias("_p")
        )
        .select("_p.p1", "_p.p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )


def q_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: for part pairs co-ordered in the
    same basket, support / confidence / lift — the co-occurrence shape
    behind recommendations AND behind corpus co-citation / co-tag
    analysis. Baskets are orders; the pair join is keyed on the ORDER
    (one shuffle), so fan-out per basket is bounded by basket size
    squared (TPC-H baskets are <=7 items), never corpus-quadratic.
    Every statistic is a SINGLE division of exact int64 products
    (lift = c12*N / (c1*c2)), shipped unrounded. Top-20 by lift with
    (p1, p2) tiebreaks; min co-count 2 prunes the singleton tail."""
    li = _t(spark, sf_dir, "lineitem")
    # r10: basket arrays instead of the items self-join (one exchange —
    # _basket_items/_basket_pairs); the frame feeds pairs, per-part
    # counts AND the basket total, so it checkpoints once (guide §2.4)
    baskets = _basket_items(li).localCheckpoint(eager=True)
    pairs = _basket_pairs(baskets).filter(F.col("c12") >= 2)
    ic = baskets.select(F.explode("_ps").alias("l_partkey")).groupBy(
        "l_partkey"
    ).agg(F.count(F.lit(1)).alias("c"))
    n_baskets = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    scored = (
        pairs.join(ic.select(F.col("l_partkey").alias("p1"), F.col("c").alias("c1")), "p1")
        .join(ic.select(F.col("l_partkey").alias("p2"), F.col("c").alias("c2")), "p2")
        .crossJoin(bounded_broadcast(n_baskets, "one_row"))
        .select(
            "p1",
            "p2",
            "c12",
            (F.col("c12").cast("double") / F.col("n_baskets").cast("double")).alias(
                "support"
            ),
            (F.col("c12").cast("double") / F.col("c1").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("c12") * F.col("n_baskets")).cast("double")
                / (F.col("c1") * F.col("c2")).cast("double")
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("p1"), F.asc("p2")
    ).limit(20)


SQL_COPURCHASE_LIFT = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS c12
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
), ic AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY 1
), n AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM items
)
SELECT p1, p2, CAST(c12 AS BIGINT) AS c12,
       CAST(c12 AS DOUBLE) / CAST(n.n_baskets AS DOUBLE) AS support,
       CAST(c12 AS DOUBLE) / CAST(i1.c AS DOUBLE) AS confidence,
       CAST(c12 * n.n_baskets AS DOUBLE) / CAST(i1.c * i2.c AS DOUBLE) AS lift
FROM pairs
JOIN ic i1 ON pairs.p1 = i1.l_partkey
JOIN ic i2 ON pairs.p2 = i2.l_partkey
CROSS JOIN n
ORDER BY lift DESC, p1 ASC, p2 ASC
LIMIT 20
"""


def q_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the interval-overlap sweep
    line (capacity planning / rate-limit sizing over the sessionized
    stream). Each session contributes (+1 at start, −1 at end); the
    running sum of deltas IS the live-session count, and its per-day max
    is the peak. A same-instant end/start pair counts as overlapping
    (+1 sorts before −1) — pinned convention, identical on both engines.

    Scale: the naive sweep is ONE unpartitioned ordered window over all
    deltas — a single-task bottleneck. Partitioning by day makes the
    window state bounded, at the cost of a carry-in: sessions that span
    midnight must seed the day's counter. The carry is computed by
    exploding each session into the days it crosses (bounded by session
    span — the `id_gap_audit` block-stitch move applied to time), so no
    day×session range join and no global sort ever happens."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    us = F.unix_micros(F.col("ts"))
    lag_us = F.lag(us).over(w)
    new_session = F.when(
        lag_us.isNull() | ((us - lag_us) > 1800 * 1_000_000), 1
    ).otherwise(0)
    sid = (
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
    )
    sessions = (
        ev.withColumn("_sid", sid)
        .groupBy("user_id", "_sid")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    # r10 (guide §2.4): start/end deltas via ONE explode pass — the union
    # referenced the un-materialized sessions subtree (window + groupBy)
    # twice, and carry references it a third time below
    deltas = sessions.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("ts"), F.lit(1).alias("delta")),
                F.struct(F.col("e").alias("ts"), F.lit(-1).alias("delta")),
            )
        ).alias("_d")
    ).select("_d.ts", "_d.delta")
    deltas = deltas.withColumn("day", F.to_date("ts"))
    carry = (
        sessions.filter(F.to_date("s") < F.to_date("e"))
        .select(
            F.explode(
                F.sequence(F.date_add(F.to_date("s"), 1), F.to_date("e"))
            ).alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("carry_in"))
    )
    wd = (
        Window.partitionBy("day")
        .orderBy(F.asc("ts"), F.desc("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = (
        deltas.join(carry, "day", "left")
        .withColumn("_c", F.coalesce(F.col("carry_in"), F.lit(0)))
        .withColumn("_run", F.col("_c") + F.sum("delta").over(wd))
    )
    return run.groupBy("day").agg(
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias("n_starts"),
        F.max("_c").alias("carry_in"),
        F.max("_run").cast("long").alias("peak_concurrency"),
    )


SQL_SESSION_CONCURRENCY = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
  FROM flagged
), sessions AS (
  SELECT user_id, sid, MIN(ts) AS s, MAX(ts) AS e FROM numbered GROUP BY 1, 2
), deltas AS (
  SELECT s AS ts, 1 AS delta, CAST(s AS DATE) AS day FROM sessions
  UNION ALL
  SELECT e AS ts, -1 AS delta, CAST(e AS DATE) AS day FROM sessions
), carry_days AS (
  SELECT CAST(unnest(generate_series(CAST(s AS DATE) + 1, CAST(e AS DATE), INTERVAL 1 DAY)) AS DATE) AS day
  FROM sessions WHERE CAST(s AS DATE) < CAST(e AS DATE)
), carry AS (
  SELECT day, COUNT(*) AS carry_in FROM carry_days GROUP BY 1
), run AS (
  SELECT d.day, d.delta,
         COALESCE(c.carry_in, 0) AS cin,
         COALESCE(c.carry_in, 0)
           + SUM(d.delta) OVER (PARTITION BY d.day ORDER BY d.ts ASC, d.delta DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rsum
  FROM deltas d LEFT JOIN carry c ON d.day = c.day
)
SELECT day,
       CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
       CAST(MAX(cin) AS BIGINT) AS carry_in,
       CAST(MAX(rsum) AS BIGINT) AS peak_concurrency
FROM run GROUP BY day
"""


SQL_MUTUAL_INFORMATION = """
WITH cells AS (
  SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2
), t AS (
  SELECT n,
         CAST(SUM(n) OVER () AS BIGINT) AS nt,
         CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS nl,
         CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS ns
  FROM cells
)
SELECT CAST(MAX(nt) AS BIGINT) AS n_total,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(CAST(SUM(CAST(floor(
           (CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))
           * ln((CAST(nt AS DOUBLE) * CAST(n AS DOUBLE))
                / (CAST(nl AS DOUBLE) * CAST(ns AS DOUBLE)))
           * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE)
         / 1000000.0 AS mi_nats
FROM t
"""


SQL_PARETO_FRONTIER = """
WITH base AS (
  SELECT doc_id, lang, text,
         list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS w
  FROM documents
), m AS (
  SELECT doc_id, lang,
         CASE WHEN len(w) > 0
              THEN CAST(len(list_filter(w, t -> list_contains(['the','and','of','to','is'], t))) AS DOUBLE)
                   / CAST(len(w) AS DOUBLE)
              ELSE 0.0 END AS quality,
         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM base
), per_q AS (
  SELECT lang, quality, MIN(n_tokens) AS mlen FROM m GROUP BY 1, 2
), strict AS (
  SELECT lang, quality, mlen,
         MIN(mlen) OVER (PARTITION BY lang ORDER BY quality DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS smin
  FROM per_q
)
SELECT m.doc_id, m.lang, m.quality, m.n_tokens
FROM m JOIN strict ON m.lang = strict.lang AND m.quality = strict.quality
WHERE m.n_tokens = strict.mlen AND (strict.smin IS NULL OR strict.mlen < strict.smin)
"""


SQL_COHENS_KAPPA = """
WITH toks AS (
  SELECT lang AS label,
         list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS w
  FROM documents
), langs AS (
  SELECT label,
         [struct_pack(hits := CAST(len(list_filter(w, t -> list_contains(['the','and','of','to','is'], t))) AS BIGINT), lang := 'en'),
          struct_pack(hits := CAST(len(list_filter(w, t -> list_contains(['der','die','und','nicht','ist'], t))) AS BIGINT), lang := 'de'),
          struct_pack(hits := CAST(len(list_filter(w, t -> list_contains(['le','la','et','les','est'], t))) AS BIGINT), lang := 'fr'),
          struct_pack(hits := CAST(len(list_filter(w, t -> list_contains(['el','la','que','de','es'], t))) AS BIGINT), lang := 'es'),
          struct_pack(hits := CAST(len(list_filter(w, t -> list_contains(['de5','shi4','bu4','le5','zai4'], t))) AS BIGINT), lang := 'zh')] AS pairs
  FROM toks
), best AS (
  SELECT label, list_aggregate(pairs, 'max') AS b FROM langs
), guessed AS (
  SELECT label, CASE WHEN b.hits > 0 THEN b.lang ELSE 'und' END AS guess FROM best
), cells AS (
  SELECT label, guess, COUNT(*) AS n FROM guessed GROUP BY 1, 2
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN label = guess THEN n ELSE 0 END) AS BIGINT) AS n_agree
  FROM cells
), r AS (
  SELECT label AS k, CAST(SUM(n) AS BIGINT) AS rk FROM cells GROUP BY 1
), c AS (
  SELECT guess AS k, CAST(SUM(n) AS BIGINT) AS ck FROM cells GROUP BY 1
), s AS (
  SELECT CAST(COALESCE(SUM(rk * ck), 0) AS BIGINT) AS chance
  FROM r JOIN c USING (k)
)
SELECT n_total, n_agree,
       CAST(n_agree AS DOUBLE) / CAST(n_total AS DOUBLE) AS po,
       CAST(chance AS DOUBLE) / CAST(n_total * n_total AS DOUBLE) AS pe,
       CAST(n_total * n_agree - chance AS DOUBLE)
         / CAST(n_total * n_total - chance AS DOUBLE) AS kappa
FROM tot CROSS JOIN s
"""


def q_feature_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event_type — the drift monitor an
    ML pipeline runs between a reference window and production data:
    PSI = Σ (p_i − q_i)·ln(p_i/q_i) over value buckets, comparing the
    first half of the time range against the second. One grouped count
    per (type, period, bucket); smoothed bucket probabilities keep empty
    buckets finite. Per-bucket terms are rounded to integer micro-units
    BEFORE the final sum (exact; a raw double Σ is order-dependent).
    PSI < 0.1 ≈ stable, > 0.25 ≈ action — emitted as-is for the
    consumer's thresholds. Buckets present in only one period use the
    smoothing floor (0+1)/(N+21) for the missing side — appear/disappear
    drift, the strongest PSI signal, contributes fully."""
    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    mid = F.lit("2024-01-16").cast("timestamp")
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / 100.0), F.lit(-10)), F.lit(10)
    ).cast("int")
    # ONE scan, one aggregate: pivot the period inside the aggregate so
    # every (type, bucket) row carries BOTH period counts — a bucket
    # present in only one period shows n=0 on the other side, and
    # (0+1)/(N+21) is then EXACTLY the smoothing floor, no full-outer
    # join or coalesce needed (the previous ref/cur-split form scanned
    # events three times: Spark materializes no CTEs)
    counts = (
        ev.select(
            "event_type",
            (F.col("ts") < mid).cast("int").alias("_is_ref"),
            bucket.alias("_b"),
        )
        .groupBy("event_type", "_b")
        .agg(
            F.sum("_is_ref").alias("_nref"),
            F.sum(1 - F.col("_is_ref")).alias("_ncur"),
        )
    )
    # per-type period totals ride windows over the tiny count table
    wt = Window.partitionBy("event_type")
    probs = counts.select(
        "event_type",
        "_b",
        (
            (F.col("_nref") + 1).cast("double")
            / (F.sum("_nref").over(wt) + 21).cast("double")
        ).alias("_pr2"),
        (
            (F.col("_ncur") + 1).cast("double")
            / (F.sum("_ncur").over(wt) + 21).cast("double")
        ).alias("_pc2"),
    )
    term_micro = F.round(
        (F.col("_pr2") - F.col("_pc2"))
        * F.log(F.col("_pr2") / F.col("_pc2"))
        * 1_000_000
    ).cast("long")
    return probs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        (F.sum(term_micro) / F.lit(1e6)).alias("psi"),
    )


SQL_FEATURE_DRIFT_PSI = """
WITH counts AS (
  SELECT event_type,
         CAST(least(greatest(floor(value / 100.0), -10), 10) AS INTEGER) AS b,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS nref,
         SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END) AS ncur
  FROM events GROUP BY 1, 2
), probs AS (
  SELECT event_type, b,
         CAST(nref + 1 AS DOUBLE)
         / CAST(SUM(nref) OVER (PARTITION BY event_type) + 21 AS DOUBLE) AS pr2,
         CAST(ncur + 1 AS DOUBLE)
         / CAST(SUM(ncur) OVER (PARTITION BY event_type) + 21 AS DOUBLE) AS pc2
  FROM counts
)
SELECT event_type, COUNT(*) AS n_buckets,
       CAST(SUM(CAST(round((pr2 - pc2) * ln(pr2 / pc2) * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0 AS psi
FROM probs GROUP BY event_type
"""


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + per-registered-domain rollup — the web-crawl
    curation step before URL-level dedup. The corpus has no URL column,
    so URLs are SYNTHESIZED deterministically from (doc_id, source) with
    every normalization hazard injected: mixed-case scheme/host, default
    (:443/:80) and non-default (:8080) ports, trailing slashes, utm_*
    tracking params in leading/middle/trailing positions, fragments.

    Canonicalization is pure component surgery (regexp_extract on both
    engines — no lookaheads, which DuckDB's RE2 lacks): lowercase scheme
    and host, drop default ports, strip fragments, drop utm_* params
    while keeping the rest, trim trailing slashes (root stays '/'). All
    narrow maps — zero shuffle until the final per-domain aggregate."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    d = F.col("doc_id")
    scheme_raw = F.when(d % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("http"))
    host_raw = F.concat(
        F.lit("WWW."), F.col("source"), (d % 3).cast("string"), F.lit(".Com")
    )
    port_raw = (
        F.when(d % 4 == 0, F.lit(":443"))
        .when(d % 4 == 1, F.lit(":80"))
        .when(d % 4 == 2, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path_raw = F.concat(
        F.lit("/p/"), d.cast("string"),
        F.when(d % 5 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    query_raw = (
        F.when(d % 3 == 0, F.concat(F.lit("?utm_source=feed&id="), (d % 7).cast("string")))
        .when(d % 3 == 1, F.concat(F.lit("?id="), (d % 7).cast("string"), F.lit("&utm_campaign=x")))
        .otherwise(F.lit(""))
    )
    frag_raw = F.when(d % 6 == 0, F.lit("#section")).otherwise(F.lit(""))
    url = F.concat(scheme_raw, F.lit("://"), host_raw, port_raw, path_raw, query_raw, frag_raw)

    with_url = docs.select("doc_id", url.alias("_url"))
    scheme = F.lower(F.regexp_extract("_url", r"^([A-Za-z]+)://", 1))
    auth = F.regexp_extract("_url", r"^[A-Za-z]+://([^/?#]+)", 1)
    host = F.lower(F.regexp_extract(auth, r"^([^:]+)", 1))
    port = F.regexp_extract(auth, r":([0-9]+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == "https") & (port == "443"))
        & ~((scheme == "http") & (port == "80"))
    )
    path = F.regexp_extract("_url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    path_c = F.when(path.isin("", "/"), F.lit("/")).otherwise(
        F.regexp_replace(path, r"/$", "")
    )
    qs = F.regexp_extract("_url", r"\?([^#]*)", 1)
    qs_c = F.regexp_replace(
        F.regexp_replace(qs, r"utm_[A-Za-z]+=[^&]*&", ""),
        r"&?utm_[A-Za-z]+=[^&]*$",
        "",
    )
    canon = F.concat(
        scheme, F.lit("://"), host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path_c,
        F.when(qs_c != "", F.concat(F.lit("?"), qs_c)).otherwise(F.lit("")),
    )
    reg_domain = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    return (
        with_url.select(
            reg_domain.alias("registered_domain"),
            canon.alias("_canon"),
            qs.contains("utm_").cast("long").alias("_tracked"),
        )
        .groupBy("registered_domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.count_distinct("_canon").alias("n_canonical"),
            F.sum("_tracked").alias("n_with_tracking"),
        )
    )


SQL_URL_CANONICALIZE = """
WITH raw AS (
  SELECT doc_id,
         concat(
           CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END, '://',
           concat('WWW.', source, CAST(doc_id % 3 AS VARCHAR), '.Com'),
           CASE WHEN doc_id % 4 = 0 THEN ':443'
                WHEN doc_id % 4 = 1 THEN ':80'
                WHEN doc_id % 4 = 2 THEN ':8080' ELSE '' END,
           concat('/p/', CAST(doc_id AS VARCHAR),
                  CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END),
           CASE WHEN doc_id % 3 = 0 THEN concat('?utm_source=feed&id=', CAST(doc_id % 7 AS VARCHAR))
                WHEN doc_id % 3 = 1 THEN concat('?id=', CAST(doc_id % 7 AS VARCHAR), '&utm_campaign=x')
                ELSE '' END,
           CASE WHEN doc_id % 6 = 0 THEN '#section' ELSE '' END
         ) AS url
  FROM documents
), parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
         lower(regexp_extract(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1), '^([^:]+)', 1)) AS host,
         regexp_extract(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1), ':([0-9]+)$', 1) AS port,
         regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
         regexp_extract(url, '\\?([^#]*)', 1) AS qs
  FROM raw
), canon AS (
  SELECT doc_id,
         regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS registered_domain,
         concat(
           scheme, '://', host,
           CASE WHEN port <> '' AND NOT (scheme = 'https' AND port = '443')
                                AND NOT (scheme = 'http' AND port = '80')
                THEN concat(':', port) ELSE '' END,
           CASE WHEN path IN ('', '/') THEN '/' ELSE regexp_replace(path, '/$', '') END,
           CASE WHEN regexp_replace(regexp_replace(qs, 'utm_[A-Za-z]+=[^&]*&', '', 'g'),
                                    '&?utm_[A-Za-z]+=[^&]*$', '') <> ''
                THEN concat('?', regexp_replace(regexp_replace(qs, 'utm_[A-Za-z]+=[^&]*&', '', 'g'),
                                                '&?utm_[A-Za-z]+=[^&]*$', ''))
                ELSE '' END
         ) AS canon,
         CASE WHEN qs LIKE '%utm_%' THEN 1 ELSE 0 END AS tracked
  FROM parts
)
SELECT registered_domain,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_canonical,
       CAST(SUM(tracked) AS BIGINT) AS n_with_tracking
FROM canon GROUP BY registered_domain
"""


def q_intra_doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-document line deduplication — the boilerplate-stripping pass
    that removes repeated lines WITHIN each document (template footers,
    duplicated paragraphs) before cross-document dedup. Duplicated lines
    are injected deterministically (the corpus is single-line), then the
    op splits on newline, deduplicates, and fingerprints the surviving
    set. Pure narrow HOF work — zero shuffle at any scale."""
    docs = _t(spark, sf_dir, "documents")
    l1 = F.substring("text", 1, 40)
    footer = F.lit("promo footer - subscribe now")
    l3 = F.substring("text", 41, 40)
    text2 = F.concat_ws(
        "\n",
        l1, footer, l3, footer,
        F.when(F.col("doc_id") % 2 == 0, l1).otherwise(F.lit("")),
    )
    lines = F.filter(F.split(text2, "\n"), lambda x: x != "")
    uniq = F.array_sort(F.array_distinct(lines))
    return docs.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(uniq).cast("long").alias("n_unique_lines"),
        F.md5(F.concat_ws("\n", uniq)).alias("dedup_fingerprint"),
    )


SQL_INTRA_DOC_LINE_DEDUP = """
WITH built AS (
  SELECT doc_id,
         list_filter([
           substring(text, 1, 40),
           'promo footer - subscribe now',
           substring(text, 41, 40),
           'promo footer - subscribe now',
           CASE WHEN doc_id % 2 = 0 THEN substring(text, 1, 40) ELSE '' END
         ], x -> x <> '') AS lines
  FROM documents
), dedup AS (
  SELECT doc_id, lines, list_sort(list_distinct(lines)) AS uniq FROM built
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(uniq) AS BIGINT) AS n_unique_lines,
       md5(array_to_string(uniq, chr(10))) AS dedup_fingerprint
FROM dedup
"""


def q_embedding_neardup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic pruning: embedding-cosine near-dup pairs
    (exact baseline, cosine >= 0.4) → connected components → keep the
    lowest vec_id per cluster → prune. The embedding twin of
    `neardup_prune`; same graph composition, and at 100 TB the pair
    source swaps to the sign-LSH candidate path
    (`cosine_neardup_pairs(exact=False)`) with everything downstream
    unchanged."""
    from shuttlestandalonedbcreator_spark.operators.graph import cluster_keep_list

    emb = _t(spark, sf_dir, "embeddings")
    pairs = V.cosine_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.4, exact=True
    ).select("id_a", "id_b")
    return (
        cluster_keep_list(emb.select("vec_id", "label"), pairs, "vec_id")
        .filter(F.col("keep") == 1)
        .select("vec_id", "label")
    )


SQL_EMBEDDING_NEARDUP_PRUNE = """
WITH RECURSIVE v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), u AS (
  SELECT vec_id, list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS ue FROM v
), pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.ue, b.ue), 6) AS cosine
    FROM u a JOIN u b ON a.vec_id < b.vec_id
  ) WHERE cosine >= 0.4
), edges AS (
  SELECT id_a AS s, id_b AS t FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS t FROM pairs
), reach(s, r) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON e.t = reach.s
), drop_ids AS (
  SELECT s FROM reach GROUP BY s HAVING s <> MIN(r)
)
SELECT em.vec_id, em.label
FROM embeddings em LEFT JOIN drop_ids d ON em.vec_id = d.s
WHERE d.s IS NULL
"""


def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-explicit window functions — ntile quartiles, first_value,
    nth_value, and a bounded look-ahead last_value — per event_type over
    a UNIQUE total order (ts, event_id), so every function is
    deterministic. One hash exchange on the partition key serves all
    four (shared window spec)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    base = Window.partitionBy("event_type").orderBy("ts", "event_id")
    cum = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ahead = base.rowsBetween(Window.currentRow, 2)
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(4).over(base).alias("quartile"),
        F.first("value").over(cum).alias("first_v"),
        F.nth_value("value", 3).over(cum).alias("third_v"),
        F.last("value").over(ahead).alias("lookahead_v"),
    )


SQL_WINDOW_FRAMES = """
SELECT event_id, event_type,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       first_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_v,
       nth_value(value, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_v,
       last_value(value) OVER (w ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS lookahead_v
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
"""


def q_nearest_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification with FIXED deterministic centroids
    — the serving-side half of clustering (assignment given published
    centroids), fully SQL-expressible unlike the k-means TRAINING inside
    `embedding_ivf_topk`. Centroids are the 8 lowest-vec_id vectors
    (a deterministic stand-in for a published codebook); each vector gets
    argmin squared-L2 cell + the distance, then a per-cell rollup.
    Plan: the 8-row centroid table cross-folds onto the corpus (bounded
    — explicit broadcast justified), one narrow argmin pass, one grouped
    aggregate."""
    emb = _t(spark, sf_dir, "embeddings")
    dv = F.transform("embedding", lambda x: x.cast("double"))
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), dv.alias("_c")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("_v"), F.col("_c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        emb.select("vec_id", dv.alias("_v"))
        .crossJoin(bounded_broadcast(cents, "query_set"))
        .select("vec_id", "cell", F.round(d2, 6).alias("_d2"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("_d2"), F.asc("cell"))
    assigned = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("vec_id", "cell", F.col("_d2").alias("dist2"))
    )
    return assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("dist2").alias("min_dist2"),
        F.max("dist2").alias("max_dist2"),
    )


SQL_NEAREST_CENTROID_ASSIGN = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
), c AS (
  SELECT vec_id AS cell, dv AS cv FROM v WHERE vec_id < 8
), scored AS (
  SELECT v.vec_id, c.cell,
         round(list_sum(list_transform(range(1, len(v.dv) + 1),
               i -> (v.dv[i] - c.cv[i]) * (v.dv[i] - c.cv[i]))), 6) AS d2
  FROM v CROSS JOIN c
), assigned AS (
  SELECT vec_id, cell, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rk
  FROM scored
)
SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
       MIN(d2) AS min_dist2, MAX(d2) AS max_dist2
FROM assigned WHERE rk = 1 GROUP BY cell
"""


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over IRREGULAR samples — the hypertable
    rollup plain AVG gets wrong (a value that held for 50 minutes must
    outweigh one that held for 10 seconds). Per event_type: each sample's
    value is weighted by the seconds until the NEXT sample (lead over a
    unique total order; the final sample carries zero weight — the
    standard left-closed convention). One window + one grouped aggregate,
    both on the same event_type exchange.

    Exactness: values go through DECIMAL(18,3) milli-units (half-up cast
    on BOTH engines) × integer MILLISECOND durations (microsecond epochs
    div 1000 — identical truncation), so the weighted sum is exact int64
    math with ~2^50 of headroom at 100× the tested span, and the final
    TWA is ONE division of exact integers — shipped unrounded per the
    determinism rules."""
    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "value", "event_id")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    dur_ms = ((F.lead(us).over(w) - us) / 1000).cast("long")
    vmilli = (F.col("value").cast("decimal(18,3)") * 1000).cast("long")
    weighted = ev.select(
        "event_type",
        dur_ms.alias("_dur"),
        vmilli.alias("_vm"),
    ).filter(F.col("_dur").isNotNull())
    return weighted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("_dur").alias("total_ms"),
        (
            F.sum(F.col("_vm") * F.col("_dur")).cast("double")
            / F.sum("_dur").cast("double")
            / F.lit(1e3)
        ).alias("time_weighted_avg"),
    )


SQL_TIME_WEIGHTED_AVG = """
WITH s AS (
  SELECT event_type,
         CAST((lead(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id)
              - epoch_us(ts)) // 1000 AS BIGINT) AS dur,
         CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS vm
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dur) AS BIGINT) AS total_ms,
       CAST(CAST(SUM(vm * dur) AS BIGINT) AS DOUBLE)
         / CAST(CAST(SUM(dur) AS BIGINT) AS DOUBLE) / 1000.0 AS time_weighted_avg
FROM s WHERE dur IS NOT NULL GROUP BY event_type
"""


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py): one corpus
    pass for word frequencies, then merge rounds over the (much smaller)
    vocab — argmax pair per round with lexicographic tie-break, so the
    merge sequence is a pure function of the corpus. The merge loop is
    iterative (not SQL-expressible), so the driver oracle is a
    golden-fixture pin (`_pinned_oracle`; determinism re-verified at
    every regeneration) and equivalence with an independent pure-Python
    reference implementation is pinned by tests/test_bpe.py."""
    from shuttlestandalonedbcreator_spark.operators.bpe import train_bpe_merges

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, "text", n_merges=10, min_freq=2)
    return local_frame(
        spark,
        [(i, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string, merged string",
    )


def _bigram_nll(docs: DataFrame) -> DataFrame:
    """Per-doc (doc_id, n_bigrams, _s) under the add-one-smoothed bigram
    model fit on ``docs`` itself: ``_s`` is the tf-weighted sum of each
    bigram's −ln p(w2|w1) in integer micro-nats, p(w2|w1) =
    (c(w1,w2)+1) / (c(w1,·)+V), V = |distinct first words|. Docs with
    <2 tokens have no bigrams and are absent."""
    bg_list = T.let(D.tokens(F.col("text")), T.word_bigrams)
    bg = docs.select("doc_id", F.explode(bg_list).alias("g")).select(
        "doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2")
    )
    tf = bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))
    # tf feeds the model counts AND the scored join — without this the
    # executed plan shows THREE parquet scans (the tokenize+explode+agg
    # subtree re-ran per branch); one materialization serves all
    # consumers (guide §5.1)
    tf = tf.localCheckpoint(eager=True)
    cnt_bg = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("c_bg"))
    cnt_w1 = cnt_bg.groupBy("w1").agg(F.sum("c_bg").alias("c_w1"))
    vsize = cnt_w1.agg(F.count(F.lit(1)).alias("_V"))
    scored = (
        tf.join(cnt_bg, ["w1", "w2"])
        .join(cnt_w1, "w1")
        .crossJoin(bounded_broadcast(vsize, "one_row"))
        .withColumn(
            "_nll",
            F.round(
                F.log(
                    (F.col("c_w1") + F.col("_V")).cast("double")
                    / (F.col("c_bg") + 1).cast("double")
                )
                * 1_000_000
            ).cast("long"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        F.sum(F.col("tf") * F.col("_nll")).alias("_s"),
    )


def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter, self-trained: per-doc mean negative
    log-likelihood under an add-one-smoothed BIGRAM model fit on the
    corpus itself — the standard perplexity gate that drops gibberish
    and keeps fluent text, one step up from `unigram_surprisal`.
    p(w2|w1) = (c(w1,w2)+1) / (c(w1,·)+V), V = |distinct first words|.

    Plan: bigram counts aggregate once (keyed shuffle, map-side
    partials); the conditional's denominator rides the same table
    re-grouped by w1 (tiny); per-instance −ln p is rounded to integer
    micro-nats BEFORE the per-doc sum (exact accumulation both engines).
    Docs with <2 tokens have no bigrams and drop out (documented).
    Ships avg_nll, not exp(avg) — libm exp is not cross-engine
    reproducible, e^x is the consumer's one-liner."""
    from shuttlestandalonedbcreator_spark.operators.util import fan_out

    # r10: fan_out — the single-split toy parquet ran the tokenizer on
    # one core (guide §2.2)
    docs = fan_out(_t(spark, sf_dir, "documents"))
    return _bigram_nll(docs).select(
        "doc_id",
        "n_bigrams",
        (F.col("_s") / F.col("n_bigrams") / F.lit(1e6)).alias("avg_nll"),
    )


SQL_BIGRAM_PERPLEXITY = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), bg AS (
  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
  FROM toks, unnest(range(1, len(w))) AS u(i)
  WHERE len(w) >= 2
), tf AS (
  SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3
), cnt_bg AS (
  SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c_bg FROM tf GROUP BY 1, 2
), cnt_w1 AS (
  SELECT w1, CAST(SUM(c_bg) AS BIGINT) AS c_w1 FROM cnt_bg GROUP BY 1
), v AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS V FROM cnt_w1
), scored AS (
  SELECT tf.doc_id, tf.tf,
         CAST(round(ln(CAST(c_w1 + V AS DOUBLE) / CAST(c_bg + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS nll
  FROM tf JOIN cnt_bg USING (w1, w2) JOIN cnt_w1 USING (w1) CROSS JOIN v
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       CAST(SUM(tf * nll) AS BIGINT) / CAST(SUM(tf) AS BIGINT) / 1000000.0 AS avg_nll
FROM scored GROUP BY doc_id
"""


def q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of a scoring function against binary labels — the eval
    every quality/language classifier gets before its threshold ships.
    Here: does the English-stopword ratio detect lang='en'? (On this
    synthetic word-soup corpus the honest answer is chance-level ≈0.47 —
    the metric, not the toy detector, is the deliverable.)

    Scale shape: the O(N log N) global rank-sum formulation needs an
    UNPARTITIONED sort; instead scores aggregate to (score → n_pos,
    n_neg) — bounded by distinct score values (the ratio is a single
    division of exact ints, bit-identical across engines and UNROUNDED:
    round() at a fixed decimal is the documented half-up/half-even
    parity hazard) — and AUC comes from a
    running sum over that histogram: the textbook Mann-Whitney identity
    AUC = [Σ_s n_pos(s)·cumneg(<s) + ½ n_pos(s)·n_neg(s)] / (P·N).
    Doubled into pure integers, so the statistic is ONE division of
    exact ints (shipped unrounded). The score histogram's cardinality is
    data-dependent (distinct ratio values), so its running sum rides the
    blocked decomposition (`operators/scalewin.py`) instead of a
    single-partition window; exclusive cumneg = inclusive − own (exact
    ints), bit-identical, oracle unchanged."""
    docs = _t(spark, sf_dir, "documents")
    labeled = docs.select(
        T.stopword_ratio(F.col("text")).alias("_s"),
        (F.col("lang") == "en").cast("long").alias("_pos"),
    )
    hist = labeled.groupBy("_s").agg(
        F.sum("_pos").alias("_np"),
        F.sum(1 - F.col("_pos")).alias("_nn"),
    )
    terms = SW.with_global_running_sum(
        hist, [("_s", "asc")], "_nn", "_cum"
    ).select(
        "_np",
        "_nn",
        (F.col("_cum") - F.col("_nn")).alias("_cumneg"),
    )
    return terms.agg(
        F.sum("_np").alias("n_pos"),
        F.sum("_nn").alias("n_neg"),
        (
            F.sum(2 * F.col("_np") * F.col("_cumneg") + F.col("_np") * F.col("_nn"))
            .cast("double")
            / (2 * F.sum("_np") * F.sum("_nn")).cast("double")
        ).alias("auc"),
    )


SQL_CLASSIFIER_AUC = """
WITH toks AS (
  SELECT lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS w,
         text
  FROM documents
), scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
         CASE WHEN len(w) > 0
              THEN CAST(len(list_filter(w, t -> list_contains(['the','and','of','to','is'], t))) AS DOUBLE)
                   / CAST(len(w) AS DOUBLE)
              ELSE 0.0 END AS s
  FROM toks
), hist AS (
  SELECT s, CAST(SUM(pos) AS BIGINT) AS np, CAST(SUM(1 - pos) AS BIGINT) AS nn
  FROM scored GROUP BY s
), terms AS (
  SELECT np, nn,
         COALESCE(SUM(nn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
  FROM hist
)
SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
       CAST(SUM(nn) AS BIGINT) AS n_neg,
       CAST(CAST(SUM(2 * np * cumneg + np * nn) AS BIGINT) AS DOUBLE)
         / CAST(2 * CAST(SUM(np) AS BIGINT) * CAST(SUM(nn) AS BIGINT) AS DOUBLE) AS auc
FROM terms
"""


def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve + per-bin Brier score for the same
    stopword-ratio/lang='en' toy classifier `classifier_auc` evaluates —
    the companion diagnostic (AUC says "ranks well", calibration says
    "the score IS a probability"). Scores quantize to integer milli-units
    (floor(s*1000+0.5)) so every aggregate is an exact int64 sum: per
    decile bin (equal-width, last bin closed) emit n, mean predicted
    score, empirical positive rate, and the bin's Brier contribution —
    each shipped as ONE division of exact integers (unrounded; round()
    on count ratios is the half-up/half-even parity hazard). Scale: one
    narrow projection + one 10-group aggregate; no joins, no windows."""
    docs = _t(spark, sf_dir, "documents")
    sq = F.floor(T.stopword_ratio(F.col("text")) * 1000.0 + 0.5).cast("long")
    pos = (F.col("lang") == "en").cast("long")
    # the bin derivation and the raw value both read sq: let-bind it
    # (entry 1.088 → 0.709 s, best-of-4, sf0.1)
    _r = T.let(
        sq,
        lambda s: F.struct(
            F.least(F.floor(s / 100), F.lit(9)).cast("int").alias("bin"),
            s.alias("_sq"),
        ),
    )
    binned = docs.select(_r.alias("_b"), pos.alias("_pos")).select(
        F.col("_b.bin").alias("bin"),
        F.col("_b._sq").alias("_sq"),
        "_pos",
    )
    err = (F.col("_sq") - 1000 * F.col("_pos"))
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_sq").alias("_sum_sq"),
            F.sum("_pos").alias("_sum_pos"),
            F.sum(err * err).alias("_sum_err"),
        )
        .select(
            "bin",
            "n",
            (
                F.col("_sum_sq").cast("double")
                / (1000.0 * F.col("n").cast("double"))
            ).alias("mean_score"),
            (F.col("_sum_pos").cast("double") / F.col("n").cast("double")).alias(
                "pos_rate"
            ),
            (
                F.col("_sum_err").cast("double")
                / (1000000.0 * F.col("n").cast("double"))
            ).alias("brier"),
        )
    )


SQL_CLASSIFIER_CALIBRATION = """
WITH toks AS (
  SELECT lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS w
  FROM documents
), scored AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
         CASE WHEN len(w) > 0
              THEN CAST(len(list_filter(w, t -> list_contains(['the','and','of','to','is'], t))) AS DOUBLE)
                   / CAST(len(w) AS DOUBLE)
              ELSE 0.0 END AS s
  FROM toks
), q AS (
  SELECT CAST(floor(s * 1000.0 + 0.5) AS BIGINT) AS sq, pos FROM scored
), binned AS (
  SELECT CAST(least(floor(sq / 100), 9) AS INTEGER) AS bin, sq, pos FROM q
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(sq) AS BIGINT) AS DOUBLE)
         / (1000.0 * CAST(COUNT(*) AS DOUBLE)) AS mean_score,
       CAST(CAST(SUM(pos) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate,
       CAST(CAST(SUM((sq - 1000 * pos) * (sq - 1000 * pos)) AS BIGINT) AS DOUBLE)
         / (1000000.0 * CAST(COUNT(*) AS DOUBLE)) AS brier
FROM binned GROUP BY bin
"""


def q_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup CASCADE in one query: exact content-hash
    dedup first (cheap, kills byte-identical copies), then n-gram
    Jaccard near-dup pruning over the exact SURVIVORS only (the
    expensive stage sees a pre-shrunk corpus — the ordering every real
    pipeline uses). Emits the funnel: raw → exact survivors → near-dup
    survivors. Keep rules are deterministic: min doc_id per content
    hash; near-dup pairs drop the higher id.

    r10 optimization (guide §2.4/§5): survivors is referenced twice
    (the near-dup pass and its own count) and Spark re-derives an
    un-materialized subtree per reference, so it is checkpointed once.
    The old anti-join count is pure arithmetic — every dropped id IS a
    survivor id by construction (pairs come from survivors), so
    n_neardup = n_exact − |distinct dropped|; the third survivors
    recomputation and the anti-join shuffle are gone."""
    docs = _t(spark, sf_dir, "documents")
    survivors = (
        docs.groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .join(docs.select("doc_id", "text"), "doc_id")
        .localCheckpoint(eager=True)
    )
    pairs = D.ngram_jaccard_pairs(survivors, "doc_id", "text", n=3, threshold=0.5)
    n_dropped = (
        pairs.select(F.col("id_b").alias("doc_id"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("_nd"))
    )
    return (
        docs.agg(F.count(F.lit(1)).alias("n_raw"))
        .crossJoin(
            bounded_broadcast(
                survivors.agg(F.count(F.lit(1)).alias("n_exact")), "one_row"
            )
        )
        .crossJoin(bounded_broadcast(n_dropped, "one_row"))
        .select(
            "n_raw",
            "n_exact",
            (F.col("n_exact") - F.col("_nd")).alias("n_neardup"),
        )
    )


SQL_DEDUP_CASCADE = """
WITH survivors AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
), surv_txt AS (
  SELECT s.doc_id, d.text FROM survivors s JOIN documents d ON s.doc_id = d.doc_id
), toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM surv_txt
), grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
           ELSE [] END) AS g
  FROM toks
), e AS (
  SELECT doc_id, unnest(g) AS tok FROM grams
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (
  SELECT doc_id, len(g) AS s FROM grams
), dropped AS (
  SELECT DISTINCT id_b AS doc_id
  FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
  WHERE c * 1.0 / (sa.s + sb.s - c) >= 0.5
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_raw,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM survivors) AS n_exact,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM surv_txt st
         LEFT JOIN dropped dr ON st.doc_id = dr.doc_id WHERE dr.doc_id IS NULL) AS n_neardup
"""


def q_interval_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval LEFT-OUTER join (streaming/joins.py:interval_join, batch
    mode): every 'view' with the same-user 'click's landing within
    [view_ts, view_ts + 1h], rolled up to a per-day attribution funnel.
    The identical operator runs as a stream-stream outer join (bounded
    state via watermark + time-range); batch mode is the oracle-checkable
    path. Scale: both sides shuffle once on user_id; the time predicate
    prunes within the key group, never a cartesian."""
    from shuttlestandalonedbcreator_spark.streaming.joins import interval_join

    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    j = interval_join(
        views, clicks, "user_id", "view_ts", "click_ts",
        max_delay="1 hour", how="left_outer",
    )
    per_view = j.groupBy(F.col("l.view_id"), F.col("l.view_ts")).agg(
        F.count(F.col("r.click_ts")).alias("n_clicks")
    )
    return (
        per_view.groupBy(F.date_trunc("day", "view_ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.sum((F.col("n_clicks") > 0).cast("long")).alias("n_attributed"),
            F.sum("n_clicks").alias("click_pairs"),
        )
        .withColumn(
            "attribution_rate",
            F.col("n_attributed").cast("double") / F.col("n_views").cast("double"),
        )
    )


def q_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine top-k neighbors via posting-list self-join —
    the text-side counterpart of the dense embedding ANN family. Weights
    are smoothed TF-IDF quantized to integer milli-units (floor(w*1000 +
    0.5)): dot products and squared norms then accumulate as exact int64
    sums (order-free, so Spark and the oracle agree bit-for-bit; the only
    float ops are the final sqrt/divide over identical integers).

    Scale design (100 TB): the posting-list join fans out per TOKEN, so
    its cost is sum(df²) — bounded by dropping ubiquitous terms
    (df > max_df), the standard dynamic-pruning move for sparse all-pairs
    (a term in half the corpus carries ~zero idf but quadratic pairs).
    In production max_df is an ABSOLUTE cap (pair only on genuinely rare
    terms; dense corpora route to the MinHash/LSH family instead); here
    it is max(100, N/10) — the fractional floor keeps the toy corpus
    (31-word vocab, minimum df ≈ 5% of N) non-degenerate at every SF,
    compared as integers (df·10 ≤ max(1000, N)) so both engines agree
    exactly. One shuffle keyed on token for the join, one on the pair
    for the dot sum, one on the anchor for the ranking window; the
    corpus is never cross-joined."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n"))
    # r10: a fan_out here was A/B-measured SLOWER (extra text exchange
    # ahead of the weights checkpoint) — left in the original shape
    toks = docs.select(
        F.col("doc_id"), F.explode(D.tokens(F.col("text"))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf.join(df_, "token")
        .crossJoin(bounded_broadcast(n_docs, "one_row"))
        .filter(
            F.col("df") * 10 <= F.greatest(F.lit(1000), F.col("_n"))
        )
        .withColumn("_n_docs", F.col("_n").cast("double"))
        .withColumn(
            "wq",
            F.floor(
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.col("_n_docs") + 1.0) / (F.col("df").cast("double") + 1.0)
                    )
                    + 1.0
                )
                * 1000.0
                + 0.5
            ).cast("long"),
        )
        .select("doc_id", "token", "wq")
    )
    # the weights table feeds THREE consumers (norms + both sides of the
    # posting-list self-join); Spark materializes no CTEs, so without a
    # checkpoint the tokenize→tf→df subtree runs three times (the
    # scan-elimination class from NOTES). At 100 TB the weights/posting
    # table would be persisted storage; localCheckpoint is its in-session
    # equivalent.
    w = w.localCheckpoint(eager=True)
    norms = w.groupBy("doc_id").agg(F.sum(F.col("wq") * F.col("wq")).alias("nsq"))
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.sum(F.col("a.wq") * F.col("b.wq")).alias("dot"))
    )
    # r10 (guide §2.4): symmetrize by exploding a 2-struct array — the
    # union referenced the un-materialized dots subtree twice, running
    # the posting-list self-join + pair aggregate 2x
    sym = dots.select(
        F.explode(
            F.array(
                F.struct("id_a", "id_b", "dot"),
                F.struct(
                    F.col("id_b").alias("id_a"),
                    F.col("id_a").alias("id_b"),
                    "dot",
                ),
            )
        ).alias("_p")
    ).select("_p.id_a", "_p.id_b", "_p.dot")
    cos = (
        sym.join(norms.withColumnRenamed("doc_id", "id_a").withColumnRenamed("nsq", "nsq_a"), "id_a")
        .join(norms.withColumnRenamed("doc_id", "id_b").withColumnRenamed("nsq", "nsq_b"), "id_b")
        .withColumn(
            "cos",
            F.col("dot").cast("double")
            / (F.sqrt(F.col("nsq_a").cast("double")) * F.sqrt(F.col("nsq_b").cast("double"))),
        )
    )
    wnd = Window.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    return (
        cos.withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= 3)
        .select("id_a", "id_b", "cos", F.col("rk").cast("int").alias("rk"))
    )


def q_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (tokens with frequency > N/32) via the
    Misra-Gries candidate pre-pass (operators/heavy_hitters.py): a
    zero-shuffle per-partition MG summary bounds the candidate set at
    k·partitions with NO false negatives, then an exact recount of only
    the candidates — the full-token-stream GROUP BY shuffle never
    happens. The oracle is the straight exact formulation; the outputs
    must be identical because the pre-pass is a pure superset filter."""
    from shuttlestandalonedbcreator_spark.operators import heavy_hitters as HH
    from shuttlestandalonedbcreator_spark.operators.util import fan_out

    # r10: fan_out — the MG pre-pass is per-partition, so the single-split
    # scan ran the tokenizer AND the whole summary on one core (guide §2.2)
    docs = fan_out(_t(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(D.tokens(F.col("text"))).alias("token"))
    return HH.frequent_items_exact(toks, "token", k=32)


SQL_FREQUENT_TOKENS = """
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
  FROM documents
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM toks) AS n_total
FROM toks GROUP BY token
HAVING COUNT(*) * 32 > (SELECT COUNT(*) FROM toks)
"""


def q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-event funnel (MATCH_RECOGNIZE-lite): per user, did a
    view → click → purchase happen IN ORDER? Three stages need true
    chaining — `funnel_conversion`'s two-stage trick (first B after
    first A) can't express "first C after the first B-after-A", which is
    why this is a separate operator. Stage k's anchor is the
    earliest qualifying event strictly after stage k-1's anchor —
    computed as three chained conditional MIN aggregates over ONE
    per-user aggregate (no joins, no windows, no explode): min view ts,
    then min click ts > that, then min purchase ts > that. The funnel
    counts drop out of one final single-row aggregate.

    Scale: one shuffle on user_id with map-side partial mins; the
    conditional-min chain can't be done in a single agg pass (stage k's
    predicate needs stage k-1's result), so it's three narrow aggs over
    the SAME exchange — AQE reuses the user_id partitioning."""
    ev = _t(spark, sf_dir, "events")
    typed = ev.select("user_id", "event_type", "ts")
    s1 = typed.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    s2 = (
        typed.join(s1, "user_id")
        .groupBy("user_id")
        .agg(
            F.first("t_view").alias("t_view"),
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).alias("t_click"),
        )
    )
    s3 = (
        typed.join(s2, "user_id")
        .groupBy("user_id")
        .agg(
            F.first("t_view").alias("t_view"),
            F.first("t_click").alias("t_click"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).alias("t_purchase"),
        )
    )
    return s3.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("t_view").isNotNull().cast("long")).alias("n_viewed"),
        F.sum(F.col("t_click").isNotNull().cast("long")).alias("n_clicked"),
        F.sum(F.col("t_purchase").isNotNull().cast("long")).alias("n_converted"),
    )


SQL_CONVERSION_FUNNEL = """
WITH s1 AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id
), s2 AS (
  SELECT e.user_id, ANY_VALUE(s1.t_view) AS t_view,
         MIN(CASE WHEN e.event_type = 'click' AND e.ts > s1.t_view THEN e.ts END) AS t_click
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, ANY_VALUE(s2.t_view) AS t_view, ANY_VALUE(s2.t_click) AS t_click,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t_click THEN e.ts END) AS t_purchase
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  GROUP BY e.user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
       CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked,
       CAST(SUM(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
FROM s3
"""


SQL_SPARSE_COSINE_TOPK = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_raw FROM documents
), w AS (
  SELECT t.doc_id, t.token,
         CAST(floor(CAST(t.tf AS DOUBLE)
              * (ln((CAST(n.n_raw AS DOUBLE) + 1.0) / (CAST(d.df AS DOUBLE) + 1.0)) + 1.0)
              * 1000.0 + 0.5) AS BIGINT) AS wq
  FROM tf t JOIN df d ON t.token = d.token CROSS JOIN n
  WHERE d.df * 10 <= greatest(1000, n.n_raw)
), norms AS (
  SELECT doc_id, CAST(SUM(wq * wq) AS BIGINT) AS nsq FROM w GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(SUM(a.wq * b.wq) AS BIGINT) AS dot
  FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sym AS (
  SELECT id_a, id_b, dot FROM dots
  UNION ALL
  SELECT id_b, id_a, dot FROM dots
), cos AS (
  SELECT s.id_a, s.id_b,
         CAST(s.dot AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))) AS cos
  FROM sym s
  JOIN norms na ON s.id_a = na.doc_id
  JOIN norms nb ON s.id_b = nb.doc_id
)
SELECT id_a, id_b, cos, CAST(rk AS INTEGER) AS rk FROM (
  SELECT id_a, id_b, cos,
         ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b ASC) AS rk
  FROM cos
) WHERE rk <= 3
"""


SQL_INTERVAL_ATTRIBUTION = """
WITH views AS (
  SELECT event_id AS view_id, user_id, ts AS view_ts
  FROM events WHERE event_type = 'view'
), clicks AS (
  SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
), per_view AS (
  SELECT v.view_id, v.view_ts, COUNT(c.click_ts) AS n_clicks
  FROM views v LEFT JOIN clicks c
    ON v.user_id = c.user_id
   AND c.click_ts >= v.view_ts
   AND c.click_ts <= v.view_ts + INTERVAL 1 HOUR
  GROUP BY 1, 2
)
SELECT CAST(date_trunc('day', view_ts) AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_views,
       CAST(SUM(CASE WHEN n_clicks > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
       CAST(SUM(n_clicks) AS BIGINT) AS click_pairs,
       CAST(SUM(CASE WHEN n_clicks > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS attribution_rate
FROM per_view GROUP BY 1
"""


def q_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from an event log — the lakehouse
    staple that turns a mutation stream into effective-dated history
    rows: per user, consecutive runs of the same attribute value
    (event_type here) collapse to one row with [valid_from, valid_to)
    and the open row flagged current.

    Plan: change-point detection (value IS DISTINCT FROM lag) and the
    validity/lead/version windows all share ONE partitioning on user_id
    — a single exchange end to end; the filter between the two window
    passes preserves the hash partitioning so Spark reuses it. Validity
    bounds ship as epoch MICROS (exact int64 on both engines — the
    loader truncates nanos identically). Deterministic order: (ts,
    event_id), event_id unique."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    marked = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("_prev"),
    )
    changes = marked.filter(~F.col("_prev").eqNullSafe(F.col("event_type")))
    w2 = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    valid_to = F.lead(F.unix_micros(F.col("ts"))).over(w2)
    return changes.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("valid_from_us"),
        valid_to.alias("valid_to_us"),
        F.row_number().over(w2).cast("long").alias("version"),
        valid_to.isNull().alias("is_current"),
    )


SQL_SCD2_DIMENSION = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev
  FROM events
), changes AS (
  SELECT user_id, event_type, ts, event_id FROM marked
  WHERE prev IS DISTINCT FROM event_type
)
SELECT user_id, event_type,
       epoch_us(ts) AS valid_from_us,
       lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS valid_to_us,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS BIGINT) AS version,
       lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL AS is_current
FROM changes
"""


def q_proration_allocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-money proration with largest-remainder rounding — allocate
    each order's total across its line items proportional to extended
    price, in integer cents, such that the allocations SUM EXACTLY to
    the order total (the invoice/ledger constraint naive per-row
    rounding violates by ±n cents). share_i = floor(T·w_i/W); the
    leftover T − Σshare cents go one each to the lines with the largest
    remainders (T·w_i mod W desc, linenumber asc tiebreak).

    Plan: one fact-fact join on orderkey (both sides pre-projected to
    key + cents), then the weight total, the floor-share running sum,
    and the remainder rank all share ONE window partitioning on
    orderkey. All arithmetic is int64 (T·w_i ≤ ~5e14 — order totals are
    per-order quantities, they don't grow with SF); `div`/`%` are exact
    on both engines; output is pure integers, no float anywhere."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("_T"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("_w"),
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).drop("o_orderkey")
    wp = Window.partitionBy("l_orderkey")
    tw = F.col("_T") * F.col("_w")
    with_shares = j.select(
        "l_orderkey",
        "l_linenumber",
        "_T",
        F.expr("_T * _w div sum(_w) over (partition by l_orderkey)").alias(
            "_share"
        ),
        (tw % F.sum("_w").over(wp)).alias("_mod"),
    )
    rk = Window.partitionBy("l_orderkey").orderBy(
        F.desc("_mod"), F.asc("l_linenumber")
    )
    return with_shares.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("_share")
            + (
                F.row_number().over(rk)
                <= F.col("_T") - F.sum("_share").over(wp)
            ).cast("long")
        ).alias("alloc_cents"),
    )


SQL_PRORATION_ALLOCATE = """
WITH o AS (
  SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS T
  FROM orders
), li AS (
  SELECT l_orderkey, l_linenumber,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
  FROM lineitem
), shares AS (
  SELECT l_orderkey, l_linenumber, T,
         T * w // SUM(w) OVER (PARTITION BY l_orderkey) AS share,
         (T * w) % SUM(w) OVER (PARTITION BY l_orderkey) AS md
  FROM li JOIN o ON l_orderkey = o_orderkey
)
SELECT l_orderkey, l_linenumber,
       CAST(share + CASE WHEN ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY md DESC, l_linenumber ASC)
                          <= T - SUM(share) OVER (PARTITION BY l_orderkey)
                    THEN 1 ELSE 0 END AS BIGINT) AS alloc_cents
FROM shares
"""


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction via pointwise mutual information over
    adjacent token pairs — the classic phrase-mining pass ("new york"
    scores high, "of the" scores low) a tokenizer-training pipeline
    runs before merging multiword units.

    PMI = ln p(ab)/(p(a)p(b)) decomposed into single-int logs:
    ln c_ab − ln B − ln c_a − ln c_b + 2·ln N (N tokens, B bigrams) —
    each term is ln of one exact int64, the SAME expression tree on
    both engines, rounded once at the end (multi-op float chain rule).
    No product of counts is ever formed, so nothing can overflow at any
    scale. Plan: bigram + unigram counts are two keyed aggregates with
    map-side partials; the two 1-row totals ride as broadcast scalars;
    the unigram side joins twice (w1, w2) on its own key. min_count=5
    keeps the output collocations, not noise."""
    # r10: fan_out was A/B-measured SLOWER here (two extra text
    # exchanges outweigh the single-core tokenize at this weight) and
    # not applied
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(D.tokens(F.col("text"))).alias("tok"))
    cnt_w = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_w"))
    n_total = cnt_w.agg(F.sum("c_w").alias("_N"))
    bg_list = T.let(D.tokens(F.col("text")), T.word_bigrams)
    bg = docs.select(F.explode(bg_list).alias("g")).select("g.w1", "g.w2")
    cnt_bg = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_count"))
    b_total = cnt_bg.agg(F.sum("pair_count").alias("_B"))
    pmi = (
        F.log(F.col("pair_count").cast("double"))
        - F.log(F.col("_B").cast("double"))
        - F.log(F.col("c_a").cast("double"))
        - F.log(F.col("c_b").cast("double"))
        + F.lit(2.0) * F.log(F.col("_N").cast("double"))
    )
    return (
        cnt_bg.filter(F.col("pair_count") >= 5)
        .join(cnt_w.select(F.col("tok").alias("w1"), F.col("c_w").alias("c_a")), "w1")
        .join(cnt_w.select(F.col("tok").alias("w2"), F.col("c_w").alias("c_b")), "w2")
        .crossJoin(bounded_broadcast(n_total, "one_row"))
        .crossJoin(bounded_broadcast(b_total, "one_row"))
        .select("w1", "w2", "pair_count", F.round(pmi, 6).alias("pmi"))
    )


SQL_PMI_COLLOCATIONS = """
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
  FROM documents
), cnt_w AS (
  SELECT tok, COUNT(*) AS c_w FROM toks GROUP BY 1
), n_total AS (
  SELECT CAST(SUM(c_w) AS BIGINT) AS N_ FROM cnt_w
), words AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), bg AS (
  SELECT w[i] AS w1, w[i+1] AS w2
  FROM words, unnest(range(1, len(w))) AS u(i)
  WHERE len(w) >= 2
), cnt_bg AS (
  SELECT w1, w2, COUNT(*) AS pair_count FROM bg GROUP BY 1, 2
), b_total AS (
  SELECT CAST(SUM(pair_count) AS BIGINT) AS B_ FROM cnt_bg
)
SELECT g.w1, g.w2, g.pair_count,
       round(ln(CAST(g.pair_count AS DOUBLE)) - ln(CAST(B_ AS DOUBLE))
             - ln(CAST(a.c_w AS DOUBLE)) - ln(CAST(b.c_w AS DOUBLE))
             + 2.0 * ln(CAST(N_ AS DOUBLE)), 6) AS pmi
FROM cnt_bg g
JOIN cnt_w a ON g.w1 = a.tok
JOIN cnt_w b ON g.w2 = b.tok
CROSS JOIN n_total CROSS JOIN b_total
WHERE g.pair_count >= 5
"""


def q_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the inequality audit
    (how concentrated is spend?) next to revenue_concentration's 80/20
    crossing. Rank identity on sorted cents x_1≤…≤x_n:
    G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) — every term an exact int64,
    G itself ONE division of exact ints (unrounded rule).

    Scale shape: the global rank runs over the PER-CUSTOMER aggregate
    via the blocked decomposition (`operators/scalewin.py`: value-range
    blocks on cents, per-block row_number, ≤1024-row offset stitch) —
    no single-partition WindowExec even at a 10^9-customer dimension,
    bit-identical ranks, oracle unchanged. Overflow: n·Σcents needs
    n·total < 2^63 — at sf1 that is ~1.5e5·2.3e13 ≈ 3.4e18, inside
    int64; the docstring is the bound's audit trail."""
    orders = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    per_cust = orders.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    ranked = SW.with_global_row_numbers(
        per_cust, {"i": [("cents", "asc"), ("o_custkey", "asc")]}
    ).select("cents", "i")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("total_cents"),
        F.sum(F.col("i") * F.col("cents")).alias("_s1"),
    )
    num = F.lit(2) * F.col("_s1") - (F.col("n_customers") + 1) * F.col("total_cents")
    den = F.col("n_customers") * F.col("total_cents")
    return agg.select(
        "n_customers",
        "total_cents",
        (num.cast("double") / den.cast("double")).alias("gini"),
    )


SQL_GINI_REVENUE = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
), ranked AS (
  SELECT cents,
         CAST(ROW_NUMBER() OVER (ORDER BY cents ASC, o_custkey ASC) AS BIGINT) AS i
  FROM per_cust
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         CAST(SUM(i * cents) AS BIGINT) AS s1
  FROM ranked
)
SELECT n_customers, total_cents,
       CAST(2 * s1 - (n_customers + 1) * total_cents AS DOUBLE)
         / CAST(n_customers * total_cents AS DOUBLE) AS gini
FROM agg
"""


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session paths — the ordered event-type sequences users
    actually walk (clickstream path analysis), built on the SAME 30-min
    gap sessionization as `sessionization` so the two entries agree on
    what a session is.

    Plan: the gap flag, the running session id, and the per-session
    ordered path all share one partitioning on user_id; the path is
    assembled by sorting (ts, event_id, type) structs INSIDE the
    collected array (array_sort — deterministic, event_id unique) so no
    engine-specific collect order can leak into the string. Path counts
    are one more keyed aggregate; the final top-k is
    TakeOrderedAndProject with (count desc, path asc) — total order."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    us = F.unix_micros(F.col("ts"))
    lag_us = F.lag(us).over(w)
    new_session = F.when(
        lag_us.isNull() | ((us - lag_us) > 1800 * 1_000_000), 1
    ).otherwise(0)
    sid = F.sum(new_session).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    paths = (
        ev.withColumn("_sid", sid)
        .groupBy("user_id", "_sid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s.event_type,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


SQL_SESSION_PATHS = """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, event_id, ts, event_type,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
), paths AS (
  SELECT user_id, sid,
         string_agg(event_type, '>' ORDER BY ts ASC, event_id ASC) AS path
  FROM sessions GROUP BY 1, 2
)
SELECT path, COUNT(*) AS n_sessions
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path ASC
LIMIT 20
"""


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage via blocking + edit-distance verify — the
    entity-resolution workhorse: candidate pairs come ONLY from equality
    blocks (nationkey, last-4-of-name), never a cross join, and
    Levenshtein verifies inside each block. The corpus has no fuzzy
    duplicates, so a deterministically perturbed mirror of every 7th
    customer is injected in-query (the cross_source_canonical fixture
    pattern, 2^40 id offset): 'Customer' → 'Custmr' is edit distance 2
    and leaves the digits the block key reads intact.

    Plan: one equality-keyed shuffle join (blocks bound the fan-out),
    verify via built-in levenshtein (JVM-side, no UDF). At 100 TB this
    is the standard blocking→verify shape: candidate volume scales with
    block sizes, not corpus²."""
    cust = _t(spark, sf_dir, "customer")
    base = cust.select("c_custkey", "c_name", "c_nationkey")
    mirror = cust.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + F.lit(1 << 40)).alias("m_custkey"),
        F.regexp_replace("c_name", "^Customer", "Custmr").alias("m_name"),
        F.col("c_nationkey").alias("m_nationkey"),
    )
    blk = lambda c: F.expr(f"substring({c}, length({c}) - 3, 4)")  # noqa: E731
    cand = base.join(
        mirror,
        (F.col("c_nationkey") == F.col("m_nationkey"))
        & (blk("c_name") == blk("m_name")),
    )
    dist = F.levenshtein("c_name", "m_name")
    return cand.filter(dist <= 2).select(
        F.col("c_custkey").alias("base_id"),
        F.col("m_custkey").alias("dup_id"),
        dist.cast("long").alias("edit_dist"),
    )


SQL_RECORD_LINKAGE = """
WITH base AS (
  SELECT c_custkey, c_name, c_nationkey FROM customer
), mirror AS (
  SELECT c_custkey + (1::BIGINT << 40) AS m_custkey,
         regexp_replace(c_name, '^Customer', 'Custmr') AS m_name,
         c_nationkey AS m_nationkey
  FROM customer WHERE c_custkey % 7 = 0
), cand AS (
  SELECT b.c_custkey, m.m_custkey, b.c_name, m.m_name
  FROM base b JOIN mirror m
    ON b.c_nationkey = m.m_nationkey
   AND substr(b.c_name, length(b.c_name) - 3, 4) = substr(m.m_name, length(m.m_name) - 3, 4)
)
SELECT c_custkey AS base_id, m_custkey AS dup_id,
       CAST(levenshtein(c_name, m_name) AS BIGINT) AS edit_dist
FROM cand
WHERE levenshtein(c_name, m_name) <= 2
"""


def q_pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 3 power iterations over the co-purchase part graph, in
    EXACT integer arithmetic: ranks live in 1e-12 units of total mass,
    per-edge contributions are integer `div`s of the source rank by its
    out-degree, and the damping update is (15·SCALE div 100N) +
    (85·incoming div 100) — bit-identical on both engines, so an
    ITERATIVE algorithm carries a full value-hash oracle (unrolled CTE
    rounds) instead of a rows-only check. The tiny mass the floors leak
    is deterministic and identical on both sides.

    Plan: the symmetrized edge list + out-degrees build once and are
    localCheckpoint'ed (a re-referenced un-materialized subtree would
    re-derive the pair join per round); each round is one src-keyed join
    + one dst-keyed aggregate — the same 2-shuffle round shape as
    connected components, rounds fixed at 3. Edge volume is bounded by
    per-basket size², never corpus² (copurchase_lift's bound)."""
    li = _t(spark, sf_dir, "lineitem")
    # r10: basket-array pair expansion replaces the items self-join
    # (3 exchanges + 2 sorts → 1 exchange; guide §2.4, same bound)
    und = (
        _basket_pairs(_basket_items(li))
        .filter(F.col("c12") >= 2)
        .select("p1", "p2")
    )
    # r10 (guide §2.4): symmetrize by exploding a 2-struct array instead
    # of union-of-two-selects — the union referenced the un-materialized
    # basket-pair subtree twice, running the whole pair build 2x inside
    # this checkpoint job.
    # r11 (guide §5, measured): ONE eager checkpoint instead of two —
    # out-degrees ride the same src-keyed pass as a window count instead
    # of a separate groupBy + join back onto a first checkpoint, so the
    # basket build, symmetrize, and degree attach all materialize in one
    # job (two eager-checkpoint scheduling barriers → one; interleaved
    # A/B at sf0.1: 2.859 → 2.274 s min-of-4, output bit-identical).
    # deg/rank-seed then read the materialized frame (first() per src is
    # exact — outdeg is constant within a src group by construction).
    ed = (
        und.select(
            F.explode(
                F.array(
                    F.struct(F.col("p1").alias("src"), F.col("p2").alias("dst")),
                    F.struct(F.col("p2").alias("src"), F.col("p1").alias("dst")),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .withColumn("outdeg", F.count(F.lit(1)).over(Window.partitionBy("src")))
        .localCheckpoint(eager=True)
    )
    deg = ed.groupBy("src").agg(F.first("outdeg").alias("outdeg"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("_N"))
    scale = 1_000_000_000_000
    ranks = deg.crossJoin(bounded_broadcast(n_nodes, "one_row")).select(
        F.col("src").alias("node"), F.expr(f"{scale} div _N").alias("r")
    )
    for _ in range(3):
        inc = (
            ed.join(ranks, ed.src == ranks.node)
            .select("dst", F.expr("r div outdeg").alias("_c"))
            .groupBy("dst")
            .agg(F.sum("_c").alias("_inc"))
        )
        ranks = inc.crossJoin(bounded_broadcast(n_nodes, "one_row")).select(
            F.col("dst").alias("node"),
            F.expr(f"(15 * {scale}) div (100 * _N) + (85 * _inc) div 100").alias(
                "r"
            ),
        )
    return ranks.select(
        F.col("node").alias("part_id"), F.col("r").alias("rank_scaled")
    )


SQL_PAGERANK_FIXED = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), edges AS (
  SELECT p1 AS src, p2 AS dst FROM und
  UNION ALL
  SELECT p2 AS src, p1 AS dst FROM und
), deg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS N FROM deg
), r0 AS (
  SELECT src AS node, CAST(1000000000000 // N AS BIGINT) AS r FROM deg CROSS JOIN nn
), r1 AS (
  SELECT e.dst AS node,
         CAST((15 * 1000000000000) // (100 * MAX(nn.N)) + (85 * SUM(r.r // d.outdeg)) // 100 AS BIGINT) AS r
  FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src CROSS JOIN nn
  GROUP BY 1
), r2 AS (
  SELECT e.dst AS node,
         CAST((15 * 1000000000000) // (100 * MAX(nn.N)) + (85 * SUM(r.r // d.outdeg)) // 100 AS BIGINT) AS r
  FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src CROSS JOIN nn
  GROUP BY 1
), r3 AS (
  SELECT e.dst AS node,
         CAST((15 * 1000000000000) // (100 * MAX(nn.N)) + (85 * SUM(r.r // d.outdeg)) // 100 AS BIGINT) AS r
  FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src CROSS JOIN nn
  GROUP BY 1
)
SELECT node AS part_id, r AS rank_scaled FROM r3
"""


def q_woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value per feature bin — the
    credit-scoring feature screen (does market segment predict urgent
    ordering?). Labels: customer placed ≥1 URGENT order; bins:
    mktsegment. Add-one smoothing keeps every count a positive int, so
    WOE = ln(np1) − ln(ΣNp1) − ln(nn1) + ln(ΣNn1) is single-int logs in
    one fixed tree (rounded once — multi-op chain rule); the IV term
    mixes ratios into the same tree and rounds once.

    Plan: label derivation is one left join + groupBy on custkey (the
    join key — exchange reused), the bin table is ≤ |segments| rows so
    its totals are windows over a tiny frame, not re-scans."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    lab = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("pos")
        )
    )
    cells = lab.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        (F.sum("pos") + 1).alias("np1"),
        (F.sum(1 - F.col("pos")) + 1).alias("nn1"),
    )
    w = Window.partitionBy()
    woe = (
        F.log(F.col("np1").cast("double"))
        - F.log(F.sum("np1").over(w).cast("double"))
        - F.log(F.col("nn1").cast("double"))
        + F.log(F.sum("nn1").over(w).cast("double"))
    )
    iv = (
        F.col("np1").cast("double") / F.sum("np1").over(w).cast("double")
        - F.col("nn1").cast("double") / F.sum("nn1").over(w).cast("double")
    ) * woe
    return cells.select(
        "segment",
        (F.col("np1") - 1).alias("n_pos"),
        (F.col("nn1") - 1).alias("n_neg"),
        F.round(woe, 6).alias("woe"),
        F.round(iv, 6).alias("iv_term"),
    )


SQL_WOE_INFORMATION_VALUE = """
WITH lab AS (
  SELECT c.c_mktsegment AS segment,
         MAX(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS pos
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey, c.c_mktsegment
), cells AS (
  SELECT segment,
         CAST(SUM(pos) + 1 AS BIGINT) AS np1,
         CAST(SUM(1 - pos) + 1 AS BIGINT) AS nn1
  FROM lab GROUP BY 1
)
SELECT segment,
       np1 - 1 AS n_pos, nn1 - 1 AS n_neg,
       round(ln(CAST(np1 AS DOUBLE)) - ln(CAST(SUM(np1) OVER () AS DOUBLE))
             - ln(CAST(nn1 AS DOUBLE)) + ln(CAST(SUM(nn1) OVER () AS DOUBLE)), 6) AS woe,
       round((CAST(np1 AS DOUBLE) / CAST(SUM(np1) OVER () AS DOUBLE)
              - CAST(nn1 AS DOUBLE) / CAST(SUM(nn1) OVER () AS DOUBLE))
             * (ln(CAST(np1 AS DOUBLE)) - ln(CAST(SUM(np1) OVER () AS DOUBLE))
                - ln(CAST(nn1 AS DOUBLE)) + ln(CAST(SUM(nn1) OVER () AS DOUBLE))), 6) AS iv_term
FROM cells
"""


def q_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily value series per event_type —
    the mean-reversion/momentum screen next to trend_slope_by_type's
    OLS. Daily totals quantize to whole units via floor(cents/100.0)
    (the double is exact below 2^53, and floor-of-double sidesteps the
    div-vs-// negative-truncation split between engines); the unit scale
    keeps Σx², Σxy inside int64 at 100× this SF. Pearson r then comes
    from five exact integer moment sums; the n·Σxy − Σx·Σy products
    multiply as DOUBLES (the trend_slope int64-overflow lesson), one
    fixed tree, rounded once. One shuffle for the daily rollup; the lag
    pairing and moments ride the same event_type partitioning."""
    ev = _t(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.floor(F.sum(cents).cast("double") / F.lit(100.0)).cast("long").alias("v")
    )
    w = Window.partitionBy("event_type").orderBy(F.asc("day"))
    paired = daily.select(
        "event_type", F.col("v").alias("y"), F.lag("v").over(w).alias("x")
    ).filter(F.col("x").isNotNull())
    m = paired.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n").cast("double") * F.col("sxy").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sy").cast("double")
    denx = F.col("n").cast("double") * F.col("sxx").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sx").cast("double")
    deny = F.col("n").cast("double") * F.col("syy").cast("double") - F.col(
        "sy"
    ).cast("double") * F.col("sy").cast("double")
    return m.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        F.round(num / F.sqrt(denx * deny), 6).alias("autocorr_lag1"),
    )


SQL_AUTOCORR_DAILY = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(floor(CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE) / 100.0) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
), paired AS (
  SELECT event_type, v AS y,
         lag(v) OVER (PARTITION BY event_type ORDER BY day ASC) AS x
  FROM daily
), m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x*y) AS BIGINT) AS sxy,
         CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy
  FROM paired WHERE x IS NOT NULL GROUP BY 1
)
SELECT event_type, n AS n_pairs,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS autocorr_lag1
FROM m
"""


def q_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (Fano factor) — Var/mean of per-document counts
    including the zero-count docs: content words are bursty (they recur
    within the few docs they appear in), function words are Poisson-ish.
    A corpus-statistics pass tokenizer/vocab design reads alongside df
    and tf. With S=Σc, S2=Σc² over present docs and D total docs, the
    population identity Fano = (D·S2 − S²)/(D·S) needs no per-doc
    zero rows. Products multiply as DOUBLES (S² overflows int64 on hot
    tokens at large SF — the trend_slope lesson); one fixed tree,
    shipped via that tree unrounded... rounded once (multi-op chain).
    Plan: (token, doc) tf then token stats — two keyed aggregates with
    map-side partials; D rides as a broadcast 1-row aggregate; top-50
    by Fano with token tiebreak, df ≥ 20 floors the noise."""
    docs = _t(spark, sf_dir, "documents")
    # r10: a fan_out here was A/B-measured SLOWER (the extra text
    # exchange outweighs the single-core tokenize at this weight) — left
    # in the original shape
    toks = docs.select(
        "doc_id", F.explode(D.tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("tok", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    stats = tf.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("total_count"),
        F.sum(F.col("c") * F.col("c")).alias("_s2"),
    )
    d_total = docs.agg(F.count(F.lit(1)).alias("_D"))
    fano = (
        F.col("_D").cast("double") * F.col("_s2").cast("double")
        - F.col("total_count").cast("double") * F.col("total_count").cast("double")
    ) / (F.col("_D").cast("double") * F.col("total_count").cast("double"))
    return (
        stats.filter(F.col("df") >= 20)
        .crossJoin(bounded_broadcast(d_total, "one_row"))
        .select("tok", "df", "total_count", F.round(fano, 6).alias("fano"))
        .orderBy(F.desc("fano"), F.asc("tok"))
        .limit(50)
    )


SQL_TOKEN_BURSTINESS = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
  FROM documents
), tf AS (
  SELECT tok, doc_id, COUNT(*) AS c FROM toks GROUP BY 1, 2
), stats AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(c) AS BIGINT) AS total_count, CAST(SUM(c*c) AS BIGINT) AS s2
  FROM tf GROUP BY 1
), d AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS D FROM documents
)
SELECT tok, df, total_count,
       round((CAST(D AS DOUBLE) * CAST(s2 AS DOUBLE)
              - CAST(total_count AS DOUBLE) * CAST(total_count AS DOUBLE))
             / (CAST(D AS DOUBLE) * CAST(total_count AS DOUBLE)), 6) AS fano
FROM stats CROSS JOIN d
WHERE df >= 20
ORDER BY fano DESC, tok ASC
LIMIT 50
"""


def q_stratified_split_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified split with EXACT global size: the hash-deterministic
    80/20 split (`train_val_test_split`) hits 80% only in expectation;
    this entry makes the global train count exactly floor(0.8·N) while
    keeping strata proportional — per-stratum quota floor(0.8·n) plus a
    largest-remainder top-up across strata (the proration_allocate
    identity applied to sampling). Assignment stays hash-deterministic
    and growth-stable WITHIN a stratum: rows rank by md5(doc_id), the
    first k go to train — no RNG state, task retries agree.

    Plan: one rank window per stratum; quotas live on a per-stratum
    frame (bounded by |langs| — a domain), topped up via one tiny
    ordered window, joined back hint-free (AQE broadcasts by size)."""
    docs = _t(spark, sf_dir, "documents")
    wr = Window.partitionBy("lang").orderBy(
        F.asc(F.md5(F.col("doc_id").cast("string"))), F.asc("doc_id")
    )
    ranked = docs.select(
        "doc_id", "lang", F.row_number().over(wr).cast("long").alias("_rk")
    )
    sizes = ranked.groupBy("lang").agg(F.count(F.lit(1)).alias("_n"))
    # totals as windows over the strata frame (bounded by |langs|): no
    # self-join, no broadcast needed
    wq = Window.orderBy(F.desc("_rem"), F.asc("lang"))
    wall = Window.partitionBy()
    quotas = (
        sizes.select(
            "lang",
            "_n",
            F.expr("_n * 80 div 100").alias("_base"),
            F.expr("(_n * 80) % 100").alias("_rem"),
        )
        .select(
            "lang",
            (
                F.col("_base")
                + (
                    F.row_number().over(wq)
                    <= F.expr("sum(_n) over () * 80 div 100")
                    - F.sum("_base").over(wall)
                ).cast("long")
            ).alias("_k"),
        )
    )
    return ranked.join(quotas, "lang").select(
        "doc_id",
        "lang",
        F.when(F.col("_rk") <= F.col("_k"), F.lit("train"))
        .otherwise(F.lit("eval"))
        .alias("split"),
    )


SQL_STRATIFIED_SPLIT_EXACT = """
WITH ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
  FROM documents
), sizes AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM ranked GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total_n, CAST(SUM(n * 80 // 100) AS BIGINT) AS base_sum FROM sizes
), quotas AS (
  SELECT lang, n * 80 // 100
         + CASE WHEN ROW_NUMBER() OVER (ORDER BY (n * 80) % 100 DESC, lang ASC)
                 <= total_n * 80 // 100 - base_sum THEN 1 ELSE 0 END AS k
  FROM sizes CROSS JOIN tot
)
SELECT r.doc_id, r.lang,
       CASE WHEN r.rk <= q.k THEN 'train' ELSE 'eval' END AS split
FROM ranked r JOIN quotas q USING (lang)
"""


def q_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per market segment — the
    reporting staple. Monthly totals are exact cents (one groupBy on
    (segment, month) after a custkey-keyed dim join); the ratio is ONE
    division of exact int64s, shipped UNROUNDED (single-division rule);
    the first month's ratio is NULL on both engines (lag null)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    monthly = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("month"),
        )
        .agg(F.sum(cents).alias("cents"))
    )
    w = Window.partitionBy("segment").orderBy(F.asc("month"))
    return monthly.select(
        "segment",
        "month",
        "cents",
        (
            F.col("cents").cast("double") / F.lag("cents").over(w).cast("double")
        ).alias("mom_ratio"),
    )


SQL_MOM_GROWTH = """
WITH monthly AS (
  SELECT c.c_mktsegment AS segment,
         CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
         CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT segment, month, cents,
       CAST(cents AS DOUBLE) / CAST(lag(cents) OVER (PARTITION BY segment ORDER BY month ASC) AS DOUBLE) AS mom_ratio
FROM monthly
"""


def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification — parts bucketed by cumulative
    revenue share (A: first 80% of revenue, B: to 95%, C: the tail),
    the operations-research sibling of revenue_concentration. Class
    boundaries compare in INTEGER cross-multiplication (cum·100 ≤
    tot·80 — no float thresholds, no rounding hazard; tot·100 stays
    far inside int64 at any SF). The running sum rides the blocked
    decomposition (`operators/scalewin.py`: per-block running sums +
    a ≤1024-row offset stitch) so no single-partition WindowExec
    touches the per-part frame even at a 10^9-part dimension;
    (revenue desc, partkey) is a total order and the blocked form is
    bit-identical to the global window — oracle unchanged."""
    li = _t(spark, sf_dir, "lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    per_part = li.groupBy("l_partkey").agg(F.sum(cents).alias("revenue_cents"))
    ranked = SW.with_global_running_sum(
        per_part,
        [("revenue_cents", "desc"), ("l_partkey", "asc")],
        "revenue_cents",
        "cum",
        total_col="_tot",
    )
    cum = F.col("cum")
    tot = F.col("_tot")
    return ranked.select(
        "l_partkey",
        "revenue_cents",
        F.when(cum * 100 <= tot * 80, F.lit("A"))
        .when(cum * 100 <= tot * 95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


SQL_ABC_CLASSIFICATION = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_cents
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT l_partkey, revenue_cents,
         CAST(SUM(revenue_cents) OVER (ORDER BY revenue_cents DESC, l_partkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(revenue_cents) OVER () AS BIGINT) AS tot
  FROM per_part
)
SELECT l_partkey, revenue_cents,
       CASE WHEN cum * 100 <= tot * 80 THEN 'A'
            WHEN cum * 100 <= tot * 95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
"""


def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model gains table — the deployment-facing eval next to
    classifier_auc: score deciles (ntile over score desc) with per-decile
    positive rate, lift over base rate, and cumulative capture. Same toy
    scorer as classifier_auc (stopword ratio vs lang='en') so the two
    evals describe one model. NTILE agrees across engines given a TOTAL
    order (the rfm_segmentation lesson): ties break on doc_id. Lift =
    n_pos·N/(n·P) and capture = cum_pos/P are single divisions of exact
    int64 products, shipped UNROUNDED.

    Scale note: NTILE derives exactly from (global rank, count) via the
    standard bucket formula, and the rank rides the blocked
    decomposition (`operators/scalewin.py`) — no single-partition sort
    of the scored corpus; bit-identical deciles, oracle unchanged. The
    two remaining unpartitioned windows run over the 10-row decile
    frame only."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        T.stopword_ratio(F.col("text")).alias("_s"),
        (F.col("lang") == "en").cast("long").alias("_pos"),
        "doc_id",
    )
    ranked = SW.with_global_row_numbers(
        scored, {"_r": [("_s", "desc"), ("doc_id", "asc")]}, count_col="_n"
    )
    cells = (
        ranked.select(
            SW.ntile_from_rank(F.col("_r"), F.col("_n"), 10)
            .cast("long")
            .alias("decile"),
            "_pos",
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_pos").alias("n_pos"))
    )
    wall = Window.partitionBy()
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return cells.select(
        "decile",
        "n",
        "n_pos",
        (
            (F.col("n_pos") * F.sum("n").over(wall)).cast("double")
            / (F.col("n") * F.sum("n_pos").over(wall)).cast("double")
        ).alias("lift"),
        (
            F.sum("n_pos").over(wcum).cast("double")
            / F.sum("n_pos").over(wall).cast("double")
        ).alias("cum_capture"),
    )


SQL_DECILE_LIFT = """
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS w
  FROM documents
), scored AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
         CASE WHEN len(w) > 0
              THEN CAST(len(list_filter(w, t -> list_contains(['the','and','of','to','is'], t))) AS DOUBLE)
                   / CAST(len(w) AS DOUBLE)
              ELSE 0.0 END AS s
  FROM toks
), cells AS (
  SELECT CAST(NTILE(10) OVER (ORDER BY s DESC, doc_id ASC) AS BIGINT) AS decile, pos
  FROM scored
), agg AS (
  SELECT decile, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos
  FROM cells GROUP BY 1
)
SELECT decile, n, n_pos,
       CAST(n_pos * SUM(n) OVER () AS DOUBLE)
         / CAST(n * SUM(n_pos) OVER () AS DOUBLE) AS lift,
       CAST(SUM(n_pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / CAST(SUM(n_pos) OVER () AS DOUBLE) AS cum_capture
FROM agg
"""


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per market segment between a customer's
    account balance and their order revenue — the outlier-robust
    dependence check (Pearson on money is dominated by whales). Both
    rankings break ties deterministically on custkey (documented:
    tiebroken Spearman, not tie-averaged), which makes each rank a
    PERMUTATION, so the classic exact identity applies: ρ = 1 −
    6·Σd²/(n(n²−1)) — all int64 (Σd² ≤ n³, n is per-segment customers),
    one division, shipped unrounded.

    Plan: revenue is one custkey-keyed aggregate joined back to
    customers on the same key; the two rank windows share the segment
    partitioning; the moment sums are one more grouped aggregate."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    rev = orders.groupBy("o_custkey").agg(F.sum(cents).alias("_rev"))
    j = cust.join(rev, cust.c_custkey == rev.o_custkey).select(
        "c_mktsegment", "c_custkey", "c_acctbal", "_rev"
    )
    wx = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("c_acctbal"), F.asc("c_custkey")
    )
    wy = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("_rev"), F.asc("c_custkey")
    )
    ranked = j.select(
        "c_mktsegment",
        (F.row_number().over(wx).cast("long") - F.row_number().over(wy).cast("long")).alias("_d"),
    )
    m = ranked.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_d") * F.col("_d")).alias("_sd2"),
    )
    return m.select(
        "segment",
        "n",
        (
            F.lit(1.0)
            - (F.lit(6) * F.col("_sd2")).cast("double")
            / (F.col("n") * (F.col("n") * F.col("n") - 1)).cast("double")
        ).alias("spearman_rho"),
    )


SQL_SPEARMAN_CORR = """
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS r
  FROM orders GROUP BY 1
), j AS (
  SELECT c.c_mktsegment, c.c_custkey, c.c_acctbal, rev.r
  FROM customer c JOIN rev ON c.c_custkey = rev.o_custkey
), ranked AS (
  SELECT c_mktsegment,
         CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC) AS BIGINT)
         - CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY r ASC, c_custkey ASC) AS BIGINT) AS d
  FROM j
), m AS (
  SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(d * d) AS BIGINT) AS sd2
  FROM ranked GROUP BY 1
)
SELECT segment, n,
       1.0 - CAST(6 * sd2 AS DOUBLE) / CAST(n * (n * n - 1) AS DOUBLE) AS spearman_rho
FROM m
"""


def q_conversion_lag_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every purchase, the lag since
    the user's latest preceding click (the asof_join entry's pairing),
    summarized as exact interpolated quantiles — the latency-SLO shape
    applied to funnel analytics. Lag is computed in integer MICROS and
    divided once to seconds (identical tree); quantiles follow the
    exact_percentiles contract (sort-within-buffer, bounded here by the
    conversions count; approx sketch is the unbounded-group path)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    wc = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    clicks = (
        clicks.withColumn("_rn", F.row_number().over(wc))
        .filter(F.col("_rn") == 1)
        .select("user_id", "ts", F.unix_micros("ts").alias("_click_us"))
    )
    paired = J.asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        payload=["_click_us"],
    ).filter(F.col("_click_us").isNotNull())
    lag_s = (
        (F.unix_micros("ts") - F.col("_click_us")).cast("double") / F.lit(1e6)
    )
    return paired.select(lag_s.alias("_lag")).agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.round(F.expr("percentile(_lag, 0.5)"), 6).alias("p50_s"),
        F.round(F.expr("percentile(_lag, 0.9)"), 6).alias("p90_s"),
        F.round(F.expr("percentile(_lag, 0.99)"), 6).alias("p99_s"),
    )


SQL_CONVERSION_LAG_QUANTILES = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts, epoch_us(ts) AS click_us,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'click'
), c1 AS (
  SELECT user_id, ts, click_us FROM clicks WHERE rn = 1
), paired AS (
  SELECT p.event_id,
         (SELECT c.click_us FROM c1 c
          WHERE c.user_id = p.user_id AND c.ts <= p.ts
          ORDER BY c.ts DESC LIMIT 1) AS click_us,
         epoch_us(p.ts) AS p_us
  FROM purchases p
), lags AS (
  SELECT CAST(p_us - click_us AS DOUBLE) / 1000000.0 AS lag_s
  FROM paired WHERE click_us IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_conversions,
       round(quantile_cont(lag_s, 0.5), 6) AS p50_s,
       round(quantile_cont(lag_s, 0.9), 6) AS p90_s,
       round(quantile_cont(lag_s, 0.99), 6) AS p99_s
FROM lags
"""


def q_graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph — the first
    diagnostic run on any similarity/dup graph (a heavy tail predicts
    hot-key trouble in every downstream graph pass; dup_graph_triangles
    and pagerank_fixed consume the same edges). One orderkey-keyed pair
    join (basket-bounded), one degree count, one histogram count —
    nothing global."""
    li = _t(spark, sf_dir, "lineitem")
    # r10: basket-array pair expansion replaces the items self-join
    # (3 exchanges + 2 sorts → 1 exchange; guide §2.4, same bound)
    und = (
        _basket_pairs(_basket_items(li))
        .filter(F.col("c12") >= 2)
        .select("p1", "p2")
    )
    # r10 (guide §2.4): endpoints via ONE explode pass — the union
    # referenced the un-materialized pair subtree twice, running the
    # whole basket-pair build 2x
    sym = und.select(F.explode(F.array("p1", "p2")).alias("node"))
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


SQL_GRAPH_DEGREE_DISTRIBUTION = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), sym AS (
  SELECT p1 AS node FROM und UNION ALL SELECT p2 AS node FROM und
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM sym GROUP BY 1
)
SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY 1
"""


def q_column_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy per categorical column — the profiling statistic
    next to column_profile's min/max/nulls: near-zero entropy flags
    constant-ish columns, log(n_distinct) flags uniform keys. Per-term
    (c/n)·ln(n/c) values are floored to integer MICRO-nats BEFORE the
    sum (the mutual_information rule: raw double Σ is order-dependent),
    so the statistic is exact to 1e-6 on both engines. Plan: each column
    contributes a 1-column pruned scan (ReadSchema gate applies) into
    one union; one grouped count + one per-column rollup."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    vals = (
        orders.select(F.lit("o_orderstatus").alias("col"), F.col("o_orderstatus").alias("v"))
        .unionByName(
            orders.select(F.lit("o_orderpriority").alias("col"), F.col("o_orderpriority").alias("v"))
        )
        .unionByName(
            cust.select(F.lit("c_mktsegment").alias("col"), F.col("c_mktsegment").alias("v"))
        )
    )
    counts = vals.groupBy("col", "v").agg(F.count(F.lit(1)).alias("c"))
    wcol = Window.partitionBy("col")
    n = F.sum("c").over(wcol)
    term = F.floor(
        F.col("c").cast("double")
        / n.cast("double")
        * F.log(n.cast("double") / F.col("c").cast("double"))
        * 1_000_000
    ).cast("long")
    return (
        counts.select(
            "col", term.alias("_t"), n.alias("_n"),
            F.count(F.lit(1)).over(wcol).alias("_d"),
        )
        .groupBy("col")
        .agg(
            F.max("_n").alias("n_rows"),
            F.max("_d").alias("n_distinct"),
            (F.sum("_t") / F.lit(1e6)).alias("entropy_nats"),
        )
    )


SQL_COLUMN_ENTROPY_PROFILE = """
WITH vals AS (
  SELECT 'o_orderstatus' AS col, o_orderstatus AS v FROM orders
  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
  UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM customer
), counts AS (
  SELECT col, v, COUNT(*) AS c FROM vals GROUP BY 1, 2
), tot AS (
  SELECT col, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_distinct
  FROM counts GROUP BY 1
), terms AS (
  SELECT counts.col,
         CAST(floor(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
              * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS t,
         n, n_distinct
  FROM counts JOIN tot ON counts.col = tot.col
)
SELECT col, MAX(n) AS n_rows, MAX(n_distinct) AS n_distinct,
       CAST(SUM(t) AS BIGINT) / 1000000.0 AS entropy_nats
FROM terms GROUP BY col
"""


def q_reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval orderings (RRF, k=60) —
    the standard zero-tuning way to combine rankers (BM25 + embedding,
    here length + stopword quality). Both ranks come from total orders
    (doc_id tiebreak), the fused score is a FIXED two-term tree rounded
    once, and the top-20 orders by the rounded value + doc_id — so the
    cut is identical across engines. Scale note: both global ranks ride
    the blocked decomposition (`operators/scalewin.py` — one
    checkpointed materialization, per-block row_number, ≤1024-row
    offset stitch), so no single-partition sort of the corpus;
    bit-identical ranks, oracle unchanged. Production additionally
    fuses per-query candidate lists, which are bounded by
    construction."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "n_chars", T.stopword_ratio(F.col("text")).alias("_s")
    )
    ranked = SW.with_global_row_numbers(
        scored,
        {
            "r1": [("n_chars", "desc"), ("doc_id", "asc")],
            "r2": [("_s", "desc"), ("doc_id", "asc")],
        },
    ).select("doc_id", "r1", "r2")
    rrf = F.round(
        F.lit(1.0) / (F.lit(60) + F.col("r1"))
        + F.lit(1.0) / (F.lit(60) + F.col("r2")),
        6,
    )
    return (
        ranked.select("doc_id", "r1", "r2", rrf.alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(20)
    )


SQL_RECIPROCAL_RANK_FUSION = """
WITH toks AS (
  SELECT doc_id, n_chars,
         list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS w
  FROM documents
), scored AS (
  SELECT doc_id, n_chars,
         CASE WHEN len(w) > 0
              THEN CAST(len(list_filter(w, t -> list_contains(['the','and','of','to','is'], t))) AS DOUBLE)
                   / CAST(len(w) AS DOUBLE)
              ELSE 0.0 END AS s
  FROM toks
), ranked AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS r1,
         CAST(ROW_NUMBER() OVER (ORDER BY s DESC, doc_id ASC) AS BIGINT) AS r2
  FROM scored
)
SELECT doc_id, r1, r2,
       round(1.0 / (60 + r1) + 1.0 / (60 + r2), 6) AS rrf_score
FROM ranked
ORDER BY rrf_score DESC, doc_id ASC
LIMIT 20
"""


def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment against the SCD2 dimension — the
    consuming half of `scd2_dimension`: each purchase event picks up the
    regime (event_type run) that was valid AT its timestamp via the
    interval join user = user AND vf <= t < vt (open row: vt NULL).
    Every probe matches exactly once because the validity intervals
    partition the timeline from the first change onward.

    Plan: the dimension build is the scd2_dimension window stack (one
    user_id exchange); the probe join is EQUI on user_id with the range
    as a residual filter — per-user interval counts are small (runs per
    user), so the residual scan is bounded; no BNLJ."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    marked = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.lag("event_type").over(w).alias("_prev"),
    )
    changes = marked.filter(~F.col("_prev").eqNullSafe(F.col("event_type")))
    dim = changes.select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("regime"),
        F.unix_micros("ts").alias("_vf"),
        F.lead(F.unix_micros(F.col("ts"))).over(
            Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
        ).alias("_vt"),
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("_t")
    )
    return probes.join(
        dim,
        (probes.user_id == dim.d_user)
        & (F.col("_t") >= F.col("_vf"))
        & (F.col("_vt").isNull() | (F.col("_t") < F.col("_vt"))),
    ).select("event_id", "user_id", "regime")


SQL_SCD2_POINT_IN_TIME = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev
  FROM events
), changes AS (
  SELECT user_id, event_type, ts, event_id FROM marked
  WHERE prev IS DISTINCT FROM event_type
), dim AS (
  SELECT user_id, event_type AS regime,
         epoch_us(ts) AS vf,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS vt
  FROM changes
), probes AS (
  SELECT event_id, user_id, epoch_us(ts) AS t_us
  FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, d.regime
FROM probes p JOIN dim d
  ON p.user_id = d.user_id AND p.t_us >= d.vf AND (d.vt IS NULL OR p.t_us < d.vt)
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 over the corpus for a fixed query ('data model
    system') — the lexical-retrieval ranker every hybrid-search pipeline
    pairs with the embedding top-k entries (k1=1.2, b=0.75). Per-term
    scores are FLOORED to integer micro-units before the per-doc sum
    (order-free exact accumulation); idf uses the half-shifted form
    ln((2N−2df+1)/(2df+1)+1) so its inputs stay integers.

    Plan: doc lengths and the postings restricted to the query terms
    are two keyed aggregates; df is a 3-row aggregate and the corpus
    stats a broadcast 1-row; per-term scoring joins on doc_id (bounded
    by postings of the query terms, not the corpus); top-10 is
    TakeOrderedAndProject."""
    docs = _t(spark, sf_dir, "documents")
    terms = ["data", "model", "system"]
    # r10: fan_out and a toks localCheckpoint were both A/B-measured
    # SLOWER here (three consumer branches re-run the fan_out exchange;
    # the materialization exceeds three cheap tokenizer re-runs) — left
    # in the original shape
    toks = docs.select("doc_id", D.tokens(F.col("text")).alias("w"))
    dl = toks.select("doc_id", F.size("w").cast("long").alias("_dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("_N"), F.sum("_dl").alias("_totdl")
    )
    tf = (
        toks.select("doc_id", F.explode("w").alias("tok"))
        .filter(F.col("tok").isin(terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    idf = F.log(
        (2.0 * F.col("_N") - 2.0 * F.col("_df") + 1.0)
        / (2.0 * F.col("_df") + 1.0)
        + 1.0
    )
    denom = F.col("tf").cast("double") + 1.2 * (
        0.25
        + 0.75
        * F.col("_dl").cast("double")
        * F.col("_N").cast("double")
        / F.col("_totdl").cast("double")
    )
    sm = F.floor(
        idf * (F.col("tf").cast("double") * 2.2) / denom * 1_000_000
    ).cast("long")
    scored = (
        tf.join(bounded_broadcast(dfreq, "query_set"), "tok")
        .join(dl, "doc_id")
        .crossJoin(bounded_broadcast(stats, "one_row"))
        .select("doc_id", sm.alias("_sm"))
    )
    return (
        scored.groupBy("doc_id")
        .agg((F.sum("_sm") / F.lit(1e6)).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


SQL_BM25_TOPK = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), dl AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS N, CAST(SUM(dl) AS BIGINT) AS totdl FROM dl
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(w) AS tok FROM toks)
  WHERE tok IN ('data', 'model', 'system')
  GROUP BY 1, 2
), df_ AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id,
         CAST(floor(
           ln((2.0 * N - 2.0 * df + 1.0) / (2.0 * df + 1.0) + 1.0)
           * (CAST(tf AS DOUBLE) * 2.2)
           / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) * CAST(N AS DOUBLE) / CAST(totdl AS DOUBLE)))
           * 1000000) AS BIGINT) AS sm
  FROM tf JOIN df_ USING (tok) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
)
SELECT doc_id, CAST(SUM(sm) AS BIGINT) / 1000000.0 AS bm25
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC LIMIT 10
"""


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic: the log2-bucketed histogram of per-key row
    counts (here events.user_id) — the first thing to run before keying
    a 100 TB shuffle on a column, because one bucket holding most of
    row_share IS the hot-key warning that routes the job to
    `salted_join`/AQE skew-split (operators/skew.py). The bucket is
    length(bin(count)) = floor(log2)+1 computed on the INTEGER's binary
    string — no libm log2 whose ULP at power-of-two boundaries could
    flip a floor between engines. row_share is a single division of
    exact counts, UNROUNDED. One keyed count + a histogram over ≤64
    buckets."""
    ev = _t(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("_c"))
    bucketed = per_key.select(
        F.length(F.bin(F.col("_c"))).cast("long").alias("bucket"), "_c"
    )
    w = Window.partitionBy()
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("_c").alias("n_rows"),
        )
        .select(
            "bucket",
            "n_keys",
            "n_rows",
            (
                F.col("n_rows").cast("double")
                / F.sum("n_rows").over(w).cast("double")
            ).alias("row_share"),
        )
    )


SQL_KEY_SKEW_PROFILE = """
WITH per_key AS (
  SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1
), bucketed AS (
  SELECT CAST(length(bin(c)) AS BIGINT) AS bucket, c FROM per_key
), hist AS (
  SELECT bucket, COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows
  FROM bucketed GROUP BY 1
)
SELECT bucket, n_keys, n_rows,
       CAST(n_rows AS DOUBLE) / CAST(SUM(n_rows) OVER () AS DOUBLE) AS row_share
FROM hist
"""


def q_compression_ratio_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality gate over the corpus
    (operators/quality.py:compression_ratio): deflate-bytes / raw-bytes
    per doc plus the keep decision (repetitive boilerplate compresses
    far below prose — the cheap cousin of the bigram-perplexity gate).
    No SQL engine exposes DEFLATE, so the driver oracle is a
    golden-fixture pin (`_pinned_oracle`; zlib level fixed at 6 makes
    the result a pure function of the corpus), backed by
    driver-vs-executor byte-equality and monotonicity tests
    (test_operators.py)."""
    from shuttlestandalonedbcreator_spark.operators.quality import compression_ratio

    docs = _t(spark, sf_dir, "documents")
    scored = compression_ratio(docs, "doc_id", "text")
    return scored.select(
        "doc_id",
        "n_bytes",
        "comp_bytes",
        "ratio",
        (F.col("ratio") >= 0.3).alias("keep"),
    )


def q_active_users_28d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 28-day active users (the DAU/MAU stickiness metric): for
    every calendar day in the data, how many distinct users were active
    in the trailing 28 days, how many that exact day, and their ratio.
    The naive form is a per-day COUNT(DISTINCT) over a 28-day self-join
    of raw events — it re-scans the fact table per day. Scale shape
    instead: distinct (user, day) pairs first (the big shrink — events
    collapse to active-pairs), explode each pair over the 28 target
    days it covers (a bounded 28x blow-up of the SHRUNK set, never of
    raw events), re-distinct per (user, target_day) with an offset-0
    flag, then one count per day. All shuffles are keyed on
    (user, day) / (user, target_day) / day. stickiness is a single
    division of exact counts, shipped UNROUNDED (determinism rule)."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    cov = ud.select(
        "user_id",
        "day",
        F.explode(F.sequence(F.lit(0), F.lit(27))).alias("off"),
    ).select(
        "user_id",
        F.date_add(F.col("day"), F.col("off")).alias("target_day"),
        F.when(F.col("off") == 0, F.lit(1)).otherwise(F.lit(0)).alias("on_day"),
    )
    per_ut = cov.groupBy("user_id", "target_day").agg(
        F.max("on_day").alias("on_day")
    )
    days = ud.select("day").distinct()
    return (
        per_ut.join(days, per_ut.target_day == days.day)
        .groupBy("day")
        .agg(
            F.sum("on_day").alias("dau"),
            F.count(F.lit(1)).alias("active_28d"),
        )
        .select(
            "day",
            "dau",
            "active_28d",
            (
                F.col("dau").cast("double") / F.col("active_28d").cast("double")
            ).alias("stickiness"),
        )
    )


SQL_ACTIVE_USERS_28D = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), offs AS (
  SELECT unnest(range(0, 28)) AS off
), cov AS (
  SELECT ud.user_id,
         ud.day + CAST(offs.off AS INTEGER) AS target_day,
         CASE WHEN offs.off = 0 THEN 1 ELSE 0 END AS on_day
  FROM ud CROSS JOIN offs
), per_ut AS (
  SELECT user_id, target_day, MAX(on_day) AS on_day
  FROM cov GROUP BY 1, 2
), days AS (
  SELECT DISTINCT day FROM ud
)
SELECT days.day AS day,
       CAST(SUM(on_day) AS BIGINT) AS dau,
       COUNT(*) AS active_28d,
       CAST(SUM(on_day) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS stickiness
FROM per_ut JOIN days ON per_ut.target_day = days.day
GROUP BY 1
"""


def q_decayed_rolling_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed rolling activity per event type: for each
    (type, day), the sum of daily event counts over the trailing 30
    days with weight 2^-age_days — EWMA-family smoothing made
    CROSS-ENGINE EXACT by choosing a dyadic decay. Generic alpha^k
    needs pow(), whose libm ULP can differ between engines; 2^-k is an
    exact binary scale, so the weighted sum is accumulated as the
    INTEGER sum of cnt * 2^(29-age) (int64-safe while daily per-type
    counts stay below 2^33; at larger volume drop the pre-shift to 2^20)
    and divided once by 2^29 at the end — a power-of-two scaling of an
    integer, bit-identical everywhere. Plan shape: one keyed daily
    count, a bounded 30x explode of the DAILY table (days x types —
    tiny, never raw events), one keyed sum. The window-frame
    alternative (RANGE 29 PRECEDING) cannot express a
    current-row-dependent weight inside a single SUM, and carrying
    2^global_day_index overflows — the explode keeps exponents bounded
    by the window width."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    cov = daily.select(
        "event_type",
        "cnt",
        F.explode(F.sequence(F.lit(0), F.lit(29))).alias("age"),
        "day",
    ).select(
        "event_type",
        F.date_add(F.col("day"), F.col("age")).alias("target_day"),
        (
            F.col("cnt")
            * F.expr("shiftleft(CAST(1 AS BIGINT), CAST(29 - age AS INT))")
        ).alias("wcnt"),
    )
    days = daily.select(F.col("day").alias("target_day")).distinct()
    return (
        cov.join(days, "target_day")
        .groupBy("event_type", "target_day")
        .agg(F.sum("wcnt").alias("wsum"))
        .select(
            "event_type",
            F.col("target_day").alias("day"),
            (F.col("wsum").cast("double") / F.lit(float(1 << 29))).alias(
                "decayed_sum"
            ),
        )
    )


SQL_DECAYED_ROLLING_SUM = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), ages AS (
  SELECT unnest(range(0, 30)) AS age
), cov AS (
  SELECT daily.event_type,
         daily.day + CAST(ages.age AS INTEGER) AS target_day,
         daily.cnt * (CAST(1 AS BIGINT) << CAST(29 - ages.age AS INTEGER)) AS wcnt
  FROM daily CROSS JOIN ages
), days AS (
  SELECT DISTINCT day AS target_day FROM daily
)
SELECT cov.event_type,
       cov.target_day AS day,
       CAST(CAST(SUM(wcnt) AS BIGINT) AS DOUBLE) / 536870912.0 AS decayed_sum
FROM cov JOIN days USING (target_day)
GROUP BY 1, 2
"""


_SUBSTR_W, _SUBSTR_S = 40, 20


def q_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document EXACT duplicated-substring spans (the suffix-array
    dedup of Lee et al., "Deduplicating Training Data Makes Language
    Models Better", re-shaped for Spark): every maximal run of
    stride-aligned 40-char windows whose exact content occurs in >= 2
    distinct documents, reported as per-doc character ranges. A true
    suffix array is a global sorted structure — the distributed
    equivalent is window hashing: each doc emits len/stride tiny
    (doc_id, i, hash64) rows (64-bit md5 prefix, the repo-wide hash
    idiom), one groupBy finds windows with >= 2 distinct docs, a
    left-semi join keeps only duplicated windows, and a per-doc islands
    window (i - row_number) merges adjacent windows into maximal spans.
    Scale: the exploded window table is ~2 hashes per 40 chars of text
    — linear in corpus size with a small constant; both shuffles key on
    the 64-bit hash (uniform, skew-free); the corpus text itself is
    never shuffled. Stride 20 < window 40 means any duplicated run of
    >= 60 chars is guaranteed to contain an aligned window on both
    sides; smaller stride trades rows for recall."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.length("text") >= _SUBSTR_W
    )
    win = docs.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.expr(f"(length(text) - {_SUBSTR_W}) div {_SUBSTR_S}"),
            )
        ).alias("i"),
        "text",
    ).select(
        "doc_id",
        "i",
        F.conv(
            F.substring(
                F.md5(
                    F.expr(
                        f"substring(text, i * {_SUBSTR_S} + 1, {_SUBSTR_W})"
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("hh"),
    )
    dup = (
        win.groupBy("hh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("hh")
    )
    hits = win.join(dup, "hh", "left_semi").select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    return (
        hits.withColumn("grp", F.col("i") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(
            (F.min("i") * _SUBSTR_S + 1).alias("span_start"),
            (F.max("i") * _SUBSTR_S + _SUBSTR_W).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


SQL_EXACT_SUBSTRING_SPANS = f"""
WITH d AS (
  SELECT doc_id, text FROM documents WHERE length(text) >= {_SUBSTR_W}
), wi AS (
  SELECT doc_id, unnest(range(0, (length(text) - {_SUBSTR_W}) // {_SUBSTR_S} + 1)) AS i, text
  FROM d
), h AS (
  SELECT doc_id, i,
         CAST(('0x' || substr(md5(substring(text, CAST(i * {_SUBSTR_S} + 1 AS INTEGER), {_SUBSTR_W})), 1, 15)) AS BIGINT) AS hh
  FROM wi
), dup AS (
  SELECT hh FROM h GROUP BY hh HAVING COUNT(DISTINCT doc_id) >= 2
), hits AS (
  SELECT doc_id, i FROM h SEMI JOIN dup USING (hh)
), isl AS (
  SELECT doc_id, i,
         i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM hits
)
SELECT doc_id,
       MIN(i) * {_SUBSTR_S} + 1 AS span_start,
       MAX(i) * {_SUBSTR_S} + {_SUBSTR_W} AS span_end,
       COUNT(*) AS n_windows
FROM isl GROUP BY doc_id, grp
"""


_DSIR_B = 512


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al., "Data Selection for
    Language Models via Importance Resampling"): score every document
    by the hashed-n-gram importance log-weight
    sum_f count_f * (ln p_target(f) - ln p_raw(f)) and keep the top 25.
    Target distribution = the English slice (stand-in for a curated
    domain sample); features = unigrams hashed into 512 buckets
    (64-bit md5 prefix mod B); add-one smoothing on both numerators and
    +B on both denominators. Determinism: each smoothed term is
    floor(1e6 * ln(integer)) — a micro-nat floor of a single-integer
    ln, the repo's pmi_collocations/bm25 idiom — so the per-bucket
    weight and the per-doc count-weighted sum are exact int64 algebra.
    Scale: token explode is narrow; per-doc bucket counts shuffle once
    on (doc_id, bucket); the bucket model is B rows (tiny, joined back
    by bucket key); the 1-row totals cross join is the allowlisted
    scalar-aggregate shape. Top-k via row_number with doc_id tiebreak."""
    from shuttlestandalonedbcreator_spark.operators.util import fan_out

    # r10: fan_out — tokenize + per-token md5 ran on the single input
    # split (guide §2.2)
    docs = fan_out(_t(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(D.tokens(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10)
            .cast("long")
            % _DSIR_B
        ).alias("b"),
    )
    per_doc = toks.groupBy("doc_id", "lang", "b").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # r10: per_doc feeds the bucket model (→ totals) AND the scored join —
    # materialize once (guide §5.1)
    per_doc = per_doc.localCheckpoint(eager=True)
    bucket = per_doc.groupBy("b").agg(
        F.sum(
            F.when(F.col("lang") == "en", F.col("cnt")).otherwise(F.lit(0))
        ).alias("tgt_f"),
        F.sum("cnt").alias("raw_f"),
    )
    tot = bucket.agg(
        F.sum("tgt_f").alias("tgt_tot"), F.sum("raw_f").alias("raw_tot")
    )

    def micro_ln(c):
        return F.floor(F.lit(1000000.0) * F.log(c.cast("double")))

    bw = bucket.crossJoin(tot).select(
        "b",
        (
            micro_ln(F.col("tgt_f") + 1)
            + micro_ln(F.col("raw_tot") + _DSIR_B)
            - micro_ln(F.col("raw_f") + 1)
            - micro_ln(F.col("tgt_tot") + _DSIR_B)
        ).alias("w_micro"),
    )
    scored = (
        per_doc.join(bw, "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("w_micro")).alias("logw_micro"))
    )
    wk = Window.orderBy(F.col("logw_micro").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 25)
        .select("doc_id", "logw_micro", "rk")
    )


SQL_DSIR_IMPORTANCE = f"""
WITH toks AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
  FROM documents
), hb AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {_DSIR_B} AS b
  FROM toks
), per_doc AS (
  SELECT doc_id, lang, b, COUNT(*) AS cnt FROM hb GROUP BY 1, 2, 3
), bucket AS (
  SELECT b,
         SUM(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS tgt_f,
         SUM(cnt) AS raw_f
  FROM per_doc GROUP BY b
), tot AS (
  SELECT SUM(tgt_f) AS tgt_tot, SUM(raw_f) AS raw_tot FROM bucket
), bw AS (
  SELECT b,
         FLOOR(1000000.0 * LN(CAST(tgt_f + 1 AS DOUBLE)))
       + FLOOR(1000000.0 * LN(CAST(raw_tot + {_DSIR_B} AS DOUBLE)))
       - FLOOR(1000000.0 * LN(CAST(raw_f + 1 AS DOUBLE)))
       - FLOOR(1000000.0 * LN(CAST(tgt_tot + {_DSIR_B} AS DOUBLE))) AS w_micro
  FROM bucket CROSS JOIN tot
), scored AS (
  SELECT per_doc.doc_id, CAST(SUM(cnt * w_micro) AS BIGINT) AS logw_micro
  FROM per_doc JOIN bw USING (b) GROUP BY 1
)
SELECT doc_id, logw_micro, rk FROM (
  SELECT doc_id, logw_micro,
         ROW_NUMBER() OVER (ORDER BY logw_micro DESC, doc_id ASC) AS rk
  FROM scored
) WHERE rk <= 25
"""


_CLS_B = 256


def q_hashed_classifier_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear classifier inference over hashed token features (the
    fastText-style quality-filter deploy shape: hash tokens into B
    buckets, sum the bucket weights, threshold the logit). The weight
    table here is a deterministic Knuth-multiplicative expansion of the
    bucket id into [-1000, 1000] milli-units — a stand-in for trained
    weights that keeps the entire inference integer-exact (the sigmoid
    is monotone, so keep/drop is a sign test on the logit; no exp
    needed). Scale: this is the ideal 100 TB shape — a pure scan-side
    narrow pipeline (split, hash, weight, sum) with exactly one shuffle
    keyed on doc_id, no model join at all since the weight is a closed
    form of the bucket; with a real trained weight vector the map
    becomes a B-row literal map or bounded broadcast (kind=domain)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(D.tokens(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10)
            .cast("long")
            % _CLS_B
        ).alias("b"),
    )
    wexpr = (F.col("b") * F.lit(2654435761)) % F.lit(2001) - F.lit(1000)
    return (
        toks.groupBy("doc_id")
        .agg(
            F.sum(wexpr).alias("logit_milli"),
            F.count(F.lit(1)).alias("n_tok"),
        )
        .select(
            "doc_id",
            "logit_milli",
            "n_tok",
            (F.col("logit_milli") > 0).alias("keep"),
        )
    )


SQL_HASHED_CLASSIFIER_INFER = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
  FROM documents
), hb AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {_CLS_B} AS b
  FROM toks
)
SELECT doc_id,
       CAST(SUM((b * 2654435761) % 2001 - 1000) AS BIGINT) AS logit_milli,
       COUNT(*) AS n_tok,
       SUM((b * 2654435761) % 2001 - 1000) > 0 AS keep
FROM hb GROUP BY doc_id
"""


_MIX_BUDGET = 10000


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multi-source mixture allocation (the XLM-R /
    mT5 alpha=0.5 sampling rule: per-source sampling mass proportional
    to count^alpha, flattening the head so low-resource sources are
    upsampled): compute per-source doc counts, weight = floor(sqrt(n))
    — IEEE 754 sqrt is correctly rounded, so floor(sqrt(int)) is
    bit-identical across engines, making alpha=0.5 the one temperature
    that needs no float tolerance — then allocate a 10k-sample budget
    by largest remainder (the proration_allocate idiom: integer base
    shares, remainders ranked with a source tiebreak, Σalloc == budget
    exactly). Scale: one groupBy on source; everything after runs on
    the tiny per-source frame, scalar totals as unpartitioned windows
    over that frame (never a fact-side cross join)."""
    docs = _t(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    src = src.withColumn(
        "w", F.floor(F.sqrt(F.col("cnt").cast("double"))).cast("long")
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    src = (
        src.withColumn("w_tot", F.sum("w").over(wall))
        .withColumn("base", F.expr(f"({_MIX_BUDGET} * w) div w_tot"))
        .withColumn("rem", (F.lit(_MIX_BUDGET) * F.col("w")) % F.col("w_tot"))
    )
    src = src.withColumn("base_tot", F.sum("base").over(wall))
    wrk = Window.orderBy(F.col("rem").desc(), F.col("source").asc())
    return (
        src.withColumn("rk", F.row_number().over(wrk))
        .select(
            "source",
            "cnt",
            "w",
            (
                F.col("base")
                + F.when(
                    F.col("rk") <= F.lit(_MIX_BUDGET) - F.col("base_tot"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("alloc"),
        )
    )


SQL_TEMPERATURE_MIXTURE = f"""
WITH src AS (
  SELECT source, COUNT(*) AS cnt,
         CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w
  FROM documents GROUP BY source
), t AS (
  SELECT source, cnt, w, SUM(w) OVER () AS w_tot FROM src
), b AS (
  SELECT source, cnt, w,
         ({_MIX_BUDGET} * w) // w_tot AS base,
         ({_MIX_BUDGET} * w) % w_tot AS rem
  FROM t
), r AS (
  SELECT source, cnt, w, base, rem,
         SUM(base) OVER () AS base_tot,
         ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk
  FROM b
)
SELECT source, cnt, w,
       CAST(base + CASE WHEN rk <= {_MIX_BUDGET} - base_tot THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM r
"""


def q_datacard_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card: the per-(language, source) composition table
    every dataset release ships — document count, whitespace-token
    count, character count, and each cell's share of total documents in
    exact milli-percent (docs * 100000 div total — integer division,
    never a float ratio). One groupBy over the corpus; the share
    denominator is an unpartitioned window over the tiny cell frame.
    At 100 TB this is a single map-side-combinable aggregate pass."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(F.split(F.col("text"), "\\s+"), lambda x: x != F.lit(""))
    )
    cell = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(toks.cast("long")).alias("tokens"),
        F.sum(F.length("text").cast("long")).alias("chars"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        cell.withColumn("tot", F.sum("docs").over(wall))
        .withColumn("docs_share_m", F.expr("(docs * 100000) div tot"))
        .select("lang", "source", "docs", "tokens", "chars", "docs_share_m")
    )


SQL_DATACARD_REPORT = """
WITH cell AS (
  SELECT lang, source, COUNT(*) AS docs,
         SUM(length(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS tokens,
         SUM(length(text)) AS chars
  FROM documents GROUP BY 1, 2
)
SELECT lang, source, docs, CAST(tokens AS BIGINT) AS tokens,
       CAST(chars AS BIGINT) AS chars,
       CAST((docs * 100000) // SUM(docs) OVER () AS BIGINT) AS docs_share_m
FROM cell
"""


# Boilerplate paragraph injected into every document so the cross-doc
# paragraph dedup always has deterministic work to do (the corpus is
# single-line, so paragraphs are synthesized as fixed-width slices —
# same in-query-fixture pattern as intra_doc_line_dedup).
PARA_FOOTER = "subscribe to our newsletter for updates"


def q_paragraph_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style CROSS-document paragraph dedup with document rebuild:
    every paragraph occurrence except its globally-first (doc_id, pos)
    is dropped, then each document is re-assembled from its surviving
    paragraphs in original order. This is the pass that strips shared
    boilerplate (cookie banners, licence blocks) from a web corpus while
    keeping one canonical copy — one step finer than exact_dedup (whole
    docs) and cross-doc where intra_doc_line_dedup is within-doc.

    Plan: posexplode paragraphs -> groupBy(paragraph) min((doc,pos) key)
    -> join back on the SAME key (reuses the exchange) -> groupBy(doc)
    ordered re-concat. Two keyed shuffles total, no driver state; at
    100 TB the paragraph groupBy is the standard hash-partitioned
    aggregate and the rebuild is a doc-keyed aggregate — both scale
    linearly. Docs whose every paragraph lost the race rebuild to the
    empty string (md5('') fingerprint), preserved via the left join."""
    docs = _t(spark, sf_dir, "documents")
    paras_arr = F.filter(
        F.array(
            F.substring("text", 1, 80),
            F.lit(PARA_FOOTER),
            F.substring("text", 81, 80),
            F.substring("text", 161, 80),
        ),
        lambda x: x != F.lit(""),
    )
    p = docs.select("doc_id", F.posexplode(paras_arr).alias("pos", "par"))
    keyed = p.select(
        "doc_id",
        "pos",
        "par",
        (F.col("doc_id") * F.lit(16) + F.col("pos")).alias("k"),
    )
    first = keyed.groupBy("par").agg(F.min("k").alias("k0"))
    kept = keyed.join(first, "par").filter(F.col("k") == F.col("k0"))
    reb = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "par"))),
                    lambda s: s["par"],
                ),
            )
        ).alias("rebuilt_md5"),
    )
    base = docs.select(
        "doc_id", F.size(paras_arr).cast("long").alias("n_paras")
    )
    return base.join(reb, "doc_id", "left").select(
        "doc_id",
        "n_paras",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("rebuilt_md5", F.md5(F.lit(""))).alias("rebuilt_md5"),
    )


SQL_PARAGRAPH_DEDUP_REBUILD = f"""
WITH paras AS (
  SELECT doc_id,
         list_filter([substring(text, 1, 80), '{PARA_FOOTER}',
                      substring(text, 81, 80), substring(text, 161, 80)],
                     x -> x <> '') AS pa
  FROM documents
), e AS (
  SELECT doc_id, i - 1 AS pos, pa[i] AS par
  FROM paras, unnest(range(1, len(pa) + 1)) AS u(i)
), keyed AS (
  SELECT doc_id, pos, par, doc_id * 16 + pos AS k FROM e
), first AS (
  SELECT par, MIN(k) AS k0 FROM keyed GROUP BY par
), kept AS (
  SELECT keyed.doc_id, keyed.pos, keyed.par
  FROM keyed JOIN first USING (par) WHERE k = k0
), reb AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(par, chr(10) ORDER BY pos)) AS rebuilt_md5
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, b.n_paras,
       CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(rebuilt_md5, md5('')) AS rebuilt_md5
FROM (SELECT doc_id, CAST(len(pa) AS BIGINT) AS n_paras FROM paras) b
LEFT JOIN reb USING (doc_id)
"""

# Docs below this many distinct shingles are excluded from the prefix-
# filter join: tiny sets make Jaccard degenerate and their prefixes
# cover the whole set anyway.
PFJ_MIN_GRAMS = 5


def q_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard >= 0.6 similarity self-join via PREFIX FILTERING
    (``dedup.prefix_filter_pairs``, AllPairs/PPJoin) over word-trigram
    hash sets — the third exact near-dup strategy next to the full
    posting-list join (ngram_jaccard_dedup) and approximate MinHash-LSH.
    Oracle is the straight all-pairs join, so the pruning is PROVEN
    lossless at every SF, not assumed.

    Shingles are 64-bit xxhash64 keys computed straight from the token
    columns (word_ngram_hashes — no gram strings; the hash never reaches
    the output), distinct by construction, so the per-doc array is the
    kernel's set column as is. Docs below PFJ_MIN_GRAMS are dropped
    before the kernel — they can never appear in the output, and pruning
    them up front shrinks every downstream frame."""
    from shuttlestandalonedbcreator_spark.operators.util import fan_out

    # fan_out first (r10, guide §2.2): the single-split toy parquet would
    # otherwise run the whole shingle-hash pass on one core
    docs = fan_out(_t(spark, sf_dir, "documents"))
    sets = docs.select(
        "doc_id", D.word_ngram_hashes(F.col("text"), 3).alias("grams")
    ).filter(F.size("grams") >= PFJ_MIN_GRAMS)
    return D.prefix_filter_pairs(sets, "doc_id", "grams", Fraction(3, 5))


SQL_PREFIX_FILTER_JACCARD = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
           ELSE [] END) AS g
  FROM toks
), sz AS (
  SELECT doc_id, len(g) AS n FROM grams WHERE len(g) >= {PFJ_MIN_GRAMS}
), e AS (
  SELECT doc_id, unnest(g) AS tok FROM grams
), ee AS (
  SELECT e.doc_id, tok FROM e JOIN sz USING (doc_id)
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM ee a JOIN ee b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(c AS BIGINT) AS inter_cnt,
       CAST(na.n + nb.n - c AS BIGINT) AS union_cnt
FROM inter
JOIN sz na ON id_a = na.doc_id
JOIN sz nb ON id_b = nb.doc_id
WHERE 5 * c >= 3 * (na.n + nb.n - c)
"""


def q_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit for the MinHash near-dup path: for every
    LSH candidate pair, the signature-estimated Jaccard (matching
    components / 32) side-by-side with the EXACT shingle-set Jaccard,
    plus the absolute error — the measurement that justifies (or
    indicts) a chosen (num_hashes, bands) configuration before a 100 TB
    dedup run commits to it. All three metrics are integer milli-units
    (div floors), so the comparison is engine-exact.

    Plan: candidates and their agreement counts come from one
    (band, bucket)-keyed exchange into signature-carrying posting lists
    (dedup._lsh_agreements, the minhash_lsh_dedup pipeline with no
    threshold) — never a corpus self-join and no join back to the
    signatures; exact verification touches only candidate pairs. The
    oracle rebuilds the same md5-derived hash family in SQL (same
    pattern as minhash_lsh_dedup's oracle), so even the 32 permutations
    are value-checked, not trusted."""
    docs = _t(spark, sf_dir, "documents")
    sig = D.minhash_signature(docs, "doc_id", "text", n=3, num_hashes=32)
    est = D._lsh_agreements(sig, num_hashes=32, bands=8, threshold=0.0)
    # exact side (r10, guide §2.3/§4.1): per-doc shingle sets as
    # xxhash64 arrays computed in one narrow pass — the hash never
    # reaches the output (only |A∩B| does), so no md5, no explode +
    # distinct + collect_list re-aggregation, zero exchanges here
    sets = docs.select(
        "doc_id", D.word_ngram_hashes(F.col("text"), 3).alias("s")
    ).withColumn("n", F.size("s").cast("long"))
    sa = sets.select(
        F.col("doc_id").alias("id_a"),
        F.col("s").alias("sa"),
        F.col("n").alias("na"),
    )
    sb = sets.select(
        F.col("doc_id").alias("id_b"),
        F.col("s").alias("sb"),
        F.col("n").alias("nb"),
    )
    out = (
        est.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "inter_cnt",
            F.size(F.array_intersect("sa", "sb")).cast("long"),
        )
        .withColumn("est_milli", F.expr("(agree * 1000) div 32"))
        .withColumn(
            "exact_milli",
            F.expr("(inter_cnt * 1000) div (na + nb - inter_cnt)"),
        )
    )
    return out.select(
        "id_a",
        "id_b",
        "est_milli",
        "exact_milli",
        F.abs(F.col("est_milli") - F.col("exact_milli")).alias("err_milli"),
    )


SQL_MINHASH_ESTIMATE_AUDIT = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
           ELSE [] END) AS g
  FROM toks
), e AS (
  SELECT doc_id, unnest(g) AS tok FROM grams
), hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 1000000007 AS h1,
         CAST(('0x' || substr(md5(tok), 16, 15)) AS BIGINT) % 1000000007 AS h2
  FROM e
), mh AS (
  SELECT doc_id, seed, MIN((h1 + seed * h2) % 1000000007) AS v
  FROM hashed CROSS JOIN (SELECT unnest(range(0, 32)) AS seed)
  GROUP BY doc_id, seed
), sig AS (
  SELECT doc_id, list(v ORDER BY seed) AS s FROM mh GROUP BY doc_id
), bands AS (
  SELECT doc_id, b,
         md5(array_to_string(list_transform(s[b*4+1 : b*4+4], x -> CAST(x AS VARCHAR)), ',')) AS bucket
  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b)
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), est AS (
  SELECT id_a, id_b,
         len(list_filter(range(1, 33), i -> sa.s[i] = sb.s[i])) AS matches
  FROM pairs JOIN sig sa ON id_a = sa.doc_id JOIN sig sb ON id_b = sb.doc_id
), ex AS (
  SELECT id_a, id_b, matches,
         len(list_intersect(ga.g, gb.g)) AS inter_cnt,
         len(ga.g) AS na, len(gb.g) AS nb
  FROM est JOIN grams ga ON id_a = ga.doc_id JOIN grams gb ON id_b = gb.doc_id
)
SELECT id_a, id_b,
       CAST((matches * 1000) // 32 AS BIGINT) AS est_milli,
       CAST((inter_cnt * 1000) // (na + nb - inter_cnt) AS BIGINT) AS exact_milli,
       CAST(abs((matches * 1000) // 32 - (inter_cnt * 1000) // (na + nb - inter_cnt)) AS BIGINT) AS err_milli
FROM ex
"""


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus partitioning: per-language
    perplexity TERCILES under the self-trained add-one bigram model
    (same model as bigram_perplexity) — the selection step that routes
    low-perplexity ("head") text into training and flags the "tail" for
    filtering or re-weighting. Per-language NTILE needs a TOTAL order:
    the sort key is (avg-nll ratio, doc_id), and the ratio is a SINGLE
    division of two exact int64 sums, so its double value is
    bit-identical across engines (NOTES determinism rule — no rounding).

    Plan: the model build is two keyed grouped counts over the bigram
    stream; the per-doc score re-joins the counts; the tercile window
    shuffles once on lang. Docs with <2 tokens have no bigrams and drop
    out, as in bigram_perplexity."""
    from shuttlestandalonedbcreator_spark.operators.util import fan_out

    # r10: fan_out the single-split tokenizer pass (guide §2.2); the lang
    # join below reads its own pruned scan and needs no fan_out
    docs_raw = _t(spark, sf_dir, "documents")
    docs = fan_out(docs_raw)
    enriched = _bigram_nll(docs).join(docs_raw.select("doc_id", "lang"), "doc_id")
    ratio = F.col("_s").cast("double") / F.col("n_bigrams").cast("double")
    wb = Window.partitionBy("lang").orderBy(ratio.asc(), F.col("doc_id").asc())
    return enriched.withColumn("nt", F.ntile(3).over(wb)).select(
        "doc_id",
        "lang",
        "n_bigrams",
        (ratio / F.lit(1e6)).alias("avg_nll"),
        F.when(F.col("nt") == 1, F.lit("head"))
        .when(F.col("nt") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


SQL_PERPLEXITY_BUCKETS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), bg AS (
  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
  FROM toks, unnest(range(1, len(w))) AS u(i)
  WHERE len(w) >= 2
), tf AS (
  SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3
), cnt_bg AS (
  SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c_bg FROM tf GROUP BY 1, 2
), cnt_w1 AS (
  SELECT w1, CAST(SUM(c_bg) AS BIGINT) AS c_w1 FROM cnt_bg GROUP BY 1
), v AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS V FROM cnt_w1
), scored AS (
  SELECT tf.doc_id, tf.tf,
         CAST(round(ln(CAST(c_w1 + V AS DOUBLE) / CAST(c_bg + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS nll
  FROM tf JOIN cnt_bg USING (w1, w2) JOIN cnt_w1 USING (w1) CROSS JOIN v
), per_doc AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
         CAST(SUM(tf * nll) AS BIGINT) AS s
  FROM scored GROUP BY doc_id
), enriched AS (
  SELECT p.doc_id, d.lang, p.n_bigrams,
         CAST(s AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS r
  FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
), ranked AS (
  SELECT doc_id, lang, n_bigrams, r,
         NTILE(3) OVER (PARTITION BY lang ORDER BY r ASC, doc_id ASC) AS nt
  FROM enriched
)
SELECT doc_id, lang, n_bigrams, r / 1000000.0 AS avg_nll,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM ranked
"""


def q_html_strip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET-style text extraction from raw HTML: drop script blocks, strip
    tags, unescape the core entities, collapse whitespace — the first
    transform every web-crawl pipeline runs before any quality or dedup
    pass. The corpus is plain text, so the HTML wrapper is synthesized
    deterministically in-query (same fixture pattern as pii_scrub) and
    the extraction must recover the payload exactly.

    Regexes stay inside the Java-regex ∩ RE2 common subset ('<[^>]*>',
    '\\\\s+' — no backrefs, no lookaround) so Spark and DuckDB agree
    byte-for-byte; entity unescape is ordered &lt;/&gt; BEFORE &amp; so
    double-escaped input cannot over-unescape. Zero shuffle: pure
    per-row narrow work, whole-stage-codegen friendly at any scale."""
    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>doc</title></head><body><h1>"),
        F.substring("text", 1, 20),
        F.lit('</h1><p class="x">'),
        F.col("text"),
        F.lit(
            " &amp; more &lt;tags&gt;</p>"
            "<script>var x = 1;</script></body></html>"
        ),
    )
    no_script = F.regexp_replace(html, "<script>[^<]*</script>", " ")
    no_tags = F.regexp_replace(no_script, "<[^>]*>", " ")
    unescaped = F.replace(
        F.replace(
            F.replace(no_tags, F.lit("&lt;"), F.lit("<")),
            F.lit("&gt;"),
            F.lit(">"),
        ),
        F.lit("&amp;"),
        F.lit("&"),
    )
    clean = F.trim(F.regexp_replace(unescaped, "\\s+", " "))
    return docs.select(
        "doc_id",
        F.length(clean).cast("long").alias("n_chars"),
        F.md5(clean).alias("extracted_md5"),
    )


SQL_HTML_STRIP_EXTRACT = """
WITH built AS (
  SELECT doc_id,
         '<html><head><title>doc</title></head><body><h1>' || substring(text, 1, 20)
         || '</h1><p class="x">' || text
         || ' &amp; more &lt;tags&gt;</p><script>var x = 1;</script></body></html>' AS html
  FROM documents
), stripped AS (
  SELECT doc_id,
         trim(regexp_replace(
           replace(replace(replace(
             regexp_replace(
               regexp_replace(html, '<script>[^<]*</script>', ' ', 'g'),
               '<[^>]*>', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
           '\\s+', ' ', 'g')) AS clean
  FROM built
)
SELECT doc_id, CAST(length(clean) AS BIGINT) AS n_chars,
       md5(clean) AS extracted_md5
FROM stripped
"""


PI_DIM = 64
PI_ITERS = 3


def _quantize_milli(vec_col) -> object:
    """Embedding components → integer milli-units. floor of an EXACT
    double (float32 × 1000 products carry ≤31 significand bits), so
    there is no rounding-mode hazard on any engine."""
    return F.transform(
        vec_col,
        lambda x: F.floor(x.cast("double") * F.lit(1000)).cast("long"),
    )


def _power_iteration_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared power-iteration core: returns the 1-row frame holding the
    top principal direction as a ±1000-normalized int64 array after
    PI_ITERS rounds (consumed by power_iteration_topvec and
    abtt_residual). Each round's 1-row v broadcasts (one_row) and is
    eagerly checkpointed so round N+1's lineage doesn't replay round N."""
    emb = _t(spark, sf_dir, "embeddings")
    xq = emb.select(_quantize_milli("embedding").alias("xq"))
    v = spark.range(1).select(
        F.array(*[F.lit(1000).cast("long") for _ in range(PI_DIM)]).alias("v")
    )
    for _ in range(PI_ITERS):
        rows = xq.crossJoin(bounded_broadcast(v, "one_row"))
        dotted = rows.select(
            "xq",
            F.aggregate(
                F.zip_with("xq", "v", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, t: acc + t,
            ).alias("dot"),
        )
        # r10: y as a posexplode + 64-group aggregate instead of a 64-
        # column-wide agg — the wide form's expression tree dominated the
        # entry (codegen + eval: 3.3 s vs 1.05 s steady-state, first run
        # 9.2 s vs 2.4 s; results bit-equal). The exchange this adds is
        # 64 partial rows per map task — nothing at any scale (guide
        # §1.2 per-task work, §2.3 map-side partial aggregation).
        y = (
            dotted.select("dot", F.posexplode("xq").alias("j", "x"))
            .groupBy("j")
            .agg(F.sum(F.col("x") * F.col("dot")).alias("y"))
        )
        # renormalize on the reassembled 64-element array; m (the max
        # |y|, floored at 1 so a degenerate all-zero corpus renormalizes
        # to the zero vector instead of an ANSI divide-by-zero) is
        # let-bound so the HOF body does not re-fold it per element
        v = (
            y.agg(F.array_sort(F.collect_list(F.struct("j", "y"))).alias("ys"))
            .select(F.transform("ys", lambda s: s["y"]).alias("ya"))
            .select(
                T.let(
                    F.greatest(
                        F.array_max(F.transform("ya", lambda y: F.abs(y))),
                        F.lit(1).cast("long"),
                    ),
                    lambda m: F.transform(
                        "ya",
                        lambda y: (
                            F.call_function("div", (y + m) * 1000, m) - 1000
                        ).cast("bigint"),
                    ),
                ).alias("v")
            )
        )
        v = v.localCheckpoint(eager=True)
    return v


def q_power_iteration_topvec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by DISTRIBUTED
    POWER ITERATION — the building block behind PCA whitening, ABTT
    ("all-but-the-top") embedding post-processing, and spectral outlier
    screens, done without ever materializing the d×d covariance: each
    round is v' ∝ Xᵀ(Xv), two narrow passes over the corpus.

    Engine-exact iteration math: components quantize once to integer
    milli-units via floor (floor of an EXACT float32×1000 double product
    — no rounding-mode hazard), per-row dots and the 64 per-dimension
    sums are pure int64, and the renormalization to ±1000 is the
    portable floor-division ((y+m)*1000 div m − 1000), identical to
    DuckDB's floor `//` even for negative components. Three fixed
    rounds; the 1-row v frame broadcasts (one_row) and is eagerly
    checkpointed per round so iteration N+1's lineage doesn't replay
    iteration N. int64 headroom: |y_j| ≤ N·64·578·1000 — safe beyond
    1e8 rows; shard-and-merge partial sums extend it arbitrarily.
    Scale: 3 corpus scans total, no shuffle wider than a 64-cell
    aggregate. Oracle: the same three rounds unrolled as SQL CTEs."""
    v = _power_iteration_v(spark, sf_dir)
    return v.select(F.posexplode("v").alias("dim", "v_milli")).select(
        F.col("dim").cast("long").alias("dim"), "v_milli"
    )


def _sql_power_iteration() -> str:
    """Unrolled 3-round power-iteration oracle (same integer math)."""
    it = """
d{r} AS (
  SELECT xq, list_aggregate(list_transform(range(1, {dim} + 1),
           j -> xq[j] * v[j]), 'sum') AS dot
  FROM xq CROSS JOIN v{p}
), y{r} AS (
  SELECT j, CAST(SUM(dot * xq[j]) AS BIGINT) AS yv
  FROM d{r}, unnest(range(1, {dim} + 1)) AS u(j)
  GROUP BY j
), m{r} AS (
  SELECT GREATEST(MAX(abs(yv)), 1) AS m FROM y{r}
), v{r} AS (
  SELECT list(CAST(((yv + m) * 1000) // m - 1000 AS BIGINT) ORDER BY j) AS v
  FROM y{r} CROSS JOIN m{r}
)"""
    rounds = ",".join(
        it.format(r=r, p=r - 1, dim=PI_DIM) for r in range(1, PI_ITERS + 1)
    )
    return f"""
WITH xq AS (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS xq
  FROM embeddings
), v0 AS (
  SELECT list_transform(range(1, {PI_DIM} + 1), j -> CAST(1000 AS BIGINT)) AS v
),{rounds}
SELECT CAST(j - 1 AS BIGINT) AS dim, v[j] AS v_milli
FROM v{PI_ITERS}, unnest(range(1, {PI_DIM} + 1)) AS u(j)
"""


SQL_POWER_ITERATION_TOPVEC = _sql_power_iteration()

KCORE_K = 2
KCORE_ROUNDS = 4


def q_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peel of the co-purchase graph (same edges as
    graph_degree_distribution / pagerank_fixed): four synchronous rounds
    of "drop nodes with degree < k, recompute" — the spam/quality screen
    that isolates the densely-connected core of a link or similarity
    graph, and the Pregel-style distributed k-core algorithm verbatim.
    FIXED rounds, not to-fixpoint: each round costs one degree aggregate
    plus two semi-joins, so the 100 TB cost is R × (agg + semi-join) by
    construction; at sf0.001/0.01 four rounds already reach the true
    2-core fixpoint (measured), while unbounded peeling is the
    documented production loop. Surviving edges are eagerly
    checkpointed per round — each round is referenced by the degree
    pass AND the filter, and round N+1 builds on round N, so without
    the checkpoint the join lineage re-evaluates ~3× per level
    (measured as a 60 GB oracle spill before materialization).
    Returns each surviving node with its induced-core degree."""
    li = _t(spark, sf_dir, "lineitem")
    # r10: basket-array pair expansion replaces the items self-join
    # (3 exchanges + 2 sorts → 1 exchange; guide §2.4, same bound)
    edges = (
        _basket_pairs(_basket_items(li))
        .filter(F.col("c12") >= 2)
        .select("p1", "p2")
    )
    edges = edges.localCheckpoint(eager=True)

    # r10 (guide §2.4): endpoint degree via ONE explode pass instead of
    # union-of-two-selects — the union scanned the (checkpointed) edge
    # frame twice per round; interleaved A/B min 2.90 → 2.21 s
    def _degree(e: DataFrame, out: str) -> DataFrame:
        return (
            e.select(F.explode(F.array("p1", "p2")).alias("v"))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias(out))
        )

    for _ in range(KCORE_ROUNDS):
        keep = _degree(edges, "d").filter(F.col("d") >= KCORE_K).select("v")
        edges = edges.join(
            keep.withColumnRenamed("v", "p1"), "p1", "left_semi"
        ).join(keep.withColumnRenamed("v", "p2"), "p2", "left_semi")
        edges = edges.localCheckpoint(eager=True)
    return _degree(edges, "core_degree").select("v", "core_degree")


def _sql_kcore() -> str:
    """Unrolled fixed-round peel; MATERIALIZED CTEs are required — each
    round is referenced three times and DuckDB re-evaluates plain CTEs
    per reference (exponential blowup without it)."""
    rounds = []
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        rounds.append(f"""
d{r} AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT p1 AS v FROM {prev} UNION ALL SELECT p2 AS v FROM {prev}
  ) GROUP BY v
), k{r} AS (
  SELECT v FROM d{r} WHERE d >= {KCORE_K}
), e{r} AS MATERIALIZED (
  SELECT p1, p2 FROM {prev}
  WHERE p1 IN (SELECT v FROM k{r}) AND p2 IN (SELECT v FROM k{r})
)""")
        prev = f"e{r}"
    return f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e0 AS MATERIALIZED (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),{",".join(rounds)}
SELECT v, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
  SELECT p1 AS v FROM {prev} UNION ALL SELECT p2 AS v FROM {prev}
) GROUP BY v
"""


SQL_KCORE_DECOMPOSITION = _sql_kcore()


def q_abtt_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-But-The-Top (Mu & Viswanath, ICLR'18) embedding
    post-processing: remove each vector's projection onto the corpus's
    top principal direction — the standard fix for the "common
    direction" artifact that inflates all pairwise cosines before
    similarity search or clustering. Consumes _power_iteration_v's
    direction and stays ENTIRELY in int64: with S = |v|² and d = x·v,
    the residual is emitted as r_j·S = x_j·S − d·v_j (projecting out
    without dividing), fingerprinted via md5 so the oracle — the same
    unrolled power-iteration CTEs plus identical residual algebra —
    value-checks every component. |x_j·S − d·v_j| ≤ 7.4e10: int64-safe
    at any corpus size (per-row algebra, independent of N).

    Scale: one broadcast of the 1-row direction + one narrow pass —
    the corpus never shuffles."""
    emb = _t(spark, sf_dir, "embeddings")
    v = _power_iteration_v(spark, sf_dir)
    xq = emb.select("vec_id", _quantize_milli("embedding").alias("xq"))
    rows = xq.crossJoin(bounded_broadcast(v, "one_row"))
    scored = rows.select(
        "vec_id",
        "xq",
        "v",
        F.aggregate(
            F.zip_with("xq", "v", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        ).alias("d"),
        F.aggregate(
            F.transform("v", lambda b: b * b),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        ).alias("s"),
    )
    resid = scored.select(
        "vec_id",
        F.col("d").alias("proj_int"),
        F.zip_with(
            "xq", "v", lambda x, b: x * F.col("s") - F.col("d") * b
        ).alias("r"),
    )
    return resid.select(
        "vec_id",
        "proj_int",
        F.md5(
            F.concat_ws(",", F.transform("r", lambda t: t.cast("string")))
        ).alias("residual_md5"),
    )


SQL_ABTT_RESIDUAL = (
    _sql_power_iteration().rsplit("SELECT CAST(j - 1", 1)[0]
    + f""", xe AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS xq
  FROM embeddings
), sc AS (
  SELECT vec_id, xq, v,
         list_aggregate(list_transform(range(1, {PI_DIM} + 1),
           j -> xq[j] * v[j]), 'sum') AS d,
         list_aggregate(list_transform(v, b -> b * b), 'sum') AS s
  FROM xe CROSS JOIN v{PI_ITERS}
)
SELECT vec_id, CAST(d AS BIGINT) AS proj_int,
       md5(array_to_string(list_transform(range(1, {PI_DIM} + 1),
         j -> CAST(xq[j] * s - d * v[j] AS VARCHAR)), ',')) AS residual_md5
FROM sc
"""
)


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility data card: per language, tokens-per-word and
    chars-per-token — the metric that decides whether a tokenizer
    under-serves a language (high fertility = more tokens per word =
    more compute per sentence). Subword counts use a fixed-width proxy
    (ceil(len/4) pieces per word) since the corpus's real BPE lives in
    bpe_train_merges; the REPORT structure (per-lang fertility table,
    exact integer token/word/char sums, unrounded single-division
    ratios) is the production shape. One narrow tokenize pass (the
    token array is let-bound once — HOF CSE rule) + one 5-group
    aggregate: zero risk at any scale."""
    docs = _t(spark, sf_dir, "documents")
    stats = T.let(
        D.tokens(F.col("text")),
        lambda t: F.struct(
            F.size(t).cast("long").alias("nw"),
            F.aggregate(
                t,
                F.lit(0).cast("long"),
                lambda acc, w: acc
                + F.floor((F.length(w) + F.lit(3)) / F.lit(4)).cast("long"),
            ).alias("nt"),
        ),
    )
    per_doc = docs.select(
        "lang",
        stats.alias("st"),
        F.length("text").cast("long").alias("nc"),
    ).select(
        "lang", F.col("st.nw").alias("nw"), F.col("st.nt").alias("nt"), "nc"
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("nw").alias("words"),
        F.sum("nt").alias("subtokens"),
        F.sum("nc").alias("chars"),
    )
    return agg.select(
        "lang",
        "docs",
        "words",
        "subtokens",
        "chars",
        (
            F.col("subtokens").cast("double") / F.col("words").cast("double")
        ).alias("fertility"),
        (
            F.col("chars").cast("double") / F.col("subtokens").cast("double")
        ).alias("chars_per_token"),
    )


SQL_TOKENIZER_FERTILITY = """
WITH toks AS (
  SELECT doc_id, lang, length(text) AS nc,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), per_doc AS (
  SELECT lang, nc, len(w) AS nw,
         list_aggregate(list_transform(w, x -> (length(x) + 3) // 4), 'sum') AS nt
  FROM toks
), agg AS (
  SELECT lang, COUNT(*) AS docs,
         CAST(SUM(nw) AS BIGINT) AS words,
         CAST(SUM(COALESCE(nt, 0)) AS BIGINT) AS subtokens,
         CAST(SUM(nc) AS BIGINT) AS chars
  FROM per_doc GROUP BY lang
)
SELECT lang, docs, words, subtokens, chars,
       CAST(subtokens AS DOUBLE) / CAST(words AS DOUBLE) AS fertility,
       CAST(chars AS DOUBLE) / CAST(subtokens AS DOUBLE) AS chars_per_token
FROM agg
"""


def q_wilson_lower_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval per event type — ranking success rates
    under uncertainty (the correct replacement for raw p̂ when group
    sizes differ; small-n groups get honest wide intervals instead of
    winning ties). Success = value > 60. Both bounds are built from the
    SAME exact-integer (s, n) pair through an identical IEEE expression
    tree on both engines; the multi-op sqrt chain ships round(·,6) per
    the determinism rule (rounding absorbs ulp drift on multi-op
    chains; only single divisions ship unrounded). One grouped
    aggregate — nothing else."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") > 60, 1).otherwise(0)).alias("s"),
    )
    z2 = F.lit(3.8416)
    n = F.col("n").cast("double")
    p = F.col("s").cast("double") / n
    denom = F.lit(1.0) + z2 / n
    center = p + z2 / (F.lit(2.0) * n)
    rad = F.lit(1.96) * F.sqrt(
        p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n)
    )
    return agg.select(
        "event_type",
        "n",
        "s",
        F.round((center - rad) / denom, 6).alias("wilson_lb"),
        F.round((center + rad) / denom, 6).alias("wilson_ub"),
    )


SQL_WILSON_LOWER_BOUND = """
WITH agg AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CASE WHEN value > 60 THEN 1 ELSE 0 END) AS s
  FROM events GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
       round((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 3.8416 / (2.0 * CAST(n AS DOUBLE))
         - 1.96 * sqrt(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                       + 3.8416 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
         / (1.0 + 3.8416 / CAST(n AS DOUBLE)), 6) AS wilson_lb,
       round((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 3.8416 / (2.0 * CAST(n AS DOUBLE))
         + 1.96 * sqrt(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                       + 3.8416 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
         / (1.0 + 3.8416 / CAST(n AS DOUBLE)), 6) AS wilson_ub
FROM agg
"""


def q_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup pair counts bucketed by
    the unordered (source, source) pair — the report that tells a corpus
    curator WHERE duplication comes from (a hot diagonal cell means one
    feed re-crawls itself; a hot off-diagonal cell means two feeds
    overlap and one can be dropped). Pairs are the exact 3-gram Jaccard
    ≥ 0.5 edges (ngram_jaccard_pairs — inverted index, one shuffle);
    source decoration is two doc-keyed joins; least/greatest
    canonicalizes the cell so A×B and B×A land together."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    ).select("id_a", "id_b")
    src = docs.select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("src_a")
    )
    sb = src.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("src_b")
    )
    lab = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("src_a", "src_b").alias("src_lo"),
            F.greatest("src_a", "src_b").alias("src_hi"),
        )
    )
    return lab.groupBy("src_lo", "src_hi").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


SQL_CROSS_SOURCE_DUP_MATRIX = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
           ELSE [] END) AS g
  FROM toks
), e AS (
  SELECT doc_id, unnest(g) AS tok FROM grams
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (
  SELECT doc_id, len(g) AS s FROM grams
), pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
  WHERE c * 1.0 / (sa.s + sb.s - c) >= 0.5
)
SELECT least(da.source, db.source) AS src_lo,
       greatest(da.source, db.source) AS src_hi,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs
JOIN documents da ON id_a = da.doc_id
JOIN documents db ON id_b = db.doc_id
GROUP BY 1, 2
"""

# Feature-hashing bucket count (HashingTF's numFeatures, kept small so
# the dense fingerprint is cheap to reassemble and the oracle exact).
HTF_B = 64


def q_hashing_tf_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (HashingTF): each document becomes a fixed-width
    dense count vector over 64 hash buckets — the no-vocabulary
    vectorizer that feeds linear classifiers and clustering without a
    dictionary build or a model join (the hashing trick; same shape as
    Spark MLlib's HashingTF, rebuilt relationally so it is oracle-
    checkable). Sparse (doc, bucket, count) aggregates first (one keyed
    shuffle); the dense vector reassembles per doc from a map literal
    via try_element_at (ANSI-safe for absent keys) and ships as an md5
    fingerprint plus nnz/L1 so every component is value-checked.
    Token-less docs keep an all-zero fingerprint through the left join.
    Scale: O(tokens) explode + two keyed aggregates — no vocabulary
    state, the whole point of the hashing trick."""
    docs = _t(spark, sf_dir, "documents")
    from shuttlestandalonedbcreator_spark.operators.util import fan_out

    # r10: fan_out — tokenize + per-token md5 ran on the single input
    # split (guide §2.2); the zero-vector left-join base below is a cheap
    # separate scan
    toks = fan_out(docs).select(
        "doc_id",
        F.explode(D.tokens(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
            % HTF_B
        ).alias("b"),
    )
    sparse = toks.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("cnt"))
    dense = sparse.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("b", "cnt"))).alias("m"),
        F.sum("cnt").alias("l1"),
        F.count(F.lit(1)).alias("nnz"),
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(HTF_B - 1)),
        lambda j: F.coalesce(
            F.try_element_at("m", j.cast("long")), F.lit(0).cast("long")
        ),
    )
    out = dense.select(
        "doc_id",
        "nnz",
        "l1",
        F.md5(
            F.concat_ws(",", F.transform(vec, lambda t: t.cast("string")))
        ).alias("vec_md5"),
    )
    base = docs.select("doc_id")
    zero_md5 = F.md5(F.lit(",".join(["0"] * HTF_B)))
    return base.join(out, "doc_id", "left").select(
        "doc_id",
        F.coalesce("nnz", F.lit(0)).cast("long").alias("nnz"),
        F.coalesce("l1", F.lit(0)).cast("long").alias("l1"),
        F.coalesce("vec_md5", zero_md5).alias("vec_md5"),
    )


SQL_HASHING_TF_VECTORIZE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
  FROM documents
), hb AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % {HTF_B} AS b
  FROM toks
), sparse AS (
  SELECT doc_id, b, COUNT(*) AS cnt FROM hb GROUP BY 1, 2
), dense AS (
  SELECT doc_id,
         map_from_entries(list(struct_pack(k := b, v := cnt))) AS m,
         CAST(SUM(cnt) AS BIGINT) AS l1,
         CAST(COUNT(*) AS BIGINT) AS nnz
  FROM sparse GROUP BY doc_id
), fp AS (
  SELECT doc_id, nnz, l1,
         md5(array_to_string(list_transform(range(0, {HTF_B}),
           j -> CAST(COALESCE(m[j][1], 0) AS VARCHAR)), ',')) AS vec_md5
  FROM dense
)
SELECT d.doc_id,
       CAST(COALESCE(nnz, 0) AS BIGINT) AS nnz,
       CAST(COALESCE(l1, 0) AS BIGINT) AS l1,
       COALESCE(vec_md5, md5('{",".join(["0"] * HTF_B)}')) AS vec_md5
FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
"""


def q_lsh_tuning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end detection audit of the MinHash-LSH configuration
    (32 perms × 8 bands) against GROUND TRUTH: one row with candidate
    count, true-pair count (exact shingle Jaccard ≥ 0.5), false
    positives (candidates that verify below threshold — wasted verify
    work) and false negatives (true pairs the bands never surface —
    silent recall loss). This is the number a 100 TB dedup run signs
    off on before committing to a (b, r) choice; minhash_estimate_audit
    measures the ESTIMATOR per pair, this measures the DETECTOR.

    Both sides are exact-integer set algebra; the full-outer join of
    truth vs candidates classifies every pair exactly once. The truth
    side is the shared inverted-index core (_ngram_pair_intersections:
    xxhash64 token-column shingles, sizes carried through the posting
    lists — r10, guide §2.3/§4.1; the old md5-string gram pipeline with
    its distinct + size-join exchanges is gone). The signature side
    re-shingles internally with the md5 family the oracle replays
    hash-for-hash (minhash_signature owns its own scan), keeping each
    pipeline linear."""
    docs = _t(spark, sf_dir, "documents")
    shared = D._ngram_pair_intersections(docs, "doc_id", "text", 3)
    true_pairs = shared.filter(
        F.lit(3) * F.col("_inter") >= F.col("_sza") + F.col("_szb")
    ).select("id_a", "id_b")
    sig = D.minhash_signature(docs, "doc_id", "text", n=3, num_hashes=32)
    banded = D._banded(sig, num_hashes=32, bands=8)
    cands = (
        banded.groupBy("_band", "_bucket")
        .agg(F.array_sort(F.collect_set("_id")).alias("ids"))
        .select(
            ordered_pairs(
                F.col("ids"), lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b"))
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    t = true_pairs.withColumn("is_true", F.lit(1))
    c = cands.withColumn("is_cand", F.lit(1))
    joined = t.join(c, ["id_a", "id_b"], "full_outer")
    return joined.agg(
        F.sum(F.coalesce("is_cand", F.lit(0))).alias("n_candidates"),
        F.sum(F.coalesce("is_true", F.lit(0))).alias("n_true"),
        F.sum(
            F.when(
                F.col("is_cand").isNotNull() & F.col("is_true").isNull(), 1
            ).otherwise(0)
        ).alias("n_false_pos"),
        F.sum(
            F.when(
                F.col("is_true").isNotNull() & F.col("is_cand").isNull(), 1
            ).otherwise(0)
        ).alias("n_false_neg"),
    )


SQL_LSH_TUNING_AUDIT = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
           ELSE [] END) AS g
  FROM toks
), e AS (
  SELECT doc_id, unnest(g) AS tok FROM grams
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (
  SELECT doc_id, len(g) AS s FROM grams
), true_pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
  WHERE 3 * c >= sa.s + sb.s
), hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 1000000007 AS h1,
         CAST(('0x' || substr(md5(tok), 16, 15)) AS BIGINT) % 1000000007 AS h2
  FROM e
), mh AS (
  SELECT doc_id, seed, MIN((h1 + seed * h2) % 1000000007) AS v
  FROM hashed CROSS JOIN (SELECT unnest(range(0, 32)) AS seed)
  GROUP BY doc_id, seed
), sig AS (
  SELECT doc_id, list(v ORDER BY seed) AS s FROM mh GROUP BY doc_id
), bands AS (
  SELECT doc_id, b,
         md5(array_to_string(list_transform(s[b*4+1 : b*4+4], x -> CAST(x AS VARCHAR)), ',')) AS bucket
  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b)
), cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), joined AS (
  SELECT COALESCE(t.id_a, c.id_a) AS id_a, COALESCE(t.id_b, c.id_b) AS id_b,
         t.id_a IS NOT NULL AS is_true, c.id_a IS NOT NULL AS is_cand
  FROM true_pairs t FULL OUTER JOIN cands c
    ON t.id_a = c.id_a AND t.id_b = c.id_b
)
SELECT CAST(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN is_cand AND NOT is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       CAST(SUM(CASE WHEN is_true AND NOT is_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
FROM joined
"""


def q_moment_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment column profile: mean/variance/skewness/kurtosis per
    return flag from the four raw power sums — the distribution-shape
    report that column_profile (counts + extrema) doesn't cover, and the
    standard single-pass formulation: Σx..Σx⁴ accumulate EXACTLY in
    int64 (l_quantity is integer-valued ≤ 50, so Σx⁴ ≤ 6.25e6·N — safe
    past 1e12 rows), then the central-moment polynomials run in double
    from those exact sums with an identical expression tree on both
    engines (each int sum < 2^53, so the int→double cast is exact and
    the multi-op chain ships round(6) per the determinism rule; the
    mean, a single division, ships unrounded). One grouped aggregate:
    map-side partials, 3-row result, nothing else at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    s3 = F.col("s3").cast("double")
    s4 = F.col("s4").cast("double")
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = (
        s3 / n
        - F.lit(3.0) * mean * (s2 / n)
        + F.lit(2.0) * mean * mean * mean
    )
    m4 = (
        s4 / n
        - F.lit(4.0) * mean * (s3 / n)
        + F.lit(6.0) * mean * mean * (s2 / n)
        - F.lit(3.0) * mean * mean * mean * mean
    )
    return agg.select(
        "l_returnflag",
        "n",
        mean.alias("mean_qty"),
        F.round(m2, 6).alias("variance"),
        F.round(m3 / F.sqrt(m2 * m2 * m2), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - F.lit(3.0), 6).alias("kurtosis"),
    )


SQL_MOMENT_PROFILE = """
WITH agg AS (
  SELECT l_returnflag, COUNT(*) AS n,
         SUM(CAST(l_quantity AS BIGINT)) AS s1,
         SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s2,
         SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s3,
         SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s4
  FROM lineitem GROUP BY l_returnflag
), d AS (
  SELECT l_returnflag, n,
         CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1,
         CAST(s2 AS DOUBLE) AS s2, CAST(s3 AS DOUBLE) AS s3,
         CAST(s4 AS DOUBLE) AS s4
  FROM agg
), m AS (
  SELECT l_returnflag, n, s1 / nd AS mean_qty,
         s2 / nd - (s1 / nd) * (s1 / nd) AS m2,
         s3 / nd - 3.0 * (s1 / nd) * (s2 / nd) + 2.0 * (s1 / nd) * (s1 / nd) * (s1 / nd) AS m3,
         s4 / nd - 4.0 * (s1 / nd) * (s3 / nd) + 6.0 * (s1 / nd) * (s1 / nd) * (s2 / nd)
               - 3.0 * (s1 / nd) * (s1 / nd) * (s1 / nd) * (s1 / nd) AS m4
  FROM d
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n, mean_qty,
       round(m2, 6) AS variance,
       round(m3 / sqrt(m2 * m2 * m2), 6) AS skewness,
       round(m4 / (m2 * m2) - 3.0, 6) AS kurtosis
FROM m
"""


def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the governance check one step past
    k-anonymity (k_anonymity_audit): a quasi-identifier group can be
    large yet still leak if its SENSITIVE attribute is homogeneous, so
    the gate is distinct-sensitive-values ≥ l per group. QI here is
    (priority, status), sensitive is the customer key, l = 5; reported
    per priority as group counts + the minimum diversity so the audit
    is informative at every corpus size (same report-not-offender-list
    design as the k-anonymity entry). Two stacked aggregates — the
    count_distinct rides its own group keys, no EXPAND mixing."""
    orders = _t(spark, sf_dir, "orders")
    groups = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("gs"),
        F.count_distinct("o_custkey").alias("nd"),
    )
    return groups.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("nd") < 5, 1).otherwise(0)).alias(
            "n_low_diversity"
        ),
        F.min("nd").alias("min_distinct_sensitive"),
        F.sum("gs").alias("n_rows"),
    )


SQL_L_DIVERSITY_AUDIT = """
WITH groups AS (
  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS gs,
         COUNT(DISTINCT o_custkey) AS nd
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority,
       COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN nd < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_diversity,
       CAST(MIN(nd) AS BIGINT) AS min_distinct_sensitive,
       CAST(SUM(gs) AS BIGINT) AS n_rows
FROM groups GROUP BY o_orderpriority
"""


def q_neardup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup pruning: within each duplicate cluster keep
    the LONGEST document (n_chars desc, id tiebreak) instead of
    neardup_prune's min-id representative — the production policy when
    near-dups are truncations/excerpts of a fuller original and "keep
    first" would keep the fragment. Same exact-Jaccard components
    (inverted index → connected_components, size-gated driver
    union-find); the keep decision is one row_number window over the
    component table, which holds only docs that HAVE a duplicate, so
    the corpus is never shuffled and the final anti-join scales with
    duplicate mass, not corpus size."""
    from shuttlestandalonedbcreator_spark.operators.graph import (
        connected_components,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    comps = connected_components(pairs.select("id_a", "id_b"), "id_a", "id_b")
    ranked = comps.join(
        docs.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("component").orderBy(
                F.col("n_chars").desc(), F.col("id").asc()
            )
        ),
    )
    pruned = ranked.filter(F.col("rk") > 1).select(F.col("id").alias("doc_id"))
    return docs.join(pruned, "doc_id", "left_anti").select(
        "doc_id", "source", "n_chars"
    )


SQL_NEARDUP_KEEP_LONGEST = """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
           ELSE [] END) AS g
  FROM toks
), e AS (
  SELECT doc_id, unnest(g) AS tok FROM grams
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (
  SELECT doc_id, len(g) AS s FROM grams
), pairs AS (
  SELECT id_a, id_b
  FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
  WHERE c * 1.0 / (sa.s + sb.s - c) >= 0.5
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM pairs
), reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
), comp AS (
  SELECT u AS id, MIN(r) AS component FROM reach GROUP BY u
), ranked AS (
  SELECT c.id, c.component,
         ROW_NUMBER() OVER (
           PARTITION BY c.component
           ORDER BY d.n_chars DESC, c.id ASC
         ) AS rk
  FROM comp c JOIN documents d ON c.id = d.doc_id
), pruned AS (
  SELECT id AS doc_id FROM ranked WHERE rk > 1
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d LEFT JOIN pruned p ON d.doc_id = p.doc_id
WHERE p.doc_id IS NULL
"""


# Target training-token budget for the epoch plan (a knob, not data).
EPOCH_BUDGET = 1_000_000


def q_epoch_mixing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch plan — the arithmetic every pretraining run does
    before launch: given each source's token INVENTORY and a
    sqrt-temperature target weight (same α=0.5 family as
    temperature_mixture, which allocates documents; this allocates
    TOKENS), how many passes over each source a fixed budget implies.
    epochs > 1000 milli means the source repeats (upsampled); << 1000
    means it is subsampled. All divisions are integer floor on int64 —
    exact on both engines. One grouped aggregate over the corpus + a
    window over the 20-row source table; the corpus scan is the only
    scale-bearing cost."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.size(D.tokens(F.col("text"))).cast("long")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(toks).alias("tokens"),
    )
    # a source with zero tokens contributes nothing to the plan (and
    # would divide by zero in epochs); drop it rather than fabricate
    src = src.filter(F.col("tokens") > 0)
    src = src.withColumn(
        "w", F.floor(F.sqrt(F.col("tokens").cast("double"))).cast("long")
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    src = src.withColumn("w_tot", F.sum("w").over(wall))
    return src.select(
        "source",
        "docs",
        "tokens",
        F.expr(f"({EPOCH_BUDGET} * w) div w_tot").alias("target_tokens"),
        F.expr(f"(({EPOCH_BUDGET} * w) div w_tot) * 1000 div tokens").alias(
            "epochs_milli"
        ),
    )


SQL_EPOCH_MIXING_PLAN = f"""
WITH src AS (
  SELECT source, COUNT(*) AS docs,
         CAST(SUM(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
), nz AS (
  SELECT * FROM src WHERE tokens > 0
), w AS (
  SELECT source, docs, tokens,
         CAST(FLOOR(SQRT(CAST(tokens AS DOUBLE))) AS BIGINT) AS w,
         CAST(SUM(CAST(FLOOR(SQRT(CAST(tokens AS DOUBLE))) AS BIGINT)) OVER () AS BIGINT) AS w_tot
  FROM nz
)
SELECT source, docs, tokens,
       ({EPOCH_BUDGET} * w) // w_tot AS target_tokens,
       (({EPOCH_BUDGET} * w) // w_tot) * 1000 // tokens AS epochs_milli
FROM w
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram novelty: the fraction of a doc's distinct 3-grams
    that appear FIRST in this doc (global first-occurrence by doc_id
    order) — the redundancy-growth curve behind "is more of this source
    still adding information?" decisions; a source whose marginal docs
    score near zero is saturated. Global identity: Σ n_novel = distinct
    grams in the corpus (each gram is novel exactly once).

    r10 restructure (guide §2.3/§2.4/§4.1): shingles are xxhash64
    arrays (word_ngram_hashes — internal keys only), so n_grams is
    size(_arr) in the narrow pass, and n_novel per doc is just the
    `first` table GROUPED BY first_doc — the old corpus-wide
    grams⋈first join (plus the explode+distinct exchange feeding it)
    collapses into one vocabulary-sized aggregate. Two map-side-partial
    aggregates total; the only corpus-wide shuffle keys on the gram
    hash. The novelty ratio is a single division of exact ints,
    shipped unrounded."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", D.word_ngram_hashes(F.col("text"), 3).alias("_arr")
    ).filter(F.size("_arr") >= 1)
    grams = base.select("doc_id", F.explode("_arr").alias("hh"))
    first = grams.groupBy("hh").agg(F.min("doc_id").alias("first_doc"))
    novel = first.groupBy("first_doc").agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    return (
        base.select("doc_id", F.size("_arr").cast("long").alias("n_grams"))
        .join(novel.withColumnRenamed("first_doc", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
            (
                F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                / F.col("n_grams").cast("double")
            ).alias("novelty"),
        )
    )


SQL_NGRAM_NOVELTY = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
           ELSE [] END)) AS g
  FROM toks
), h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS hh FROM grams
), first AS (
  SELECT hh, MIN(doc_id) AS first_doc FROM h GROUP BY hh
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_grams,
         SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS n_novel
  FROM h JOIN first USING (hh) GROUP BY doc_id
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_novel AS BIGINT) AS n_novel,
       CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE) AS novelty
FROM per_doc
"""


def q_revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR-style month-over-month revenue waterfall: each (customer,
    month) revenue cell is classified new (the customer's first-ever
    month), retained (also bought the immediately-previous month), or
    reactivated (bought before, but lapsed last month) and the month's
    revenue decomposes exactly across the three — the subscription-
    analytics staple, done in exact integer cents. Plan: one customer-
    month rollup, then lag+min windows over each customer's (tiny)
    month history — a single customer-keyed exchange — then the final
    month×kind aggregate. The month arithmetic is add_months on
    month-truncated dates, exact on both engines."""
    orders = _t(spark, sf_dir, "orders")
    cm = orders.select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").alias("m"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("cents"),
    )
    per = cm.groupBy("o_custkey", "m").agg(F.sum("cents").alias("rev"))
    w = Window.partitionBy("o_custkey").orderBy("m")
    lab = (
        per.withColumn("prev_m", F.lag("m").over(w))
        .withColumn(
            "first_m", F.min("m").over(Window.partitionBy("o_custkey"))
        )
        .withColumn(
            "kind",
            F.when(F.col("m") == F.col("first_m"), F.lit("new"))
            .when(
                F.col("prev_m") == F.add_months(F.col("m"), -1),
                F.lit("retained"),
            )
            .otherwise(F.lit("reactivated")),
        )
    )
    return lab.groupBy(
        F.date_format("m", "yyyy-MM").alias("month"), "kind"
    ).agg(
        F.sum("rev").alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_customers"),
    )


SQL_REVENUE_WATERFALL = """
WITH cm AS (
  SELECT o_custkey, date_trunc('month', o_orderdate) AS m,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), per AS (
  SELECT o_custkey, m, CAST(SUM(cents) AS BIGINT) AS rev
  FROM cm GROUP BY 1, 2
), lab AS (
  SELECT o_custkey, m, rev,
         LAG(m) OVER (PARTITION BY o_custkey ORDER BY m) AS prev_m,
         MIN(m) OVER (PARTITION BY o_custkey) AS first_m
  FROM per
), k AS (
  SELECT m, rev,
         CASE WHEN m = first_m THEN 'new'
              WHEN prev_m = m - INTERVAL 1 MONTH THEN 'retained'
              ELSE 'reactivated' END AS kind
  FROM lab
)
SELECT strftime(m, '%Y-%m') AS month, kind,
       CAST(SUM(rev) AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_customers
FROM k GROUP BY 1, 2
"""


def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity of languages within each source — the exact
    collision probability Σ nᵢ(nᵢ−1) / N(N−1) (probability two random
    docs from the source share a language) and its 1−D diversity
    complement. Complements lang_entropy_by_source: entropy weights the
    tail, Simpson weights the head — a source can have high entropy yet
    high collision if one language dominates. Pure integer algebra up
    to one final division (unrounded single division of exact ints).
    Two stacked tiny aggregates after the (source, lang) rollup."""
    docs = _t(spark, sf_dir, "documents")
    cell = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    agg = cell.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("coll"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    d = F.col("coll").cast("double") / (
        F.col("n").cast("double") * (F.col("n") - 1).cast("double")
    )
    return agg.select(
        "source",
        "n",
        "n_langs",
        d.alias("simpson_d"),
        (F.lit(1.0) - d).alias("diversity"),
    )


SQL_SIMPSON_DIVERSITY = """
WITH cell AS (
  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2
), agg AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS coll,
         COUNT(*) AS n_langs
  FROM cell GROUP BY source
)
SELECT source, n, n_langs,
       CAST(coll AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS simpson_d,
       1.0 - CAST(coll AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS diversity
FROM agg
"""


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean of order value per priority — the robust-mean
    report where outliers (fat fingers, test orders) shouldn't move the
    KPI. Trim is BY COUNT (floor(n/20) rows off each end of the exact
    cents ranking, deterministic o_orderkey tiebreak), so the kept set
    is integer-defined and the mean is a single division of exact int64
    — no percentile-interpolation float hazards. One grouped window
    (rank + count share the partition exchange) + one aggregate."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.expr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    )
    base = orders.select(
        "o_orderpriority", cents.alias("cents"), "o_orderkey"
    )
    wg = Window.partitionBy("o_orderpriority")
    ranked = base.withColumn(
        "rk",
        F.row_number().over(
            wg.orderBy(F.col("cents").asc(), F.col("o_orderkey").asc())
        ),
    ).withColumn("n", F.count(F.lit(1)).over(wg))
    kept = ranked.filter(
        (F.col("rk") > F.expr("n div 20"))
        & (F.col("rk") <= F.col("n") - F.expr("n div 20"))
    )
    agg = kept.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("cents").alias("s"),
    )
    return agg.select(
        "o_orderpriority",
        "n_kept",
        (F.col("s").cast("double") / F.col("n_kept").cast("double")).alias(
            "trimmed_mean_cents"
        ),
    )


SQL_TRIMMED_MEAN = """
WITH base AS (
  SELECT o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         o_orderkey
  FROM orders
), ranked AS (
  SELECT o_orderpriority, cents,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY cents ASC, o_orderkey ASC) AS rk,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM base
), kept AS (
  SELECT o_orderpriority, cents FROM ranked
  WHERE rk > n // 20 AND rk <= n - n // 20
)
SELECT o_orderpriority, COUNT(*) AS n_kept,
       CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS trimmed_mean_cents
FROM kept GROUP BY o_orderpriority
"""


def q_ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t statistic per event type between a
    deterministic 50/50 user split (user_id parity as the assignment
    hash) — the experimentation readout every A/B platform computes.
    Per-row values quantize to exact milli ints (floor of a
    deterministic double product — identical on both engines), group
    sums are exact int64, and the t assembly is one identical double
    tree shipped round(6). One grouped aggregate + a 5-row self-join."""
    ev = _t(spark, sf_dir, "events")
    v = F.floor(F.col("value") * F.lit(1000)).cast("long")
    g = ev.select(
        "event_type",
        (F.col("user_id") % 2 == 0).alias("is_a"),
        v.alias("vm"),
    )
    agg = g.groupBy("event_type", "is_a").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vm").alias("s1"),
        F.sum(F.col("vm") * F.col("vm")).alias("s2"),
    )
    a = agg.filter(F.col("is_a")).select(
        "event_type",
        F.col("n").alias("na"),
        F.col("s1").alias("sa1"),
        F.col("s2").alias("sa2"),
    )
    b = agg.filter(~F.col("is_a")).select(
        "event_type",
        F.col("n").alias("nb"),
        F.col("s1").alias("sb1"),
        F.col("s2").alias("sb2"),
    )
    j = a.join(b, "event_type")
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    ma = F.col("sa1").cast("double") / na
    mb = F.col("sb1").cast("double") / nb
    va = (F.col("sa2").cast("double") - na * ma * ma) / (na - F.lit(1.0))
    vb = (F.col("sb2").cast("double") - nb * mb * mb) / (nb - F.lit(1.0))
    se = F.sqrt(va / na + vb / nb)
    return j.select(
        "event_type",
        F.col("na"),
        F.col("nb"),
        F.round((ma - mb) / F.lit(1000.0), 6).alias("mean_diff"),
        F.round((ma - mb) / se, 6).alias("t_stat"),
    )


SQL_AB_TEST_WELCH = """
WITH g AS (
  SELECT event_type, (user_id % 2 = 0) AS is_a,
         CAST(FLOOR(value * 1000) AS BIGINT) AS vm
  FROM events
), agg AS (
  SELECT event_type, is_a, COUNT(*) AS n,
         CAST(SUM(vm) AS BIGINT) AS s1,
         CAST(SUM(vm * vm) AS BIGINT) AS s2
  FROM g GROUP BY 1, 2
), j AS (
  SELECT a.event_type,
         a.n AS na, a.s1 AS sa1, a.s2 AS sa2,
         b.n AS nb, b.s1 AS sb1, b.s2 AS sb2
  FROM (SELECT * FROM agg WHERE is_a) a
  JOIN (SELECT * FROM agg WHERE NOT is_a) b USING (event_type)
), m AS (
  SELECT event_type, na, nb,
         CAST(sa1 AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
         CAST(sb1 AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
         (CAST(sa2 AS DOUBLE) - CAST(na AS DOUBLE) * (CAST(sa1 AS DOUBLE) / CAST(na AS DOUBLE)) * (CAST(sa1 AS DOUBLE) / CAST(na AS DOUBLE))) / (CAST(na AS DOUBLE) - 1.0) AS va,
         (CAST(sb2 AS DOUBLE) - CAST(nb AS DOUBLE) * (CAST(sb1 AS DOUBLE) / CAST(nb AS DOUBLE)) * (CAST(sb1 AS DOUBLE) / CAST(nb AS DOUBLE))) / (CAST(nb AS DOUBLE) - 1.0) AS vb
  FROM j
)
SELECT event_type, na, nb,
       round((ma - mb) / 1000.0, 6) AS mean_diff,
       round((ma - mb) / sqrt(va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE)), 6) AS t_stat
FROM m
"""


def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13): per user, the
    pre-period covariate X (value in the first half of the corpus time
    span) against the experiment metric Y (second half);
    θ = cov(X,Y)/var(X) from exact milli-int per-user sums, reported as
    raw vs adjusted metric variance and the % reduction — the number
    that says how much smaller an experiment can be. The midpoint is
    pure integer microseconds (unix_micros + div — a timestamp/interval
    division would round differently across engines); per-row values
    quantize via the deterministic floor(value·1000). One broadcast of
    the 1-row span, one user-keyed aggregate, one 1-row moment
    aggregate."""
    ev = _t(spark, sf_dir, "events")
    span = ev.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    vm = F.floor(F.col("value") * F.lit(1000)).cast("long")
    mid_us = F.unix_micros(F.col("t0")) + F.expr(
        "(unix_micros(t1) - unix_micros(t0)) div 2"
    )
    per_user = (
        ev.crossJoin(bounded_broadcast(span, "one_row"))
        .select(
            "user_id",
            F.when(F.unix_micros(F.col("ts")) < mid_us, vm)
            .otherwise(F.lit(0))
            .alias("xv"),
            F.when(F.unix_micros(F.col("ts")) >= mid_us, vm)
            .otherwise(F.lit(0))
            .alias("yv"),
        )
        .groupBy("user_id")
        .agg(F.sum("xv").alias("x"), F.sum("yv").alias("y"))
    )
    n = F.col("n").cast("double")
    stats = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    cov = sxy / n - (sx / n) * (sy / n)
    varx = sxx / n - (sx / n) * (sx / n)
    vary = syy / n - (sy / n) * (sy / n)
    theta = cov / varx
    var_adj = vary - theta * theta * varx
    return stats.select(
        "n",
        F.round(theta, 6).alias("theta"),
        F.round(vary / F.lit(1e6), 6).alias("var_raw"),
        F.round(var_adj / F.lit(1e6), 6).alias("var_adjusted"),
        F.round((F.lit(1.0) - var_adj / vary) * F.lit(100.0), 6).alias(
            "variance_reduction_pct"
        ),
    )


SQL_CUPED_ADJUSTMENT = """
WITH span AS (
  SELECT MIN(ts) AS t0, MAX(ts) AS t1 FROM events
), mid AS (
  SELECT epoch_us(CAST(t0 AS TIMESTAMP)) + (epoch_us(CAST(t1 AS TIMESTAMP)) - epoch_us(CAST(t0 AS TIMESTAMP))) // 2 AS mid_us
  FROM span
), per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) < mid_us THEN CAST(FLOOR(value * 1000) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= mid_us THEN CAST(FLOOR(value * 1000) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
  FROM events CROSS JOIN mid
  GROUP BY user_id
), s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM per_user
), m AS (
  SELECT n,
         CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS cov,
         CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS varx,
         CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS vary
  FROM s
)
SELECT n,
       round(cov / varx, 6) AS theta,
       round(vary / 1000000.0, 6) AS var_raw,
       round((vary - (cov / varx) * (cov / varx) * varx) / 1000000.0, 6) AS var_adjusted,
       round((1.0 - (vary - (cov / varx) * (cov / varx) * varx) / vary) * 100.0, 6) AS variance_reduction_pct
FROM m
"""


def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer revenue per market segment —
    T = (1/N) Σ (x/μ)·ln(x/μ) — the decomposable inequality measure
    next to gini_revenue (Theil is additively decomposable across
    subgroups, which is why data-balance audits prefer it). x/μ is
    computed as the exact rational x·n/tot in one double division
    chain; each per-customer term is rounded to integer MICRO-NATS
    BEFORE the segment sum (double sums are order-dependent — the same
    exact-accumulation rule as unigram_surprisal). Windows over the
    per-customer rollup share one segment-keyed exchange."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    cents = F.expr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    )
    per = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum(cents).alias("x"))
    )
    wall = Window.partitionBy("c_mktsegment")
    per = per.withColumn("n", F.count(F.lit(1)).over(wall)).withColumn(
        "tot", F.sum("x").over(wall)
    )
    ratio = (
        F.col("x").cast("double")
        * F.col("n").cast("double")
        / F.col("tot").cast("double")
    )
    term = F.round(ratio * F.log(ratio) * F.lit(1e6)).cast("long")
    agg = (
        per.select("c_mktsegment", "n", term.alias("t"))
        .groupBy("c_mktsegment")
        .agg(F.first("n").alias("n_customers"), F.sum("t").alias("st"))
    )
    return agg.select(
        "c_mktsegment",
        "n_customers",
        (
            F.col("st").cast("double")
            / F.col("n_customers").cast("double")
            / F.lit(1e6)
        ).alias("theil_t"),
    )


SQL_THEIL_INDEX = """
WITH per AS (
  SELECT c_mktsegment, c_custkey,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), w AS (
  SELECT c_mktsegment, x,
         COUNT(*) OVER (PARTITION BY c_mktsegment) AS n,
         CAST(SUM(x) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS tot
  FROM per
), t AS (
  SELECT c_mktsegment, n,
         CAST(round((CAST(x AS DOUBLE) * CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
               * ln(CAST(x AS DOUBLE) * CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)) * 1000000) AS BIGINT) AS tt
  FROM w
)
SELECT c_mktsegment, CAST(MIN(n) AS BIGINT) AS n_customers,
       CAST(SUM(tt) AS BIGINT) / CAST(MIN(n) AS BIGINT) / 1000000.0 AS theil_t
FROM t GROUP BY c_mktsegment
"""


def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall nonparametric trend test on each nation's monthly
    revenue series — the standard "is this metric drifting?" monitor
    when the distribution is unknown (no normality assumption, robust
    to outliers). S = Σ_{i<j} sign(x_j − x_i) is pure integer; the pair
    join is within-group over the ~84-point MONTHLY rollup (the series
    aggregates first, so the quadratic term is months², never orders²
    — the same pre-shrink discipline as spearman_corr). n is recovered
    exactly from the pair count via the (2n−1)² perfect square; the
    continuity-corrected z ships round(6) per the multi-op rule."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    cents = F.expr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    )
    series = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(nat, cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(F.sum(cents).alias("x"))
    )
    a = series.select(
        F.col("n_name"), F.col("m").alias("mi"), F.col("x").alias("xi")
    )
    b = series.select(
        F.col("n_name"), F.col("m").alias("mj"), F.col("x").alias("xj")
    )
    pairs = a.join(b, "n_name").filter(F.col("mi") < F.col("mj"))
    s_tbl = pairs.groupBy("n_name").agg(
        F.sum(F.signum(F.col("xj") - F.col("xi")).cast("long")).alias("s"),
        (
            (F.lit(1) + F.sqrt(F.lit(1.0) + F.lit(8.0) * F.count(F.lit(1))))
            / F.lit(2.0)
        )
        .cast("long")
        .alias("n"),
    )
    n = F.col("n").cast("double")
    var = n * (n - F.lit(1.0)) * (F.lit(2.0) * n + F.lit(5.0)) / F.lit(18.0)
    z = (
        F.col("s").cast("double") - F.signum(F.col("s").cast("double"))
    ) / F.sqrt(var)
    return s_tbl.select(
        "n_name",
        "n",
        F.col("s").alias("mk_s"),
        F.round(z, 6).alias("z_stat"),
    )


SQL_MANN_KENDALL_TREND = """
WITH series AS (
  SELECT n_name, date_trunc('month', o_orderdate) AS m,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
), pairs AS (
  SELECT a.n_name,
         CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sg
  FROM series a JOIN series b
    ON a.n_name = b.n_name AND a.m < b.m
), s_tbl AS (
  SELECT n_name, CAST(SUM(sg) AS BIGINT) AS s,
         CAST((1 + SQRT(1.0 + 8.0 * COUNT(*))) / 2.0 AS BIGINT) AS n
  FROM pairs GROUP BY n_name
)
SELECT n_name, n, s AS mk_s,
       round((CAST(s AS DOUBLE) - CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END)
             / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) * (2.0 * CAST(n AS DOUBLE) + 5.0) / 18.0), 6) AS z_stat
FROM s_tbl
"""


CATALOG: dict[str, QueryDef] = {
    # reference surface (SURVEY.md §2)
    "status_summary": QueryDef(q_status_summary, SQL_STATUS_SUMMARY),
    "files_filter": QueryDef(q_files_filter, SQL_FILES_FILTER),
    "folders_filter": QueryDef(q_folders_filter, SQL_FOLDERS_FILTER),
    "grouped_count": QueryDef(q_grouped_count, SQL_GROUPED_COUNT),
    "global_count": QueryDef(q_global_count, SQL_GLOBAL_COUNT),
    "distinct_values": QueryDef(q_distinct_values, SQL_DISTINCT_VALUES),
    "top_k": QueryDef(q_top_k, SQL_TOP_K),
    "broadcast_lookup": QueryDef(q_broadcast_lookup, SQL_BROADCAST_LOOKUP),
    "dedup_last_wins": QueryDef(q_dedup_last_wins, SQL_DEDUP_LAST_WINS),
    "hierarchy_closure": QueryDef(q_hierarchy_closure, SQL_HIERARCHY_CLOSURE),
    "hierarchy_closure_logn": QueryDef(
        q_hierarchy_closure_logn, SQL_HIERARCHY_CLOSURE
    ),
    "path_functions": QueryDef(q_path_functions, SQL_PATH_FUNCTIONS),
    "excel_serial": QueryDef(q_excel_serial, SQL_EXCEL_SERIAL),
    "set_ops": QueryDef(q_set_ops, SQL_SET_OPS),
    "sql_adhoc": QueryDef(q_sql_adhoc, SQL_ADHOC),
    # window/analytic surface
    "window_rank": QueryDef(q_window_rank, SQL_WINDOW_RANK),
    "window_running_sum": QueryDef(q_window_running_sum, SQL_WINDOW_RUNNING_SUM),
    "tumbling_window": QueryDef(q_tumbling_window, SQL_TUMBLING_WINDOW),
    "sessionization": QueryDef(q_sessionization, SQL_SESSIONIZATION),
    "finalized_sessions": QueryDef(q_finalized_sessions, SQL_FINALIZED_SESSIONS),
    "asof_join": QueryDef(q_asof_join, SQL_ASOF_JOIN),
    "rollup_counts": QueryDef(q_rollup_counts, SQL_ROLLUP_COUNTS),
    "pivot_counts": QueryDef(q_pivot_counts, SQL_PIVOT_COUNTS),
    "count_distinct": QueryDef(q_count_distinct, SQL_COUNT_DISTINCT),
    "window_lag_delta": QueryDef(q_window_lag_delta, SQL_WINDOW_LAG_DELTA),
    "range_join_buckets": QueryDef(q_range_join_buckets, SQL_RANGE_JOIN_BUCKETS),
    "semi_join_exists": QueryDef(q_semi_join_exists, SQL_SEMI_JOIN_EXISTS),
    "anti_join_orphans": QueryDef(q_anti_join_orphans, SQL_ANTI_JOIN_ORPHANS),
    "cube_counts": QueryDef(q_cube_counts, SQL_CUBE_COUNTS),
    "histogram_price": QueryDef(q_histogram_price, SQL_HISTOGRAM_PRICE),
    "column_profile": QueryDef(q_column_profile, SQL_COLUMN_PROFILE),
    # TPC-H-style analytics
    "pricing_summary": QueryDef(q_pricing_summary, SQL_PRICING_SUMMARY),
    "join_agg_revenue": QueryDef(q_join_agg_revenue, SQL_JOIN_AGG_REVENUE),
    "orders_by_month": QueryDef(q_orders_by_month, SQL_ORDERS_BY_MONTH),
    "local_supplier_revenue": QueryDef(
        q_local_supplier_revenue, SQL_LOCAL_SUPPLIER_REVENUE
    ),
    "pandas_udaf_weighted": QueryDef(q_pandas_udaf_weighted, SQL_PANDAS_UDAF_WEIGHTED),
    # training-data pipeline extensions
    "exact_dedup": QueryDef(q_exact_dedup, SQL_EXACT_DEDUP),
    "ngram_jaccard_dedup": QueryDef(q_ngram_jaccard_dedup, SQL_NGRAM_JACCARD),
    "minhash_lsh_dedup": QueryDef(q_minhash_lsh_dedup, SQL_MINHASH_LSH),
    "simhash": QueryDef(q_simhash, SQL_SIMHASH),
    "embedding_topk": QueryDef(q_embedding_topk, SQL_EMBEDDING_TOPK),
    "hard_negative_mining": QueryDef(
        q_hard_negative_mining, SQL_HARD_NEGATIVE_MINING
    ),
    "embedding_lsh_topk": QueryDef(q_embedding_lsh_topk, SQL_EMBEDDING_LSH_TOPK),
    "embedding_topk_blas": QueryDef(q_embedding_topk_blas, SQL_EMBEDDING_TOPK_BLAS),
    "embedding_ivf_topk": QueryDef(
        q_embedding_ivf_topk, _pinned_oracle("embedding_ivf_topk", "embeddings")
    ),
    "embedding_ivf_contract": QueryDef(
        q_embedding_ivf_contract, SQL_EMBEDDING_IVF_CONTRACT
    ),
    "approx_aggregates": QueryDef(
        q_approx_aggregates, _pinned_oracle("approx_aggregates", "lineitem")
    ),
    "approx_aggregates_audit": QueryDef(
        q_approx_aggregates_audit, SQL_APPROX_AGGREGATES_AUDIT
    ),
    "embedding_cosine_neardup": QueryDef(
        q_embedding_cosine_neardup, SQL_EMBEDDING_COSINE_NEARDUP
    ),
    "embedding_cosine_neardup_lsh": QueryDef(
        q_embedding_cosine_neardup_lsh, SQL_EMBEDDING_COSINE_NEARDUP_LSH
    ),
    "train_val_test_split": QueryDef(q_train_val_test_split, SQL_TRAIN_VAL_TEST_SPLIT),
    "stratified_sample": QueryDef(q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "sequence_packing": QueryDef(q_sequence_packing, SQL_SEQUENCE_PACKING),
    "split_contamination": QueryDef(q_split_contamination, SQL_SPLIT_CONTAMINATION),
    "benchmark_decontamination": QueryDef(
        q_benchmark_decontamination, SQL_BENCHMARK_DECONTAMINATION
    ),
    "weighted_sample": QueryDef(q_weighted_sample, SQL_WEIGHTED_SAMPLE),
    "length_percentile_gate": QueryDef(
        q_length_percentile_gate, SQL_LENGTH_PERCENTILE_GATE
    ),
    "curation_funnel": QueryDef(q_curation_funnel, SQL_CURATION_FUNNEL),
    "neardup_clusters": QueryDef(q_neardup_clusters, SQL_NEARDUP_CLUSTERS),
    "text_repetition": QueryDef(q_text_repetition, SQL_TEXT_REPETITION),
    "json_extract_agg": QueryDef(q_json_extract_agg, SQL_JSON_EXTRACT_AGG),
    "gapfill_hourly": QueryDef(q_gapfill_hourly, SQL_GAPFILL_HOURLY),
    "gapfill_locf": QueryDef(q_gapfill_locf, SQL_GAPFILL_LOCF),
    "funnel_conversion": QueryDef(q_funnel_conversion, SQL_FUNNEL_CONVERSION),
    "retention_cohorts": QueryDef(q_retention_cohorts, SQL_RETENTION_COHORTS),
    "incremental_neardup": QueryDef(q_incremental_neardup, SQL_INCREMENTAL_NEARDUP),
    "exact_percentiles": QueryDef(q_exact_percentiles, SQL_EXACT_PERCENTILES),
    "below_avg_qty": QueryDef(q_below_avg_qty, SQL_BELOW_AVG_QTY),
    "window_distribution": QueryDef(q_window_distribution, SQL_WINDOW_DISTRIBUTION),
    "rolling_hour_count": QueryDef(q_rolling_hour_count, SQL_ROLLING_HOUR_COUNT),
    "tfidf_top_terms": QueryDef(q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "vocab_build": QueryDef(q_vocab_build, SQL_VOCAB_BUILD),
    "zscore_outliers": QueryDef(q_zscore_outliers, SQL_ZSCORE_OUTLIERS),
    "normalize_text": QueryDef(q_normalize_text, SQL_NORMALIZE_TEXT),
    "text_token_stats": QueryDef(q_text_token_stats, SQL_TEXT_TOKEN_STATS),
    "text_quality": QueryDef(q_text_quality, SQL_TEXT_QUALITY),
    "image_dhash_neardup": QueryDef(
        q_image_dhash_neardup, SQL_IMAGE_DHASH_NEARDUP
    ),
    "image_quality_gate": QueryDef(
        q_image_quality_gate, SQL_IMAGE_QUALITY_GATE
    ),
    "audio_fingerprint": QueryDef(q_audio_fingerprint, SQL_AUDIO_FINGERPRINT),
    "video_keyframes": QueryDef(q_video_keyframes, SQL_VIDEO_KEYFRAMES),
    "multimodal_metadata": QueryDef(q_multimodal_metadata, SQL_MULTIMODAL_METADATA),
    "multimodal_frame_sample": QueryDef(
        q_multimodal_frame_sample, SQL_MULTIMODAL_FRAME_SAMPLE
    ),
    "doc_chunking": QueryDef(q_doc_chunking, SQL_DOC_CHUNKING),
    "canonical_pick": QueryDef(q_canonical_pick, SQL_CANONICAL_PICK),
    "shipping_priority": QueryDef(q_shipping_priority, SQL_SHIPPING_PRIORITY),
    "grouping_sets": QueryDef(q_grouping_sets, SQL_GROUPING_SETS),
    "embedding_centroids": QueryDef(q_embedding_centroids, SQL_EMBEDDING_CENTROIDS),
    "edit_distance_neardup": QueryDef(q_edit_distance_neardup, SQL_EDIT_DISTANCE_NEARDUP),
    "large_orders": QueryDef(q_large_orders, SQL_LARGE_ORDERS),
    "snapshot_diff": QueryDef(q_snapshot_diff, SQL_SNAPSHOT_DIFF),
    "mixture_sample": QueryDef(q_mixture_sample, SQL_MIXTURE_SAMPLE),
    "sole_late_supplier": QueryDef(q_sole_late_supplier, SQL_SOLE_LATE_SUPPLIER),
    "promo_revenue_share": QueryDef(q_promo_revenue_share, SQL_PROMO_REVENUE_SHARE),
    "disjunctive_revenue": QueryDef(q_disjunctive_revenue, SQL_DISJUNCTIVE_REVENUE),
    "dormant_rich_customers": QueryDef(
        q_dormant_rich_customers, SQL_DORMANT_RICH_CUSTOMERS
    ),
    "metrics_unpivot": QueryDef(q_metrics_unpivot, SQL_METRICS_UNPIVOT),
    "forecast_revenue": QueryDef(q_forecast_revenue, SQL_FORECAST_REVENUE),
    "nation_revenue_share": QueryDef(
        q_nation_revenue_share, SQL_NATION_REVENUE_SHARE
    ),
    "k_anonymity_audit": QueryDef(q_k_anonymity_audit, SQL_K_ANONYMITY_AUDIT),
    "pii_scrub": QueryDef(q_pii_scrub, SQL_PII_SCRUB),
    "cheapest_supplier_per_part": QueryDef(
        q_cheapest_supplier_per_part, SQL_CHEAPEST_SUPPLIER_PER_PART
    ),
    "per_source_cap": QueryDef(q_per_source_cap, SQL_PER_SOURCE_CAP),
    "json_variant_extract": QueryDef(q_json_variant_extract, SQL_JSON_VARIANT_EXTRACT),
    "boilerplate_ngrams": QueryDef(q_boilerplate_ngrams, SQL_BOILERPLATE_NGRAMS),
    "winnowing_fingerprints": QueryDef(
        q_winnowing_fingerprints, SQL_WINNOWING_FINGERPRINTS
    ),
    "salted_join_revenue": QueryDef(q_salted_join_revenue, SQL_SALTED_JOIN_REVENUE),
    "numeric_correlations": QueryDef(
        q_numeric_correlations, SQL_NUMERIC_CORRELATIONS
    ),
    # TPC-H decorrelation/join-shape batch
    "order_priority_checks": QueryDef(
        q_order_priority_checks, SQL_ORDER_PRIORITY_CHECKS
    ),
    "volume_shipping": QueryDef(q_volume_shipping, SQL_VOLUME_SHIPPING),
    "market_share": QueryDef(q_market_share, SQL_MARKET_SHARE),
    "product_profit": QueryDef(q_product_profit, SQL_PRODUCT_PROFIT),
    "returned_item_customers": QueryDef(
        q_returned_item_customers, SQL_RETURNED_ITEM_CUSTOMERS
    ),
    "important_parts": QueryDef(q_important_parts, SQL_IMPORTANT_PARTS),
    "customer_order_distribution": QueryDef(
        q_customer_order_distribution, SQL_CUSTOMER_ORDER_DISTRIBUTION
    ),
    "top_revenue_supplier": QueryDef(
        q_top_revenue_supplier, SQL_TOP_REVENUE_SUPPLIER
    ),
    "supplier_part_variety": QueryDef(
        q_supplier_part_variety, SQL_SUPPLIER_PART_VARIETY
    ),
    "small_qty_avg_revenue": QueryDef(
        q_small_qty_avg_revenue, SQL_SMALL_QTY_AVG_REVENUE
    ),
    "qualified_green_suppliers": QueryDef(
        q_qualified_green_suppliers, SQL_QUALIFIED_GREEN_SUPPLIERS
    ),
    # training-pipeline extensions round 2
    "containment_neardup": QueryDef(q_containment_neardup, SQL_CONTAINMENT_NEARDUP),
    "unigram_surprisal": QueryDef(q_unigram_surprisal, SQL_UNIGRAM_SURPRISAL),
    "cross_source_canonical": QueryDef(
        q_cross_source_canonical, SQL_CROSS_SOURCE_CANONICAL
    ),
    "shuffle_shards": QueryDef(q_shuffle_shards, SQL_SHUFFLE_SHARDS),
    "neardup_prune": QueryDef(q_neardup_prune, SQL_NEARDUP_PRUNE),
    "embedding_quantization": QueryDef(
        q_embedding_quantization, SQL_EMBEDDING_QUANTIZATION
    ),
    "event_type_islands": QueryDef(q_event_type_islands, SQL_EVENT_TYPE_ISLANDS),
    "dq_audit": QueryDef(q_dq_audit, SQL_DQ_AUDIT),
    "mad_outliers": QueryDef(q_mad_outliers, SQL_MAD_OUTLIERS),
    "lang_entropy_by_source": QueryDef(
        q_lang_entropy_by_source, SQL_LANG_ENTROPY_BY_SOURCE
    ),
    "chi_square_independence": QueryDef(
        q_chi_square_independence, SQL_CHI_SQUARE_INDEPENDENCE
    ),
    "set_ops_all": QueryDef(q_set_ops_all, SQL_SET_OPS_ALL),
    "null_safe_join": QueryDef(q_null_safe_join, SQL_NULL_SAFE_JOIN),
    "shipmode_priority_counts": QueryDef(
        q_shipmode_priority_counts, SQL_SHIPMODE_PRIORITY_COUNTS
    ),
    "subtree_rollup": QueryDef(q_subtree_rollup, SQL_SUBTREE_ROLLUP),
    "asof_forward_tolerance": QueryDef(
        q_asof_forward_tolerance, SQL_ASOF_FORWARD_TOLERANCE
    ),
    "id_gap_audit": QueryDef(q_id_gap_audit, SQL_ID_GAP_AUDIT),
    "change_feed": QueryDef(q_change_feed, SQL_CHANGE_FEED),
    "token_id_encode": QueryDef(q_token_id_encode, SQL_TOKEN_ID_ENCODE),
    "sentence_boilerplate": QueryDef(
        q_sentence_boilerplate, SQL_SENTENCE_BOILERPLATE
    ),
    "groupwise_minmax_norm": QueryDef(
        q_groupwise_minmax_norm, SQL_GROUPWISE_MINMAX_NORM
    ),
    "langid_confusion": QueryDef(q_langid_confusion, SQL_LANGID_CONFUSION),
    "feature_drift_psi": QueryDef(q_feature_drift_psi, SQL_FEATURE_DRIFT_PSI),
    # round-3 widening
    "url_canonicalize": QueryDef(q_url_canonicalize, SQL_URL_CANONICALIZE),
    "intra_doc_line_dedup": QueryDef(
        q_intra_doc_line_dedup, SQL_INTRA_DOC_LINE_DEDUP
    ),
    "embedding_neardup_prune": QueryDef(
        q_embedding_neardup_prune, SQL_EMBEDDING_NEARDUP_PRUNE
    ),
    "window_frames": QueryDef(q_window_frames, SQL_WINDOW_FRAMES),
    "nearest_centroid_assign": QueryDef(
        q_nearest_centroid_assign, SQL_NEAREST_CENTROID_ASSIGN
    ),
    "time_weighted_avg": QueryDef(q_time_weighted_avg, SQL_TIME_WEIGHTED_AVG),
    "bpe_train_merges": QueryDef(
        q_bpe_train_merges, _pinned_oracle("bpe_train_merges", "documents")
    ),
    "bigram_perplexity": QueryDef(q_bigram_perplexity, SQL_BIGRAM_PERPLEXITY),
    "classifier_auc": QueryDef(q_classifier_auc, SQL_CLASSIFIER_AUC),
    "dedup_cascade": QueryDef(q_dedup_cascade, SQL_DEDUP_CASCADE),
    # round-4 widening
    "interval_attribution": QueryDef(
        q_interval_attribution, SQL_INTERVAL_ATTRIBUTION
    ),
    "sparse_cosine_topk": QueryDef(q_sparse_cosine_topk, SQL_SPARSE_COSINE_TOPK),
    "classifier_calibration": QueryDef(
        q_classifier_calibration, SQL_CLASSIFIER_CALIBRATION
    ),
    "conversion_funnel": QueryDef(q_conversion_funnel, SQL_CONVERSION_FUNNEL),
    "frequent_tokens": QueryDef(q_frequent_tokens, SQL_FREQUENT_TOKENS),
    "cohens_kappa": QueryDef(q_cohens_kappa, SQL_COHENS_KAPPA),
    "pareto_frontier": QueryDef(q_pareto_frontier, SQL_PARETO_FRONTIER),
    "mutual_information": QueryDef(q_mutual_information, SQL_MUTUAL_INFORMATION),
    "session_concurrency": QueryDef(
        q_session_concurrency, SQL_SESSION_CONCURRENCY
    ),
    "copurchase_lift": QueryDef(q_copurchase_lift, SQL_COPURCHASE_LIFT),
    "rfm_segmentation": QueryDef(q_rfm_segmentation, SQL_RFM_SEGMENTATION),
    "event_transition_matrix": QueryDef(
        q_event_transition_matrix, SQL_EVENT_TRANSITION_MATRIX
    ),
    "dup_graph_triangles": QueryDef(
        q_dup_graph_triangles, SQL_DUP_GRAPH_TRIANGLES
    ),
    "approx_topk_audit": QueryDef(q_approx_topk_audit, SQL_APPROX_TOPK_AUDIT),
    "rolling_anomaly_zscore": QueryDef(
        q_rolling_anomaly_zscore, SQL_ROLLING_ANOMALY_ZSCORE
    ),
    "revenue_concentration": QueryDef(
        q_revenue_concentration, SQL_REVENUE_CONCENTRATION
    ),
    "price_proximity_join": QueryDef(
        q_price_proximity_join, SQL_PRICE_PROXIMITY_JOIN
    ),
    "lexical_diversity": QueryDef(q_lexical_diversity, SQL_LEXICAL_DIVERSITY),
    "customer_max_drawdown": QueryDef(
        q_customer_max_drawdown, SQL_CUSTOMER_MAX_DRAWDOWN
    ),
    "weighted_median": QueryDef(q_weighted_median, SQL_WEIGHTED_MEDIAN),
    "trend_slope_by_type": QueryDef(
        q_trend_slope_by_type, SQL_TREND_SLOPE_BY_TYPE
    ),
    "cumulative_distinct_users": QueryDef(
        q_cumulative_distinct_users, SQL_CUMULATIVE_DISTINCT_USERS
    ),
    "benford_audit": QueryDef(q_benford_audit, SQL_BENFORD_AUDIT),
    "ks_drift": QueryDef(q_ks_drift, SQL_KS_DRIFT),
    "scd2_dimension": QueryDef(q_scd2_dimension, SQL_SCD2_DIMENSION),
    "proration_allocate": QueryDef(q_proration_allocate, SQL_PRORATION_ALLOCATE),
    "pmi_collocations": QueryDef(q_pmi_collocations, SQL_PMI_COLLOCATIONS),
    "gini_revenue": QueryDef(q_gini_revenue, SQL_GINI_REVENUE),
    "session_paths": QueryDef(q_session_paths, SQL_SESSION_PATHS),
    "record_linkage": QueryDef(q_record_linkage, SQL_RECORD_LINKAGE),
    "pagerank_fixed": QueryDef(q_pagerank_fixed, SQL_PAGERANK_FIXED),
    "woe_information_value": QueryDef(
        q_woe_information_value, SQL_WOE_INFORMATION_VALUE
    ),
    "autocorr_daily": QueryDef(q_autocorr_daily, SQL_AUTOCORR_DAILY),
    "token_burstiness": QueryDef(q_token_burstiness, SQL_TOKEN_BURSTINESS),
    "stratified_split_exact": QueryDef(
        q_stratified_split_exact, SQL_STRATIFIED_SPLIT_EXACT
    ),
    "mom_growth": QueryDef(q_mom_growth, SQL_MOM_GROWTH),
    "abc_classification": QueryDef(
        q_abc_classification, SQL_ABC_CLASSIFICATION
    ),
    "decile_lift": QueryDef(q_decile_lift, SQL_DECILE_LIFT),
    "spearman_corr": QueryDef(q_spearman_corr, SQL_SPEARMAN_CORR),
    "conversion_lag_quantiles": QueryDef(
        q_conversion_lag_quantiles, SQL_CONVERSION_LAG_QUANTILES
    ),
    "graph_degree_distribution": QueryDef(
        q_graph_degree_distribution, SQL_GRAPH_DEGREE_DISTRIBUTION
    ),
    "compression_ratio_gate": QueryDef(
        q_compression_ratio_gate,
        _pinned_oracle("compression_ratio_gate", "documents"),
    ),
    "column_entropy_profile": QueryDef(
        q_column_entropy_profile, SQL_COLUMN_ENTROPY_PROFILE
    ),
    "reciprocal_rank_fusion": QueryDef(
        q_reciprocal_rank_fusion, SQL_RECIPROCAL_RANK_FUSION
    ),
    "scd2_point_in_time": QueryDef(
        q_scd2_point_in_time, SQL_SCD2_POINT_IN_TIME
    ),
    "bm25_topk": QueryDef(q_bm25_topk, SQL_BM25_TOPK),
    "key_skew_profile": QueryDef(q_key_skew_profile, SQL_KEY_SKEW_PROFILE),
    "active_users_28d": QueryDef(q_active_users_28d, SQL_ACTIVE_USERS_28D),
    "decayed_rolling_sum": QueryDef(
        q_decayed_rolling_sum, SQL_DECAYED_ROLLING_SUM
    ),
    "exact_substring_spans": QueryDef(
        q_exact_substring_spans, SQL_EXACT_SUBSTRING_SPANS
    ),
    "dsir_importance": QueryDef(q_dsir_importance, SQL_DSIR_IMPORTANCE),
    "hashed_classifier_infer": QueryDef(
        q_hashed_classifier_infer, SQL_HASHED_CLASSIFIER_INFER
    ),
    "temperature_mixture": QueryDef(
        q_temperature_mixture, SQL_TEMPERATURE_MIXTURE
    ),
    "datacard_report": QueryDef(q_datacard_report, SQL_DATACARD_REPORT),
    "paragraph_dedup_rebuild": QueryDef(
        q_paragraph_dedup_rebuild, SQL_PARAGRAPH_DEDUP_REBUILD
    ),
    "prefix_filter_jaccard": QueryDef(
        q_prefix_filter_jaccard, SQL_PREFIX_FILTER_JACCARD
    ),
    "minhash_estimate_audit": QueryDef(
        q_minhash_estimate_audit, SQL_MINHASH_ESTIMATE_AUDIT
    ),
    "perplexity_buckets": QueryDef(
        q_perplexity_buckets, SQL_PERPLEXITY_BUCKETS
    ),
    "html_strip_extract": QueryDef(
        q_html_strip_extract, SQL_HTML_STRIP_EXTRACT
    ),
    "power_iteration_topvec": QueryDef(
        q_power_iteration_topvec, SQL_POWER_ITERATION_TOPVEC
    ),
    "kcore_decomposition": QueryDef(
        q_kcore_decomposition, SQL_KCORE_DECOMPOSITION
    ),
    "abtt_residual": QueryDef(q_abtt_residual, SQL_ABTT_RESIDUAL),
    "tokenizer_fertility": QueryDef(
        q_tokenizer_fertility, SQL_TOKENIZER_FERTILITY
    ),
    "wilson_lower_bound": QueryDef(
        q_wilson_lower_bound, SQL_WILSON_LOWER_BOUND
    ),
    "cross_source_dup_matrix": QueryDef(
        q_cross_source_dup_matrix, SQL_CROSS_SOURCE_DUP_MATRIX
    ),
    "hashing_tf_vectorize": QueryDef(
        q_hashing_tf_vectorize, SQL_HASHING_TF_VECTORIZE
    ),
    "lsh_tuning_audit": QueryDef(q_lsh_tuning_audit, SQL_LSH_TUNING_AUDIT),
    "moment_profile": QueryDef(q_moment_profile, SQL_MOMENT_PROFILE),
    "l_diversity_audit": QueryDef(
        q_l_diversity_audit, SQL_L_DIVERSITY_AUDIT
    ),
    "neardup_keep_longest": QueryDef(
        q_neardup_keep_longest, SQL_NEARDUP_KEEP_LONGEST
    ),
    "epoch_mixing_plan": QueryDef(
        q_epoch_mixing_plan, SQL_EPOCH_MIXING_PLAN
    ),
    "ngram_novelty": QueryDef(q_ngram_novelty, SQL_NGRAM_NOVELTY),
    "revenue_waterfall": QueryDef(
        q_revenue_waterfall, SQL_REVENUE_WATERFALL
    ),
    "simpson_diversity": QueryDef(
        q_simpson_diversity, SQL_SIMPSON_DIVERSITY
    ),
    "trimmed_mean": QueryDef(q_trimmed_mean, SQL_TRIMMED_MEAN),
    "ab_test_welch": QueryDef(q_ab_test_welch, SQL_AB_TEST_WELCH),
    "cuped_adjustment": QueryDef(
        q_cuped_adjustment, SQL_CUPED_ADJUSTMENT
    ),
    "theil_index": QueryDef(q_theil_index, SQL_THEIL_INDEX),
    "mann_kendall_trend": QueryDef(
        q_mann_kendall_trend, SQL_MANN_KENDALL_TREND
    ),
}
