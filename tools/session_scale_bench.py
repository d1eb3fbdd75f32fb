"""Session-window family scale rehearsal: the native session_window
aggregation and its pushdown-safe finalized cut
(streaming/windows.py:session_aggregates / finalized_sessions) at
REP x the sf0.1 events table, with EXACT correctness checks at every
scale.

The scaled input is REP disjoint copies of the base events with
user_id offset per replica (user_id + r*OFFSET). Sessions are keyed by
user, so each replica's session structure is exactly the base's —
closed-form expectations instead of "it ran":
- total sessions == base sessions * REP, and the distinct set of
  (user_id % OFFSET, session_start, session_end, n_events,
  session_value) must equal the base result EXACTLY (bit-identical
  per-replica sessions — timestamps, counts, and decimal-summed values
  all deterministic);
- same pair of checks for finalized_sessions at a fixed cutoff, which
  also proves the post-merge end cut holds under replication (the
  pushdown hazard this helper guards against would break the replica
  identity immediately: a phantom split session in any replica changes
  the distinct count).

Per (op, REP): wall seconds + shuffle read/write deltas from the same
status-store totals sf1_pipeline.py uses — the session agg is ONE shuffle
on user_id, so shuffle volume must scale linearly with REP.
Replication itself is a narrow map (broadcast range crossJoin).

Usage: python tools/session_scale_bench.py [sf_dir] [reps...]
  defaults: /root/testdata/sf0.1, reps 1 10 50.
Prints one JSON line per (rep, op) + a final summary; paste into
SCALING.md. Exit 1 on any invariant violation.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from shuttlestandalonedbcreator_spark.session import get_spark  # noqa: E402
from shuttlestandalonedbcreator_spark.sources.registry import load_table  # noqa: E402
from shuttlestandalonedbcreator_spark.streaming.windows import (  # noqa: E402
    finalized_sessions,
    session_aggregates,
)
from tools.sf1_pipeline import _shuffle_totals  # noqa: E402

OFFSET = 10_000_000  # > any user_id at every tested SF
GAP = "30 minutes"
CUTOFF = "2024-01-20 00:00:00"
CANON_COLS = ("session_start", "session_end", "n_events", "session_value")


def replicate(spark, ev, rep):
    if rep == 1:
        return ev
    return (
        ev.crossJoin(F.broadcast(spark.range(rep).select(F.col("id").alias("_r"))))
        .withColumn("user_id", F.col("user_id") + F.col("_r") * OFFSET)
        .drop("_r")
    )


def canon_count(df):
    """(total rows, distinct per-replica-canonical rows)."""
    total = df.count()
    distinct = (
        df.select(
            (F.col("user_id") % OFFSET).alias("u"), *CANON_COLS
        ).distinct().count()
    )
    return total, distinct


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = [int(a) for a in sys.argv[2:]] or [1, 10, 50]

    spark = get_spark(app_name="session_scale_bench")
    spark.sparkContext.setLogLevel("ERROR")
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")

    base_full_total, base_full_distinct = canon_count(
        session_aggregates(ev, gap=GAP)
    )
    base_fin_total, base_fin_distinct = canon_count(
        finalized_sessions(ev, gap=GAP, end_before=CUTOFF)
    )
    ok = base_full_total == base_full_distinct and base_fin_total == base_fin_distinct
    print(json.dumps({
        "base_sessions": base_full_total,
        "base_finalized": base_fin_total,
        "base_self_consistent": ok,
    }))
    failures = 0 if ok else 1

    for rep in reps:
        scaled = replicate(spark, ev, rep)
        n_rows = scaled.count()  # materialize replication outside timing
        for op, fn, base_total in (
            ("session_aggregates", lambda d: session_aggregates(d, gap=GAP),
             base_full_total),
            ("finalized_sessions",
             lambda d: finalized_sessions(d, gap=GAP, end_before=CUTOFF),
             base_fin_total),
        ):
            s0 = _shuffle_totals(spark)
            t0 = time.perf_counter()
            total, distinct = canon_count(fn(scaled))
            wall = round(time.perf_counter() - t0, 2)
            s1 = _shuffle_totals(spark)
            good = total == base_total * rep and distinct == base_total
            failures += 0 if good else 1
            print(json.dumps({
                "rep": rep, "op": op, "rows_in": n_rows,
                "sessions": total, "expected": base_total * rep,
                "distinct_canonical": distinct, "expected_distinct": base_total,
                "exact": good, "wall_s": wall,
                "shuffle_read_mb": round((s1[0] - s0[0]) / 1e6, 1),
                "shuffle_write_mb": round((s1[1] - s0[1]) / 1e6, 1),
            }))
    print(json.dumps({"failures": failures}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
