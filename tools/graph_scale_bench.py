"""Graph-family scale rehearsal: the iterative graph operators
(pagerank_fixed, kcore_decomposition, connected components, triangle
count) at REP x the sf0.1 co-purchase edge list, with EXACT correctness
checks at every scale.

The scaled input is REP disjoint isomorphic copies of the base graph
(node id + r*OFFSET), which gives closed-form expected outputs instead
of "it ran":
- PageRank ranks are exact int64 (queries.py:q_pagerank_fixed), and the
  update depends only on local structure + the global node count N,
  which every replica shares — so all REP copies of a node must carry
  BIT-IDENTICAL ranks. Checked as: distinct (orig_node, rank) pairs ==
  base node count while total rows == base * REP.
- k-core peeling is per-component, so (orig_node, core_degree) must
  dedup to exactly the base core. Same check.
- connected components: component count == base count * REP, and the
  size histogram of components must be the base histogram * REP. The
  distributed label-propagation path is FORCED (driver_threshold=0) —
  the driver union-find shortcut would hide the 100 TB path's cost.
- triangles: count == base * REP exactly.

Per (op, REP): wall seconds + shuffle read/write deltas from the same
status-store totals sf1_pipeline.py uses, so an op whose shuffle grows
faster than REP is visible immediately. Replication itself is a narrow
map (one crossJoin with a REP-row range, no shuffle).

Usage: python tools/graph_scale_bench.py [sf_dir] [reps...]
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

from shuttlestandalonedbcreator_spark.operators.graph import (  # noqa: E402
    connected_components,
)
from shuttlestandalonedbcreator_spark.operators.util import (  # noqa: E402
    bounded_broadcast,
)
from shuttlestandalonedbcreator_spark.session import get_spark  # noqa: E402
from shuttlestandalonedbcreator_spark.sources.registry import load_table  # noqa: E402
from tools.sf1_pipeline import _shuffle_totals  # noqa: E402

OFFSET = 10_000_000  # > any l_partkey at every tested SF
SCALE = 1_000_000_000_000
KCORE_K = 2
KCORE_ROUNDS = 4


def base_edges(spark, sf_dir):
    """Undirected co-purchase edge list (p1 < p2), the SAME construction
    as queries.py:q_pagerank_fixed / q_kcore_decomposition: parts that
    share >= 2 orders. Checkpointed — every op re-joins it."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    und = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("p1", "p2")
    )
    return und.localCheckpoint(eager=True)


def replicate_edges(spark, und, rep: int):
    """rep disjoint isomorphic copies: node id + r*OFFSET. Narrow map —
    no shuffle; checkpointed so per-op timings measure the op."""
    if rep == 1:
        return und
    out = und.crossJoin(spark.range(rep).select(F.col("id").alias("_r"))).select(
        (F.col("p1") + F.col("_r") * OFFSET).alias("p1"),
        (F.col("p2") + F.col("_r") * OFFSET).alias("p2"),
    )
    return out.localCheckpoint(eager=True)


def run_pagerank(und):
    """3 exact-integer power iterations — mirrors q_pagerank_fixed."""
    edges = (
        und.select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
        .unionByName(und.select(F.col("p2").alias("src"), F.col("p1").alias("dst")))
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = edges.join(deg, "src").localCheckpoint(eager=True)
    n_nodes = deg.agg(F.count(F.lit(1)).alias("_N"))
    ranks = deg.crossJoin(bounded_broadcast(n_nodes, "one_row")).select(
        F.col("src").alias("node"), F.expr(f"{SCALE} div _N").alias("r")
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
            F.expr(f"(15 * {SCALE}) div (100 * _N) + (85 * _inc) div 100").alias(
                "r"
            ),
        )
    return ranks


def run_kcore(und):
    """4 fixed peel rounds — mirrors q_kcore_decomposition."""
    edges = und.localCheckpoint(eager=True)
    for _ in range(KCORE_ROUNDS):
        deg = (
            edges.select(F.col("p1").alias("v"))
            .unionByName(edges.select(F.col("p2").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= KCORE_K).select("v")
        edges = edges.join(
            keep.withColumnRenamed("v", "p1"), "p1", "left_semi"
        ).join(keep.withColumnRenamed("v", "p2"), "p2", "left_semi")
        edges = edges.localCheckpoint(eager=True)
    return (
        edges.select(F.col("p1").alias("v"))
        .unionByName(edges.select(F.col("p2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


def run_triangles(und):
    """Triangle count on the undirected p1<p2 list: the standard ordered
    two-join enumeration — each triangle a<b<c found exactly once."""
    e1 = und.select(F.col("p1").alias("a"), F.col("p2").alias("b"))
    e2 = und.select(F.col("p1").alias("b"), F.col("p2").alias("c"))
    e3 = und.select(F.col("p1").alias("a"), F.col("p2").alias("c"))
    return e1.join(e2, "b").join(e3, ["a", "c"]).count()


def _timed(spark, fn):
    s0 = _shuffle_totals(spark)
    t0 = time.perf_counter()
    out = fn()
    wall = round(time.perf_counter() - t0, 2)
    s1 = _shuffle_totals(spark)
    mb = round((s1[0] - s0[0] + s1[1] - s0[1]) / 1e6, 1)
    return out, wall, mb


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = [int(x) for x in sys.argv[2:]] or [1, 10, 50]

    spark = get_spark(app_name="graph_scale_bench")
    spark.sparkContext.setLogLevel("ERROR")
    und0 = base_edges(spark, sf_dir)
    n_edges0 = und0.count()

    # base invariants (computed once at x1)
    pr0 = run_pagerank(und0).localCheckpoint(eager=True)
    n_nodes0 = pr0.count()
    kc0 = run_kcore(und0).localCheckpoint(eager=True)
    n_core0 = kc0.count()
    cc0 = connected_components(
        und0, "p1", "p2", checkpoint=True, driver_threshold=0
    ).localCheckpoint(eager=True)
    comp_hist0 = sorted(
        (r["n"], r["m"])
        for r in cc0.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("m"))
        .collect()
    )
    tri0 = run_triangles(und0)
    print(json.dumps({
        "base": {"edges": n_edges0, "nodes": n_nodes0, "core_nodes": n_core0,
                 "components": sum(m for _, m in comp_hist0),
                 "triangles": tri0},
    }), flush=True)

    failures = []
    for rep in reps:
        und = replicate_edges(spark, und0, rep)
        row = {"rep": rep, "edges": n_edges0 * rep}

        pr, w, mb = _timed(spark, lambda: run_pagerank(und).localCheckpoint(True))
        total = pr.count()
        distinct = (
            pr.select((F.col("node") % OFFSET).alias("o"), "r").distinct().count()
        )
        ok = total == n_nodes0 * rep and distinct == n_nodes0
        row["pagerank"] = {"wall_s": w, "shuffle_mb": mb, "exact": ok}
        if not ok:
            failures.append(f"pagerank rep={rep}: {total} rows / {distinct} distinct")

        kc, w, mb = _timed(spark, lambda: run_kcore(und).localCheckpoint(True))
        total = kc.count()
        distinct = (
            kc.select((F.col("v") % OFFSET).alias("o"), "core_degree")
            .distinct().count()
        )
        ok = total == n_core0 * rep and distinct == n_core0
        row["kcore"] = {"wall_s": w, "shuffle_mb": mb, "exact": ok}
        if not ok:
            failures.append(f"kcore rep={rep}: {total} rows / {distinct} distinct")

        cc, w, mb = _timed(
            spark,
            lambda: connected_components(
                und, "p1", "p2", checkpoint=True, driver_threshold=0
            ).localCheckpoint(True),
        )
        hist = sorted(
            (r["n"], r["m"])
            for r in cc.groupBy("component")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("m"))
            .collect()
        )
        ok = hist == [(n, m * rep) for n, m in comp_hist0]
        row["components"] = {"wall_s": w, "shuffle_mb": mb, "exact": ok}
        if not ok:
            failures.append(f"components rep={rep}: histogram {hist[:5]}...")

        tri, w, mb = _timed(spark, lambda: run_triangles(und))
        ok = tri == tri0 * rep
        row["triangles"] = {"wall_s": w, "shuffle_mb": mb, "exact": ok,
                            "count": tri}
        if not ok:
            failures.append(f"triangles rep={rep}: {tri} != {tri0 * rep}")

        print(json.dumps(row), flush=True)

    print(
        f"graph scale rehearsal @ {sf_dir} reps={reps}: "
        + ("ALL EXACT" if not failures else f"FAILURES: {failures}")
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
