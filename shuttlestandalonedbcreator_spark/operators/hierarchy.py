"""Recursive hierarchy walk (transitive closure) — operator J2.

Reference: the `hierarchy_children` recursive CTE
(SQLiteDirectImporter.java:902-912, SCHEMA.sql:71-81):
    roots: parent_id IS NULL            → depth 0, path = name
    step : child.parent_id = tree.id    → depth+1, path || ' > ' || name
    ORDER BY path

Spark restatement: Spark 4's native `WITH RECURSIVE` (a `UnionLoop`
physical plan) is the one frontier walk, so Catalyst drives the per-level
iteration. Both builders are lazy: they fire no job and leave no view in
the caller's session (`nodes` goes in as a `spark.sql` keyword argument).

Two guards:
- depth: `MAX RECURSION LEVEL MAX_DEPTH + 1`. A tree exactly `MAX_DEPTH`
  deep completes; one level deeper (or a reachable parent-pointer cycle)
  RAISES `RECURSION_LEVEL_LIMIT_EXCEEDED` instead of silently truncating
  the closure (the reference relies on SQLite's implicit recursion limit).
- rows: Spark also caps a recursive CTE at `spark.sql.cteRecursionRowLimit`
  rows (1,000,000 by default), read at execution time, so any tree past
  ~1M nodes would fail. `_lift_row_limit` lifts it on the session at build
  time, the way `sources/registry.py:ensure_utc` pins the time zone; the
  depth guard already bounds the closure at N × (MAX_DEPTH + 1) rows.

`hierarchy_closure_doubling` is the deep-tree path: O(log depth) rounds
where the recursive walk needs one round per level.

Input contract of the recursive walks:
- pass a cheap-to-rescan `nodes`, such as a parquet scan. The `UnionLoop`
  re-runs `nodes`' whole lineage at every level and never reads a cached
  input from the cache, so an expensive lineage (a Python-list
  `createDataFrame`, joins, aggregates) is paid once per level;
- each level costs ~5 Spark jobs and ~0.45-0.75 s of fixed overhead on 4
  cores, however few rows it holds;
- trees deeper than a few dozen levels belong on
  `hierarchy_closure_doubling`. Nothing routes there automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_DEPTH = 64  # deepest tree the recursive walks complete
DOUBLING_MAX_DEPTH = 1 << 20  # deepest tree hierarchy_closure_doubling resolves
SEPARATOR = " > "


def _lift_row_limit(nodes: DataFrame) -> None:
    nodes.sparkSession.conf.set("spark.sql.cteRecursionRowLimit", "-1")


def hierarchy_closure(
    nodes: DataFrame, id_col: str, parent_col: str, name_col: str
) -> DataFrame:
    """Walk the adjacency-list tree roots down; returns nodes + (depth, path).

    Roots are rows with NULL parent (orphans — parents missing from the
    node set — never join and are silently dropped below the roots they
    lack, matching recursive-CTE semantics; reference orphans become roots
    only because their parent_id is NULL, :906).
    """
    _lift_row_limit(nodes)
    return nodes.sparkSession.sql(
        f"""
        WITH RECURSIVE tree MAX RECURSION LEVEL {MAX_DEPTH + 1} AS (
            SELECT `{id_col}`, `{parent_col}`, `{name_col}`,
                   0 AS depth, CAST(`{name_col}` AS STRING) AS path
            FROM {{nodes}} WHERE `{parent_col}` IS NULL
            UNION ALL
            SELECT c.`{id_col}`, c.`{parent_col}`, c.`{name_col}`,
                   t.depth + 1, CONCAT(t.path, '{SEPARATOR}', c.`{name_col}`)
            FROM {{nodes}} c JOIN tree t ON c.`{parent_col}` = t.`{id_col}`
        )
        SELECT * FROM tree ORDER BY path
        """,
        nodes=nodes,
    )


def ancestor_closure(nodes: DataFrame, id_col: str, parent_col: str) -> DataFrame:
    """(node_id, ancestor_id, distance) for every ancestor INCLUDING the
    node itself at distance 0 — the join fabric for subtree rollups
    (aggregate a measure over every node's whole subtree in ONE grouped
    aggregation instead of a per-node walk).

    The recursion climbs one parent per level: O(N) rows per level, so
    the closure is O(N·depth) total — linear, not quadratic, because trees
    have one parent per node. A cycle never exhausts and hits the depth
    guard."""
    _lift_row_limit(nodes)
    return nodes.sparkSession.sql(
        f"""
        WITH RECURSIVE anc MAX RECURSION LEVEL {MAX_DEPTH + 1} AS (
            SELECT `{id_col}` AS node_id, `{id_col}` AS ancestor_id, 0 AS distance
            FROM {{nodes}}
            UNION ALL
            SELECT a.node_id, n.`{parent_col}`, a.distance + 1
            FROM anc a JOIN {{nodes}} n ON a.ancestor_id = n.`{id_col}`
            WHERE n.`{parent_col}` IS NOT NULL
        )
        SELECT * FROM anc
        """,
        nodes=nodes,
    )


def hierarchy_closure_doubling(
    nodes: DataFrame, id_col: str, parent_col: str, name_col: str
) -> DataFrame:
    """`hierarchy_closure` in O(log depth) rounds via pointer doubling —
    the deep-tree scale path.

    The recursive walk costs one join ROUND PER LEVEL: fine for the
    reference's shallow folder trees, but a 10k-deep path-shaped
    hierarchy means 10k sequential iterations (~0.4-0.75 s of fixed
    overhead each, measured ⇒ hours of wall clock regardless of cluster
    size; SCALING.md). Pointer doubling keeps, per
    node, its 2^k-th ancestor plus the name path covering that span, and
    composes the state with ITSELF each round — ceil(log2 depth) rounds
    total (14 for a 10k chain), each an O(N) self-join keyed on the
    ancestor pointer.

    Output contract is identical to `hierarchy_closure` (same oracle):
    roots at depth 0, orphan subtrees dropped. Stricter on cycles: a
    parent-pointer cycle can never terminate, so it RAISES after
    ceil(log2(DOUBLING_MAX_DEPTH)) rounds (the recursive walk silently
    drops cycles because they are unreachable from any root; here they
    are detectable for free, and a loud failure beats silent row loss).
    """
    base = nodes.select(
        F.col(id_col).alias("_nid"),
        F.col(parent_col).alias("_pid"),
        F.col(name_col).alias("_name"),
    )
    roots = base.filter(F.col("_pid").isNull())
    root_out = roots.select(
        "_nid", "_pid", "_name", F.lit(0).alias("depth"), F.col("_name").alias("path")
    )

    # resolved: nodes whose absolute (depth, path) is known — seeds with
    # the roots, grows as chains land. state: node → its (_dist)-th
    # ancestor `_up`, with `_seg` = the name path strictly below `_up`
    # down to the node itself.
    resolved = root_out.select("_nid", "depth", "path").localCheckpoint(eager=True)
    state = (
        base.filter(F.col("_pid").isNotNull())
        .select(
            "_nid",
            F.col("_pid").alias("_up"),
            F.lit(1).alias("_dist"),
            F.col("_name").alias("_seg"),
            "_pid",
            "_name",
        )
        .localCheckpoint(eager=True)
    )

    finished: list[DataFrame] = [root_out]
    rounds = max(1, (DOUBLING_MAX_DEPTH - 1).bit_length())
    for _ in range(rounds + 1):
        res_side = resolved.select(
            F.col("_nid").alias("_rn"),
            F.col("depth").alias("_rdepth"),
            F.col("path").alias("_rpath"),
        )
        up_side = state.select(
            F.col("_nid").alias("_n2"),
            F.col("_up").alias("_up2"),
            F.col("_dist").alias("_dist2"),
            F.col("_seg").alias("_seg2"),
        )
        j = state.join(res_side, state["_up"] == res_side["_rn"], "left").join(
            up_side, state["_up"] == up_side["_n2"], "left"
        )
        # up already resolved → this node's absolute position is known
        fin = (
            j.filter(F.col("_rn").isNotNull())
            .select(
                "_nid",
                "_pid",
                "_name",
                (F.col("_rdepth") + F.col("_dist")).alias("depth"),
                F.concat(F.col("_rpath"), F.lit(SEPARATOR), F.col("_seg")).alias("path"),
            )
            .localCheckpoint(eager=True)
        )
        finished.append(fin)
        resolved = resolved.unionByName(fin.select("_nid", "depth", "path")).localCheckpoint(
            eager=True
        )
        # up still mid-climb → compose the two half-paths (the doubling
        # step). up in NEITHER table → missing parent: the whole orphan
        # chain drains out round by round, matching the recursive walk.
        state = (
            j.filter(F.col("_rn").isNull() & F.col("_n2").isNotNull())
            .select(
                "_nid",
                F.col("_up2").alias("_up"),
                (F.col("_dist") + F.col("_dist2")).alias("_dist"),
                F.concat(F.col("_seg2"), F.lit(SEPARATOR), F.col("_seg")).alias("_seg"),
                "_pid",
                "_name",
            )
            .localCheckpoint(eager=True)
        )
        if state.isEmpty():
            break
    else:
        raise RuntimeError(
            f"hierarchy_closure_doubling did not converge within "
            f"ceil(log2({DOUBLING_MAX_DEPTH})) rounds — cycle, or a deeper tree"
        )

    result = finished[0]
    for fin in finished[1:]:
        result = result.unionByName(fin)
    return result.select(
        F.col("_nid").alias(id_col),
        F.col("_pid").alias(parent_col),
        F.col("_name").alias(name_col),
        "depth",
        "path",
    ).orderBy("path")
