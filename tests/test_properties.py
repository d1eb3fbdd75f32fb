"""Property-based tests (hypothesis) for the reference-semantics scalar
functions and operator invariants — SURVEY.md §5's strengthening of the
reference's nonexistent test suite."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.functions.paths import sanitize_view_name
from shuttlestandalonedbcreator_spark.operators import hierarchy as H
from shuttlestandalonedbcreator_spark.operators.hierarchy import (
    ancestor_closure,
    hierarchy_closure,
    hierarchy_closure_doubling,
)

# path-ish strings: slashes, empty segments, unicode, spaces
path_chars = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    max_size=30,
)


@st.composite
def paths(draw):
    segs = draw(st.lists(st.text(alphabet="abXY 7.", min_size=0, max_size=5), max_size=5))
    lead = draw(st.booleans())
    return ("/" if lead else "") + "/".join(segs)


@pytest.fixture(scope="module")
def path_eval(spark):
    from shuttlestandalonedbcreator_spark.functions.paths import parent_folder, path_level

    def run(values):
        df = spark.createDataFrame([(v,) for v in values], "v string")
        return df.select(
            path_level(F.col("v")).alias("level"),
            parent_folder(F.col("v")).alias("parent"),
        ).collect()

    return run


@settings(max_examples=30, deadline=None)
@given(st.lists(paths(), min_size=1, max_size=20))
def test_path_invariants(path_eval, values):
    """Reference invariants (SQLiteDirectImporter.java:954-982):
    - level 0 iff blank; level >= 1 otherwise
    - parent is NULL iff level <= 1 or last '/' at position 0
    - when parent is set, it is a strict prefix of the path up to a '/'
    """
    rows = path_eval(values)
    for v, row in zip(values, rows):
        stripped_blank = v is None or v.strip() == ""
        if stripped_blank:
            assert row["level"] == 0 and row["parent"] is None
            continue
        assert row["level"] >= 1
        if row["level"] <= 1 or v.rfind("/") <= 0:
            assert row["parent"] is None
        else:
            assert row["parent"] == v[: v.rfind("/")]
            assert v.startswith(row["parent"] + "/")


_JAVA_PIPELINE = re.compile(r"[^a-z0-9_]")


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=40))
def test_sanitize_matches_java_semantics(s):
    """Pure-Python check against an independent restatement of the Java
    pipeline (:921-930): lowercase → replace → collapse → strip ONE edge
    underscore each side; blank input short-circuits to 'unknown'."""
    got = sanitize_view_name(s)
    if s.strip() == "":
        assert got == "unknown"
        return
    expect = _JAVA_PIPELINE.sub("_", s.lower())
    expect = re.sub(r"_+", "_", expect)
    expect = re.sub(r"^_|_$", "", expect)
    assert got == expect
    assert got == "" or re.fullmatch(r"[a-z0-9_]+", got)


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Random graphs vs an independent pure-Python union-find: every node's
    component label must be the minimum id reachable from it."""
    from unittest import mock

    from shuttlestandalonedbcreator_spark.operators import graph

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent[find(u)] = find(v)
    nodes = {n for e in edges for n in e}
    roots: dict[int, int] = {}
    for n in nodes:
        r = find(n)
        roots[r] = min(roots.get(r, n), n)
    expect = {n: roots[find(n)] for n in nodes}

    # the distributed propagation; Hypothesis rejects function-scoped
    # fixtures, so the driver gate is patched without monkeypatch
    df = spark.createDataFrame(edges, "a long, b long")
    with mock.patch.object(graph, "DRIVER_EDGES", 0):
        got = {
            r["id"]: r["component"]
            for r in graph.connected_components(df, "a", "b").collect()
        }
    assert got == expect


def test_hierarchy_loop_equals_native_cte(spark):
    """Spark 4's WITH RECURSIVE walk must equal DuckDB's WITH RECURSIVE
    (the house oracle) on a ragged multi-root forest with an orphan
    subtree."""
    import duckdb

    rows = [
        ("r1", None, "R1"),
        ("r2", None, "R2"),
        ("a", "r1", "A"),
        ("b", "a", "B"),
        ("c", "b", "C"),
        ("d", "r2", "D"),
        ("orphan", "missing", "O"),  # parent absent: unreachable
        ("below_orphan", "orphan", "BO"),
    ]
    nodes = spark.createDataFrame(rows, "node_id string, parent_id string, name string")
    con = duckdb.connect()
    con.execute("CREATE TABLE nodes (node_id VARCHAR, parent_id VARCHAR, name VARCHAR)")
    con.executemany("INSERT INTO nodes VALUES (?, ?, ?)", rows)
    oracle = con.execute(
        """
        WITH RECURSIVE tree AS (
            SELECT node_id, parent_id, name, 0 AS depth, name AS path
            FROM nodes WHERE parent_id IS NULL
            UNION ALL
            SELECT c.node_id, c.parent_id, c.name, t.depth + 1,
                   t.path || ' > ' || c.name
            FROM nodes c JOIN tree t ON c.parent_id = t.node_id
        )
        SELECT * FROM tree
        """
    ).fetchall()
    got = hierarchy_closure(nodes, "node_id", "parent_id", "name").collect()
    assert sorted(tuple(r) for r in got) == sorted(oracle)
    assert [r["path"] for r in got] == sorted(r["path"] for r in got)  # ORDER BY path
    assert not any(r["node_id"] in ("orphan", "below_orphan") for r in got)


def test_hierarchy_doubling_matches_loop_on_random_forest(spark):
    """Pointer-doubling closure ≡ the recursive walk on a random ragged
    forest with multiple roots and orphan chains (nodes whose parents are
    missing — dropped by both, including their descendants)."""
    import random

    random.seed(23)
    rows = []
    for i in range(150):
        if i < 4:
            rows.append((str(i), None, f"n{i}"))
        elif i < 140:
            rows.append((str(i), str(random.randrange(0, i)), f"n{i}"))
        else:
            rows.append((str(i), f"missing{i}", f"n{i}"))  # orphan roots
    # descendants of orphans must drain out too
    rows.append(("deep_orphan", "140", "DO"))
    nodes = spark.createDataFrame(rows, "id string, parent string, name string")
    walk = hierarchy_closure(nodes, "id", "parent", "name")
    dbl = hierarchy_closure_doubling(nodes, "id", "parent", "name")
    canon = lambda df: sorted(tuple(r) for r in df.collect())
    a, b = canon(walk), canon(dbl)
    assert a == b
    assert not any(r[0] in ("140", "deep_orphan") for r in a)


def _chain(spark, depth):
    """Path-shaped tree n0 > n1 > ... > n{depth}, built JVM-side: each
    recursion level rescans its input, and a createDataFrame list would
    start Python workers on every scan."""
    return spark.range(depth + 1).select(
        F.col("id").cast("string").alias("id"),
        F.when(F.col("id") > 0, (F.col("id") - 1).cast("string")).alias("parent"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )


def test_hierarchy_deep_path_guard_raises_not_truncates(spark, monkeypatch):
    """A path-shaped tree one level deeper than MAX_DEPTH must RAISE
    (never silently return a truncated closure), while a tree of depth
    EXACTLY MAX_DEPTH completes — for both recursive walks."""
    monkeypatch.setattr(H, "MAX_DEPTH", 12)
    ok = hierarchy_closure(_chain(spark, 12), "id", "parent", "name")
    assert ok.count() == 13 and ok.agg({"depth": "max"}).first()[0] == 12
    anc = ancestor_closure(_chain(spark, 12), "id", "parent")
    assert anc.count() == 13 * 14 // 2 and anc.agg({"distance": "max"}).first()[0] == 12
    with pytest.raises(Exception, match="RECURSION_LEVEL_LIMIT_EXCEEDED"):
        hierarchy_closure(_chain(spark, 13), "id", "parent", "name").count()
    with pytest.raises(Exception, match="RECURSION_LEVEL_LIMIT_EXCEEDED"):
        ancestor_closure(_chain(spark, 13), "id", "parent").count()


def test_hierarchy_walks_ignore_lowered_cte_row_limit(spark, sf_small):
    """Spark caps a recursive CTE at spark.sql.cteRecursionRowLimit rows
    (1,000,000 by default, read at execution), so an unpinned walk fails
    on any tree past ~1M nodes. With the limit lowered to 100, both walks
    on a 500-child star and both catalog entries built on them must still
    return every row."""
    from shuttlestandalonedbcreator_spark.queries import CATALOG

    key = "spark.sql.cteRecursionRowLimit"
    before = spark.conf.get(key, None)
    star = spark.range(501).select(
        F.col("id").cast("string").alias("id"),
        F.when(F.col("id") == 0, F.lit(None)).otherwise(F.lit("0")).alias("parent"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )
    try:
        spark.conf.set(key, "100")
        assert hierarchy_closure(star, "id", "parent", "name").count() == 501
        spark.conf.set(key, "100")
        assert ancestor_closure(star, "id", "parent").count() == 501 + 500
        for entry in ("hierarchy_closure", "subtree_rollup"):
            spark.conf.set(key, "100")
            assert CATALOG[entry].spark(spark, sf_small).count() > 100
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_hierarchy_doubling_star_and_deep_chain(spark, monkeypatch):
    """The two skew shapes from the scale review: a 50k-child star
    completes in O(1) rounds; a 300-deep path completes in O(log depth)
    rounds (the recursive walk would need 300); a cycle raises instead of
    looping or silently dropping rows."""
    star = spark.range(50_001).select(
        F.col("id").cast("string").alias("id"),
        F.when(F.col("id") == 0, F.lit(None)).otherwise(F.lit("0")).alias("parent"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
    )
    out = hierarchy_closure_doubling(star, "id", "parent", "name")
    assert out.count() == 50_001
    assert out.agg({"depth": "max"}).first()[0] == 1

    deep = hierarchy_closure_doubling(_chain(spark, 300), "id", "parent", "name")
    assert deep.count() == 301
    last = deep.filter(F.col("depth") == 300).first()
    assert last["path"].startswith("n0 > n1 > ") and last["path"].endswith("> n300")

    cyc = spark.createDataFrame(
        [("a", "b", "A"), ("b", "a", "B"), ("r", None, "R")],
        "id string, parent string, name string",
    )
    monkeypatch.setattr(H, "DOUBLING_MAX_DEPTH", 16)
    with pytest.raises(RuntimeError, match="converge"):
        hierarchy_closure_doubling(cyc, "id", "parent", "name").count()


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=8),
    st.integers(min_value=1, max_value=10),
    st.integers(min_value=1, max_value=10),
)
def test_chunk_tokens_coverage_invariants(spark, doc_lens, size, stride):
    if stride > size:
        stride = size  # operator rejects stride > size (skips tokens)
    """For any doc lengths and any (size, stride): every token lands in
    >=1 chunk, chunk 0 starts at token 0, consecutive chunks overlap by
    exactly size-stride tokens (when both full), and the chunk count
    matches 1 + ceil(max(n-size,0)/stride)."""
    import math

    from shuttlestandalonedbcreator_spark.operators.sampling import chunk_tokens

    rows = [(i, [f"w{i}_{j}" for j in range(n)]) for i, n in enumerate(doc_lens)]
    df = spark.createDataFrame(rows, "id long, toks array<string>")
    out = chunk_tokens(df, "id", "toks", size=size, stride=stride).collect()
    by_id: dict[int, list] = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(r)
    for i, n in enumerate(doc_lens):
        chunks = sorted(by_id.get(i, []), key=lambda r: r["chunk_idx"])
        if n == 0:
            assert chunks == []
            continue
        want = 1 + math.ceil(max(n - size, 0) / stride)
        assert len(chunks) == want
        assert [c["chunk_idx"] for c in chunks] == list(range(want))
        assert chunks[0]["chunk"][0] == f"w{i}_0"
        covered = {t for c in chunks for t in c["chunk"]}
        assert covered == {f"w{i}_{j}" for j in range(n)}
        for a, b in zip(chunks, chunks[1:]):
            if len(a["chunk"]) == size:
                assert a["chunk"][stride:] == b["chunk"][: size - stride]


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet="abc ._%+-@0123456789\n",
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_scrub_pii_idempotent_and_clean(spark, texts):
    """Scrubbing is idempotent (replacement tokens never create new
    matches) and a scrubbed text carries zero detectable PII — on
    arbitrary '@'/digit/punctuation soup, not just the injected fixtures."""
    from shuttlestandalonedbcreator_spark.functions.text import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
        pii_count,
        scrub_pii,
    )

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    once = scrub_pii(F.col("t"))
    rows = df.select(
        once.alias("once"),
        scrub_pii(once).alias("twice"),
        pii_count(once, PII_EMAIL_RE).alias("e"),
        pii_count(once, PII_PHONE_RE).alias("p"),
        pii_count(once, PII_IPV4_RE).alias("i"),
    ).collect()
    for r in rows:
        assert r["once"] == r["twice"]
        assert (r["e"], r["p"], r["i"]) == (0, 0, 0)


def test_quantization_error_bound(spark, sf_small):
    """Semantic pin for embedding_quantization (cross-engine parity can't
    catch a symmetrically wrong formula): symmetric int8 rounding error
    is bounded by scale/2 per component, and the max quantized magnitude
    is exactly 127 (the scale is derived from the max-abs component)."""
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.queries import CATALOG

    rows = CATALOG["embedding_quantization"].spark(spark, sf_small).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-6, r
        assert r["mean_abs_err"] <= r["max_abs_err"] + 1e-9


def test_containment_dominates_jaccard(spark, sf_small):
    """For every pair, containment >= jaccard (|A∩B|/min >= |A∩B|/|A∪B|)
    and containment <= 1 — the semantic relationship between the two
    detectors, pinned independently of the oracle."""
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )
    from shuttlestandalonedbcreator_spark.sources.registry import load_table

    docs = load_table(spark, sf_small, "documents")
    jac = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    con = containment_pairs(docs, "doc_id", "text", n=3, threshold=0.0)
    joined = jac.join(
        con,
        (
            (jac["id_a"] == con["contained_id"]) & (jac["id_b"] == con["container_id"])
        )
        | (
            (jac["id_a"] == con["container_id"]) & (jac["id_b"] == con["contained_id"])
        ),
    ).select("jaccard", "containment")
    got = joined.collect()
    assert len(got) == jac.count()  # every jaccard pair has a containment row
    for r in got:
        assert r["jaccard"] - 1e-9 <= r["containment"] <= 1.0 + 1e-9, r


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=6),    # key
        st.sampled_from(["U", "D"]),              # op
        st.integers(min_value=0, max_value=9),    # version
        st.text(alphabet="abc", min_size=1, max_size=3),
    ),
    min_size=0,
    max_size=8,
))
def test_merge_upsert_matches_dict_model(spark, tmp_path_factory, batch):
    """Model-based MERGE check: applying one CDC batch via merge_upsert
    must agree with a trivial dict replay. Semantics: every row —
    deletes included — competes per key by (ver desc, batch-beats-base,
    upsert-beats-delete-at-exact-tie); a winning D removes the key, a
    STALE delete (ver lower than the live row) is a no-op."""
    from shuttlestandalonedbcreator_spark.plans.merge import merge_upsert

    base_rows = [(1, "base1", 5), (2, "base2", 5), (3, "base3", 5)]
    tmp = tmp_path_factory.mktemp("merge_model")
    path = str(tmp / "tbl")
    spark.createDataFrame(base_rows, "k long, v string, ver long").write.parquet(path)

    # dict model. Within the batch itself the same key twice would need
    # a (ver, op) tiebreak the window defines but the model needn't —
    # keep batch keys unique per draw to keep the model unambiguous.
    seen = set()
    uniq = []
    for k, op, ver, v in batch:
        if k not in seen:
            seen.add(k)
            uniq.append((k, op, ver, v))
    base = {r[0]: (r[1], r[2]) for r in base_rows}
    model = dict(base)
    for k, op, ver, v in uniq:
        cur = base.get(k)
        # candidate ranking key: (ver, src, op=='U'); batch src=1 > base
        if cur is not None and (cur[1], 0, 1) > (ver, 1, op == "U"):
            continue  # base row outranks the change (stale change)
        if op == "D":
            model.pop(k, None)
        else:
            model[k] = (v, ver)

    updates = spark.createDataFrame(
        [(k, v, ver, op) for k, op, ver, v in uniq],
        "k long, v string, ver long, op string",
    )
    merge_upsert(spark, path, updates, keys=["k"], order_col="ver", op_col="op")
    got = {r["k"]: (r["v"], r["ver"]) for r in spark.read.parquet(path).collect()}
    assert got == model


def test_merge_upsert_out_of_order_deletes(spark, tmp_path_factory):
    """Pin the ADVICE-flagged CDC ordering cases in one batch:
    (a) delete beaten by a strictly-higher-order upsert on the same key,
    (b) stale delete (order below the base row) is a no-op,
    (c) fresh delete (order above the base row) removes the key,
    (d) same-order upsert+delete tie goes to the upsert."""
    from shuttlestandalonedbcreator_spark.plans.merge import merge_upsert

    tmp = tmp_path_factory.mktemp("merge_ooo")
    path = str(tmp / "tbl")
    spark.createDataFrame(
        [(1, "b1", 5), (2, "b2", 5), (3, "b3", 5), (4, "b4", 5)],
        "k long, v string, ver long",
    ).write.parquet(path)

    updates = spark.createDataFrame(
        [
            (1, "del", 6, "D"), (1, "new", 7, "U"),   # (a) upsert outranks delete
            (2, "del", 3, "D"),                        # (b) stale delete: no-op
            (3, "del", 9, "D"),                        # (c) fresh delete wins
            (4, "del", 6, "D"), (4, "tie", 6, "U"),   # (d) tie -> upsert
        ],
        "k long, v string, ver long, op string",
    )
    n = merge_upsert(spark, path, updates, keys=["k"], order_col="ver", op_col="op")
    got = {r["k"]: (r["v"], r["ver"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("new", 7), 2: ("b2", 5), 4: ("tie", 6)}
    assert n == 3


def test_proration_sums_exactly(spark, sf_small):
    """Semantic pin for proration_allocate (parity can't catch a formula
    that's symmetrically wrong on both engines): per order, the integer
    allocations must sum EXACTLY to the order total in cents — the
    invariant naive per-line rounding violates — and every allocation is
    within 1 cent of its unrounded proportional share."""
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.queries import CATALOG, _t

    alloc = CATALOG["proration_allocate"].spark(spark, sf_small)
    totals = alloc.groupBy("l_orderkey").agg(
        F.sum("alloc_cents").alias("allocated")
    )
    orders = _t(spark, sf_small, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("T"),
    )
    # only orders that have line items get allocations
    joined = totals.join(orders, "l_orderkey")
    bad = joined.filter(F.col("allocated") != F.col("T")).count()
    assert bad == 0
    assert joined.count() > 0


def test_pagerank_mass_and_floor(spark, sf_small):
    """Semantic pin for pagerank_fixed: total rank mass stays within the
    deterministic floor-leak of SCALE (each of 3 rounds can leak < 1
    unit per node from the two integer divs plus the damping floor), and
    every node's rank is at least the teleport floor (15·SCALE/100N) —
    the invariants a symmetrically wrong update rule would break."""
    from shuttlestandalonedbcreator_spark.queries import CATALOG

    rows = CATALOG["pagerank_fixed"].spark(spark, sf_small).collect()
    n = len(rows)
    assert n > 0
    scale = 1_000_000_000_000
    total = sum(r["rank_scaled"] for r in rows)
    assert total <= scale
    # per round each node floors away < outdeg units (contribution divs)
    # + 2 units (damping divs); the graph is co-purchase sparse, so a
    # generous global bound is 3 rounds x n x (max_outdeg + 2). Use the
    # loosest structural bound that still catches a lost node: 1% mass.
    assert total >= scale * 0.99
    floor = (15 * scale) // (100 * n)
    assert all(r["rank_scaled"] >= floor for r in rows)


def test_record_linkage_finds_every_mirror_once(spark, sf_small):
    """Semantic pin for record_linkage: the injected perturbation is
    designed to survive blocking (digits untouched), so every mirror
    must link back to exactly its source customer — found-rate 100%,
    no false pairs."""
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.queries import CATALOG, _t

    got = CATALOG["record_linkage"].spark(spark, sf_small).collect()
    n_mirrors = (
        _t(spark, sf_small, "customer").filter(F.col("c_custkey") % 7 == 0).count()
    )
    assert len(got) == n_mirrors > 0
    for r in got:
        assert r["dup_id"] - (1 << 40) == r["base_id"]
        assert r["edit_dist"] == 2


def test_stratified_split_exact_counts(spark, sf_small):
    """Semantic pin for stratified_split_exact: the GLOBAL train count
    is exactly floor(0.8*N) (the property the plain hash split only has
    in expectation), every stratum's train count is floor(0.8*n) or one
    more, and assignment within a stratum is the md5-rank prefix (so
    it is deterministic and growth-stable)."""
    from shuttlestandalonedbcreator_spark.queries import CATALOG

    rows = CATALOG["stratified_split_exact"].spark(spark, sf_small).collect()
    n_total = len(rows)
    train = [r for r in rows if r["split"] == "train"]
    assert len(train) == n_total * 80 // 100
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        k = sum(1 for r in rs if r["split"] == "train")
        base = len(rs) * 80 // 100
        assert k in (base, base + 1), (lang, k, base)
