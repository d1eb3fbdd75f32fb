"""Physical-plan quality gates — the scale properties the engine promises
(pushdown, pruning, broadcast, partial aggregation, shuffle-free narrow
ops) asserted on the actual executed plans so they can't silently regress.
"""

from __future__ import annotations

import pytest

from shuttlestandalonedbcreator_spark.queries import CATALOG


def plan_of(spark, sf_small, name: str) -> str:
    return (
        CATALOG[name]
        .spark(spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


@pytest.fixture(scope="module")
def catalog_plans(spark, sf_small) -> dict[str, str]:
    """Executed-plan text of every catalog entry, built once for the
    whole-catalog gates below (planning all entries costs ~40 s)."""
    return {name: plan_of(spark, sf_small, name) for name in CATALOG}


def test_filter_pushdown_reaches_scan(spark, sf_small):
    plan = plan_of(spark, sf_small, "files_filter")
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in plan


def test_column_pruning(spark, sf_small):
    plan = plan_of(spark, sf_small, "files_filter")
    # 3-column projection must reach the parquet reader, not post-scan
    assert "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>" in plan


def test_date_range_pushdown(spark, sf_small):
    plan = plan_of(spark, sf_small, "orders_by_month")
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_lookup_join_broadcasts(spark, sf_small):
    plan = plan_of(spark, sf_small, "broadcast_lookup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_top_k_avoids_global_sort(spark, sf_small):
    plan = plan_of(spark, sf_small, "top_k")
    assert "TakeOrderedAndProject" in plan


def test_aggregation_is_partial_then_final(spark, sf_small):
    plan = plan_of(spark, sf_small, "pricing_summary")
    # map-side partial agg before the shuffle, final after
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_simhash_is_shuffle_free(spark, sf_small):
    plan = plan_of(spark, sf_small, "simhash")
    for marker in ("Exchange hashpartitioning", "Exchange rangepartitioning"):
        # the only exchange allowed is the fan_out round-robin repartition
        assert marker not in plan


@pytest.mark.parametrize("name", ["hierarchy_closure", "subtree_rollup"])
def test_hierarchy_uses_native_recursion(spark, sf_small, name):
    plan = plan_of(spark, sf_small, name)
    assert "UnionLoop" in plan


@pytest.mark.parametrize("name", ["status_summary", "grouped_count", "count_distinct"])
def test_aggregations_have_no_cartesian(spark, sf_small, name):
    plan = plan_of(spark, sf_small, name)
    assert "CartesianProduct" not in plan


def test_revenue_join_has_no_distinct_expand(spark, sf_small):
    # n_orders comes from pre-aggregation on the join key, NOT from a
    # COUNT(DISTINCT) Expand + second wide shuffle
    plan = plan_of(spark, sf_small, "join_agg_revenue")
    assert "Expand" not in plan
    assert "BroadcastHashJoin" in plan  # customer dim broadcasts


def test_gapfill_joins_broadcast(spark, sf_small):
    # both the spine cross join and the fact left join stay broadcast —
    # nothing in this query may shuffle-join
    plan = plan_of(spark, sf_small, "gapfill_hourly")
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_incremental_index_join_is_keyed(spark, sf_small):
    # batch-vs-index candidates must meet on (band, bucket) equi keys —
    # never a cartesian / nested-loop pass over the corpus index
    plan = plan_of(spark, sf_small, "incremental_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semi_join_filters_probe_before_join(spark, sf_small):
    # EXISTS must become a LeftSemi whose probe side pushes the discount
    # predicate to the scan and ships ONLY the join key
    plan = plan_of(spark, sf_small, "semi_join_exists")
    assert "LeftSemi" in plan
    assert "GreaterThan(l_discount,0.05)" in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_discount:double>" in plan


def test_anti_join_filters_build_before_join(spark, sf_small):
    # NOT EXISTS → LeftAnti; the 400k filter must run under the join so
    # the build relation holds only qualifying keys
    plan = plan_of(spark, sf_small, "anti_join_orphans")
    assert "LeftAnti" in plan
    assert "GreaterThan(o_totalprice,400000.0)" in plan
    assert "ReadSchema: struct<o_custkey:bigint,o_totalprice:double>" in plan


def test_cube_is_one_expand_one_aggregate(spark, sf_small):
    # CUBE = Expand (4 grouping sets) + partial/final hash agg; exactly
    # one shuffle, and only the two grouping columns leave the scan
    plan = plan_of(spark, sf_small, "cube_counts")
    assert "Expand" in plan
    assert "partial_count" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "ReadSchema: struct<o_orderstatus:string,o_orderpriority:string>" in plan


def test_histogram_reads_one_column(spark, sf_small):
    plan = plan_of(spark, sf_small, "histogram_price")
    assert "ReadSchema: struct<l_extendedprice:double>" in plan
    assert "partial_count" in plan  # map-side combine before the shuffle


def test_column_profile_is_two_bounded_scans(spark, sf_small):
    # profiling six columns costs exactly TWO passes (never one per
    # column): the Expand/distinct pass with hash-aggregable buffers,
    # plus a string-min/max pass pruned to just the two string columns
    # (var-width buffers would force a SortAggregate over the Expand)
    plan = plan_of(spark, sf_small, "column_profile")
    assert plan.count("FileScan parquet") == 2
    assert "ReadSchema: struct<o_orderstatus:string,o_orderpriority:string>" in plan


def test_vocab_topn_is_take_ordered(spark, sf_small):
    # the top-N vocabulary cut must be TakeOrderedAndProject (bounded),
    # never a global Sort of the full token-count table; the corpus
    # total comes from a narrow scan, not a second token shuffle
    plan = plan_of(spark, sf_small, "vocab_build")
    assert "TakeOrderedAndProject(limit=100" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # one token shuffle


def test_zscore_moments_broadcast_back(spark, sf_small):
    # the per-type moment table must broadcast; the fact table is never
    # shuffle-joined, and the moment pass reads only (event_type, value)
    plan = plan_of(spark, sf_small, "zscore_outliers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ReadSchema: struct<event_type:string,value:double>" in plan


def test_normalize_text_is_narrow_codegen(spark, sf_small):
    # pure per-row projection: no exchange at all, fused into a single
    # whole-stage-codegen span over the scan ("*(1)" marks the span in
    # executedPlan().toString())
    plan = plan_of(spark, sf_small, "normalize_text")
    assert "Exchange" not in plan
    assert "*(1) Project" in plan


def test_funnel_is_aggregation_only(spark, sf_small):
    # stage timestamps come from conditional MIN aggregates — the event
    # stream is never self-joined
    plan = plan_of(spark, sf_small, "funnel_conversion")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # one user_id shuffle


def test_retention_cohort_map_broadcasts(spark, sf_small):
    plan = plan_of(spark, sf_small, "retention_cohorts")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_locf_grid_joins_broadcast(spark, sf_small):
    # same contract as gapfill_hourly: the spine/rollup joins stay
    # broadcast, and LOCF is a single bounded-state window per series
    plan = plan_of(spark, sf_small, "gapfill_locf")
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "Window" in plan


def test_q5_join_prunes_and_pushes(spark, sf_small):
    # 6-table Q5 shape: key-only columns leave customer/supplier, the
    # lineitem scan reads just 4 columns, the order-year and region
    # predicates reach their scans, and nothing goes cartesian (the
    # c_nationkey = s_nationkey filter folds into the supplier join key)
    plan = plan_of(spark, sf_small, "local_supplier_revenue")
    assert "ReadSchema: struct<c_custkey:bigint,c_nationkey:int>" in plan
    assert "ReadSchema: struct<s_suppkey:bigint,s_nationkey:int>" in plan
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint,"
        "l_extendedprice:double,l_discount:double>" in plan
    )
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "EqualTo(r_name,ASIA)" in plan
    assert "CartesianProduct" not in plan


def test_pandas_udaf_is_arrow_grouped_agg(spark, sf_small):
    # the UDAF must run as an Arrow-batched grouped aggregate (one batch
    # per group), with the scan pruned to the three referenced columns
    plan = plan_of(spark, sf_small, "pandas_udaf_weighted")
    assert "ArrowAggregatePython" in plan or "AggregateInPandas" in plan
    assert (
        "ReadSchema: struct<l_linenumber:int,l_quantity:double,"
        "l_returnflag:string>" in plan
    )


def test_shipping_priority_topk_and_pushdown(spark, sf_small):
    # Q3: both date predicates reach their scans, the segment filter
    # reaches customer, customer broadcasts, and the final top-10 plans
    # as TakeOrderedAndProject (no global sort materializes)
    plan = plan_of(spark, sf_small, "shipping_priority")
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_doc_chunking_is_narrow(spark, sf_small):
    # chunking is per-row slicing — no exchange anywhere in the plan
    plan = plan_of(spark, sf_small, "doc_chunking")
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_grouping_sets_one_expand_one_shuffle(spark, sf_small):
    # all three grouping sets evaluate in a single Expand + one exchange
    plan = plan_of(spark, sf_small, "grouping_sets")
    assert plan.count("Expand") >= 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_canonical_pick_single_aggregate(spark, sf_small):
    # argmax is ONE hash aggregate (partial+final) — no window, no join
    plan = plan_of(spark, sf_small, "canonical_pick")
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_embedding_centroids_broadcast_back(spark, sf_small):
    # the labels×dims centroid table broadcasts back onto the corpus
    plan = plan_of(spark, sf_small, "embedding_centroids")
    assert "BroadcastHashJoin" in plan


def test_promo_share_pushdown_and_broadcast(spark, sf_small):
    # Q14: both shipdate bounds reach the lineitem scan; part broadcasts
    plan = plan_of(spark, sf_small, "promo_revenue_share")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sole_late_supplier_decorrelated(spark, sf_small):
    # Q21: decorrelation means NO nested-loop / cartesian anywhere; the
    # supplier dim broadcasts and the top-20 is TakeOrderedAndProject
    plan = plan_of(spark, sf_small, "sole_late_supplier")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_disjunctive_revenue_residual_pushdown(spark, sf_small):
    # Q19: the branch-common quantity bounds reach the lineitem scan even
    # though each branch carries its own tighter range
    plan = plan_of(spark, sf_small, "disjunctive_revenue")
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "LessThanOrEqual(l_quantity,40.0)" in plan
    assert "BroadcastHashJoin" in plan


def test_dormant_customers_anti_join_filtered_build(spark, sf_small):
    # Q22: the anti join build side is date-filtered BEFORE the join and
    # the date predicate reaches the orders scan
    plan = plan_of(spark, sf_small, "dormant_rich_customers")
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_mixture_sample_broadcasts_rates(spark, sf_small):
    # the per-stratum rate table broadcasts back onto the corpus
    plan = plan_of(spark, sf_small, "mixture_sample")
    assert "BroadcastHashJoin" in plan


def test_forecast_revenue_all_filters_pushed(spark, sf_small):
    # Q6: every predicate reaches the lineitem scan; no join at all.
    # plan_of's toString truncates long PushedFilters lists at 100 chars,
    # so capture the untruncated formatted explain instead
    import contextlib
    import io

    df = CATALOG["forecast_revenue"].spark(spark, sf_small)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, plan
    line = pushed[0]
    assert "GreaterThanOrEqual(l_shipdate" in line
    assert "LessThan(l_shipdate" in line
    assert "GreaterThanOrEqual(l_discount,0.05)" in line
    assert "LessThan(l_quantity,24.0)" in line
    assert "Join" not in plan


# Catalog queries whose plans legitimately contain a nested-loop join.
# Every entry is an intentional construct with a bounded side:
#   range_join_buckets      — inequality (band) join, tiny bucket table
#   column_profile          — 1-row stats frame joined to 1-row stats frame
#   embedding_topk          — broadcast query side × corpus (exact baseline)
#   embedding_ivf_topk      — n_probe cell-probe cross on a tiny probe set
#   embedding_ivf_contract  — same IVF cell-probe cross inside the
#                             contract audit (plus the exact-baseline
#                             broadcast query side)
#   nearest_centroid_assign — 8-row fixed-codebook cross fold (bounded
#                             broadcast, argmin pass)
#   (embedding_cosine_neardup's exact pair pass moved to the BLAS
#   mapInPandas kernel in r10 — no BNLJ planned any more, so no entry)
#   gapfill_hourly/locf     — generated time spine × type dimension (tiny)
#   tfidf_top_terms         — broadcast 1-row corpus-size aggregate
#   vocab_build             — broadcast 1-row corpus-total aggregate
#   mixture_sample          — broadcast 1-row weight-sum aggregate
#   dormant_rich_customers  — broadcast 1-row scalar threshold (Q22 shape)
#   important_parts         — broadcast 1-row global-total aggregate (Q11;
#                             inequality filter, so it stays nested-loop —
#                             the Q15 scalar-max equality by contrast is
#                             EXTRACTED into a BroadcastHashJoin key and
#                             needs no allowlisting)
#   unigram_surprisal       — broadcast 1-row corpus-total aggregate
#   bigram_perplexity       — broadcast 1-row vocab-size aggregate
#   dedup_cascade           — three 1-row funnel-counter cross joins
#   hard_negative_mining    — broadcast anchor set × corpus with a label-
#                             mismatch residual (exact baseline, same
#                             class as embedding_topk)
#   frequent_tokens         — broadcast 1-row token-total aggregate
#                             (threshold compare cnt*k > N)
#   cohens_kappa            — broadcast 1-row chance-term aggregate
#                             (Σ row_k·col_k joined to the totals row)
#   copurchase_lift         — broadcast 1-row basket-total aggregate
#                             (N in the lift denominator)
#   rfm_segmentation        — broadcast 1-row anchor-date aggregate
#   dup_graph_triangles     — two 1-row census cross joins (triangle +
#                             wedge totals over the checkpointed edges)
#   approx_topk_audit       — broadcast 1-row coverage-flag aggregate
#   revenue_concentration   — broadcast 1-row revenue-total aggregate
#   (sparse_cosine_topk has the same 1-row idf cross join, but it sits
#   below the weights localCheckpoint so the visible plan doesn't carry
#   the BNLJ — no allowlist entry needed)
#   dsir_importance         — broadcast 1-row corpus-totals aggregate
#                             (tgt_tot/raw_tot smoothing denominators)
#   perplexity_buckets      — broadcast 1-row vocab-size aggregate (the
#                             same vsize cross join as bigram_perplexity)
#   abtt_residual           — broadcast 1-row principal-direction frame
#                             (the power-iteration rounds hide behind
#                             checkpoints; the final residual pass's
#                             1-row cross fold stays visible)
#   cuped_adjustment        — broadcast 1-row corpus time-span frame
#                             (the midpoint every row compares against)
_NESTED_LOOP_ALLOWED = {
    "abtt_residual",
    "cuped_adjustment",
    "dsir_importance",
    "perplexity_buckets",
    "frequent_tokens",
    "cohens_kappa",
    "copurchase_lift",
    "dup_graph_triangles",
    "approx_topk_audit",
    "important_parts",
    "unigram_surprisal",
    "bigram_perplexity",
    "pmi_collocations",
    "pagerank_fixed",
    "token_burstiness",
    "bm25_topk",
    "dedup_cascade",
    "range_join_buckets",
    "column_profile",
    "embedding_topk",
    "hard_negative_mining",
    "embedding_ivf_topk",
    "embedding_ivf_contract",
    "nearest_centroid_assign",
    "gapfill_hourly",
    "gapfill_locf",
    "tfidf_top_terms",
    "vocab_build",
    "mixture_sample",
    "dormant_rich_customers",
}


def test_no_unlisted_cartesian_or_nested_loop_in_catalog(catalog_plans):
    """Full-catalog quadratic-join gate: a CartesianProduct anywhere, or a
    BroadcastNestedLoopJoin outside the documented allowlist, fails the
    suite — a new query can't silently ship an accidental cross join.
    Plans are built, not executed (join strategy is visible pre-AQE)."""
    offenders = {}
    for name, plan in catalog_plans.items():
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in _NESTED_LOOP_ALLOWED:
            offenders[name] = "BroadcastNestedLoopJoin (not allowlisted)"
    assert not offenders, offenders
    # the allowlist must not go stale: every listed query still plans a NL
    stale = {
        n
        for n in _NESTED_LOOP_ALLOWED
        if "BroadcastNestedLoopJoin" not in catalog_plans[n]
    }
    assert not stale, f"allowlist entries no longer nested-loop: {stale}"


def test_nation_share_window_after_aggregate(spark, sf_small):
    # the unpartitioned window must sit ABOVE the aggregate (25 rows),
    # with the fact table reduced by partial+final agg first
    plan = plan_of(spark, sf_small, "nation_revenue_share")
    agg_pos = plan.rindex("HashAggregate")
    win_pos = plan.index("Window")
    assert win_pos < agg_pos  # physical plan prints top-down
    assert plan.count("BroadcastHashJoin") == 2


def test_event_type_islands_single_exchange(spark, sf_small):
    """Gaps-and-islands: both row_number windows AND the final run
    aggregate must ride ONE user_id exchange (the windows share the
    partitioning prefix; the groupBy key contains it)."""
    plan = plan_of(spark, sf_small, "event_type_islands")
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window") == 2


def test_metrics_report_walks_final_adaptive_plan(spark, sf_small):
    """tools/entry_profile.py --metrics must traverse THROUGH adaptive/query-stage
    shells down to the scans, with populated row metrics (the runtime
    complement of these static plan gates) and per-node timings."""
    from tools.entry_profile import walk

    df = CATALOG["join_agg_revenue"].spark(spark, sf_small)
    df.collect()
    rows = walk(df._jdf.queryExecution().executedPlan())
    names = [n for _, n, _ in rows]
    assert any("Scan parquet" in n for n in names), names
    scans = [m for _, n, m in rows if "Scan parquet" in n]
    assert all(m.get("numOutputRows", 0) > 0 for m in scans)
    codegen = [m for _, n, m in rows if n.startswith("WholeStageCodegen")]
    assert codegen and all("pipelineTime" in m for m in codegen), codegen


def test_q4_semi_join_with_date_residual(spark, sf_small):
    """Q4: the correlated non-equi EXISTS must plan as ONE LeftSemi hash
    join keyed on orderkey with the date comparison as a join residual —
    no window, no second orders scan."""
    plan = plan_of(spark, sf_small, "order_priority_checks")
    assert "LeftSemi" in plan
    assert plan.count("FileScan parquet") == 2  # orders + lineitem, once each
    # the orders date range still pushes to its scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q13_outer_join_preserved(spark, sf_small):
    """Q13: the priority filter lives in the JOIN CONDITION — the plan
    must keep LeftOuter (a WHERE placement would turn it inner and drop
    zero-order customers)."""
    plan = plan_of(spark, sf_small, "customer_order_distribution")
    assert "LeftOuter" in plan
    assert "Inner" not in plan


def test_q17_threshold_rides_window_one_fact_pass(spark, sf_small):
    """Q17: the decorrelated per-part sums ride a window over the
    brand-filtered fact rows — ONE lineitem scan and ONE part scan (the
    aggregate-then-join-back form scanned the fact join twice), no
    sort-merge join anywhere."""
    plan = plan_of(spark, sf_small, "small_qty_avg_revenue")
    assert "Window" in plan
    assert plan.count("FileScan parquet") == 2
    assert "SortMergeJoin" not in plan


def test_q10_aggregates_before_decorating(spark, sf_small):
    """Q10: top-k by revenue must aggregate DOWN to custkey before the
    customer/nation payload joins (both broadcast), ending in
    TakeOrderedAndProject — never a full sort."""
    plan = plan_of(spark, sf_small, "returned_item_customers")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_q16_anti_join_and_single_distinct_shuffle(spark, sf_small):
    """Q16: the NOT-IN blacklist is a broadcast anti join, and the
    count-distinct collapses in the same keyed shuffle chain (no extra
    exchange beyond the two-phase distinct)."""
    plan = plan_of(spark, sf_small, "supplier_part_variety")
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_groupwise_minmax_is_grouped_map_arrow(spark, sf_small):
    """The grouped-map query must plan FlatMapGroupsInPandas over ONE
    group-key exchange — whole groups cross to Python as Arrow batches,
    not per-row pickling."""
    plan = plan_of(spark, sf_small, "groupwise_minmax_norm")
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_no_raw_broadcast_hints_outside_audit_point():
    """Every explicit broadcast hint in the package must route through
    operators.util.bounded_broadcast, which demands a documented
    bounded-size justification — an unexplained F.broadcast on an
    SF-scaled side (customer/supplier/part, per-user aggregates...) is a
    guaranteed OOM at the 100 TB design point because an explicit hint
    overrides the size threshold. Source-level gate: raw F.broadcast may
    appear ONLY inside the helper itself."""
    import pathlib

    import shuttlestandalonedbcreator_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for py in root.rglob("*.py"):
        if py.name == "util.py" and py.parent.name == "operators":
            continue
        text = py.read_text()
        for i, line in enumerate(text.splitlines(), 1):
            if "F.broadcast" in line or "functions.broadcast" in line:
                offenders.append(f"{py.relative_to(root)}:{i}: {line.strip()}")
    assert not offenders, (
        "raw broadcast hints found (route through bounded_broadcast or go "
        "hint-free):\n" + "\n".join(offenders)
    )


def test_no_python_list_frames_outside_local_frame():
    """Driver-side rows become a DataFrame only through
    operators.util.local_frame, which plans a JVM LocalTableScan. A raw
    ``createDataFrame(<python list>)`` or ``parallelize(...)`` plans a
    Python RDD, and executing it starts Python workers only to unpickle
    the rows (~0.4 s per warm use of a 1,025-row offsets table on a
    4-core box, against ~0.08 s through the helper). Source-level gate:
    the two calls may appear ONLY inside ``local_frame``."""
    import ast
    import pathlib

    import shuttlestandalonedbcreator_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for py in root.rglob("*.py"):
        rel = py.relative_to(root).as_posix()
        tree = ast.parse(py.read_text())
        helper = set()
        if rel == "operators/util.py":
            fn = next(n for n in tree.body if getattr(n, "name", "") == "local_frame")
            helper = set(range(fn.lineno, fn.end_lineno + 1))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("createDataFrame", "parallelize")
                and node.lineno not in helper
            ):
                offenders.append(f"{rel}:{node.lineno}: {node.func.attr}")
    assert not offenders, (
        "driver rows turned into a Python RDD (route through "
        "operators.util.local_frame):\n" + "\n".join(offenders)
    )


def test_no_unguarded_driver_collects_in_operator_modules():
    """Every driver ``.collect()`` in the operator/query modules must be
    either (a) routed through ``operators.util.bounded_collect`` (the
    audited, runtime-capped path — r10 verdict: the exact-cosine path
    collected the full vector table with NO size guard), or (b) bounded
    by construction and pinned in the census below with its bound. A new
    raw collect anywhere in operators/ or queries.py fails this test
    until it is routed or justified here.

    Census of the by-construction-bounded sites:
    - operators/scalewin.py x2 — ≤ N_BLOCKS+1 (≤1025) aggregate rows per
      spec, the documented stitch contract;
    - operators/bpe.py x2 — one behind the ``vocab.count() <=
      DRIVER_WORDS`` size gate, one behind ``.limit(1)``;
    - operators/graph.py x1 — the edge list behind
      ``.limit(DRIVER_EDGES + 1)``, which is also the size gate;
    - queries.py x1 — token_id_encode's vocab behind ``.limit(100)``.
    """
    import pathlib
    import re

    import shuttlestandalonedbcreator_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    expected = {
        "operators/scalewin.py": 2,
        "operators/bpe.py": 2,
        "operators/graph.py": 1,
        "operators/util.py": 1,  # bounded_collect itself
        "queries.py": 1,
    }
    found: dict[str, int] = {}
    targets = sorted((root / "operators").glob("*.py")) + [root / "queries.py"]
    for py in targets:
        n = len(re.findall(r"\.collect\(\)", py.read_text()))
        if n:
            found[str(py.relative_to(root))] = n
    assert found == expected, (
        f"raw .collect() census changed: {found} != {expected} — route new "
        "driver collects through operators.util.bounded_collect (runtime "
        "row cap + bounded-size justification) or pin the bound here"
    )


def _kernel_copies(files, base, py_form, sql_form) -> list[str]:
    """``file:line`` of every ``py_form`` match in the source of ``files``
    and every ``sql_form`` match in a string constant as the parser joins
    it, so a literal split across adjacent strings (or around f-string
    fields, read as ``{}``) is caught."""
    import ast

    offenders = []
    for py in files:
        rel = py.relative_to(base).as_posix()
        text = py.read_text()
        for m in py_form.finditer(text):
            offenders.append(f"{rel}:{text[: m.start()].count(chr(10)) + 1}")
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                value = node.value
            elif isinstance(node, ast.JoinedStr):
                value = "".join(
                    v.value if isinstance(v, ast.Constant) else "{}"
                    for v in node.values
                )
            else:
                continue
            if sql_form.search(value):
                offenders.append(f"{rel}:{node.lineno} (SQL text)")
    return sorted(set(offenders))


def test_no_hand_written_let_binds_outside_text_functions():
    """Let-binding goes through ``functions.text.let``, whose docstring
    carries the reason (CollapseProject re-substitutes a projected
    expression into every reference). Source-level gate: the 1-element
    ``transform`` idiom may appear ONLY in ``functions/text.py``, in
    either spelling — the Python ``transform(F.array(...))`` and the SQL
    ``transform(array(...))`` inside ``F.expr`` text."""
    import pathlib
    import re

    import shuttlestandalonedbcreator_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = _kernel_copies(
        [py for py in root.rglob("*.py") if py != root / "functions" / "text.py"],
        root,
        re.compile(r"transform\(\s*F\.array\("),
        re.compile(r"\btransform\s*\(\s*array\s*\(", re.IGNORECASE),
    )
    assert not offenders, (
        "hand-written let-binds found (use functions.text.let):\n"
        + "\n".join(offenders)
    )


def test_no_hand_written_pair_expansions():
    """Posting-list pair expansion goes through
    ``operators.util.ordered_pairs``. Source-level gate over the package
    and ``tools/``: ``F.flatten(`` in code and ``flatten(transform(`` in
    SQL string constants may appear ONLY in ``operators/util.py``."""
    import pathlib
    import re

    import shuttlestandalonedbcreator_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    files = [*root.rglob("*.py"), *(root.parent / "tools").glob("*.py")]
    offenders = _kernel_copies(
        [py for py in files if py != root / "operators" / "util.py"],
        root.parent,
        re.compile(r"\bF\.flatten\("),
        re.compile(r"\bflatten\s*\(\s*transform\s*\(", re.IGNORECASE),
    )
    assert not offenders, (
        "hand-written pair expansions found (use operators.util.ordered_pairs):\n"
        + "\n".join(offenders)
    )


def test_one_prefix_filter_implementation():
    """The df-ordered prefix filter lives only in
    ``operators.dedup.prefix_filter_pairs``. Source-level gate over the
    package, ``tools/`` and ``bench.py``: the df-ascending prefix rank
    (``orderBy(F.col("df")``) and the prefix-length ``(num * n + den - 1)
    div den`` SQL may appear ONLY in ``operators/dedup.py``."""
    import pathlib
    import re

    import shuttlestandalonedbcreator_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    kernel = root / "operators" / "dedup.py"
    files = [
        *root.rglob("*.py"),
        *(root.parent / "tools").glob("*.py"),
        root.parent / "bench.py",
    ]
    rank = re.compile(r'orderBy\(\s*F\.col\("df"\)')
    prefix_len = re.compile(r"\*\s*n\s*\+[^)]*\)\s*div\b", re.IGNORECASE)
    assert _kernel_copies([kernel], root.parent, rank, prefix_len), "kernel moved"
    offenders = _kernel_copies(
        [py for py in files if py != kernel], root.parent, rank, prefix_len
    )
    assert not offenders, (
        "prefix-filter copies found (use operators.dedup.prefix_filter_pairs):\n"
        + "\n".join(offenders)
    )


def test_minhash_lsh_dedup_is_one_posting_list_pipeline(spark, sf_small):
    """MinHash-LSH pairs come from ONE (band, bucket)-keyed exchange into
    signature-carrying posting lists: no self-join of the banded
    signatures (neither a broadcast nor a sort-merge join), no cached
    signature table, and the documents are scanned once."""
    df = CATALOG["minhash_lsh_dedup"].spark(spark, sf_small)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("BroadcastHashJoin", "SortMergeJoin", "BroadcastExchange",
                 "InMemoryTableScan"):
        assert node not in plan, node
    final = plan.split("== Initial Plan ==")[0]
    scans = [ln for ln in final.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1 and "documents" in scans[0], scans


def test_cache_and_persist_census():
    """Every ``.cache()`` / ``.persist(`` in the package is pinned here: a
    cached frame that is never unpersisted holds storage-pool memory for
    the life of the session (the bench, streaming incremental dedup).
    The census is empty: the engine caches nothing. A new site fails
    this test until it is added here with the ``unpersist`` that ends
    it."""
    import pathlib
    import re

    import shuttlestandalonedbcreator_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    expected: dict[str, int] = {}
    found: dict[str, int] = {}
    for py in root.rglob("*.py"):
        n = len(re.findall(r"\.cache\(\)|\.persist\(", py.read_text()))
        if n:
            found[py.relative_to(root).as_posix()] = n
    assert found == expected, (
        f".cache()/.persist() census changed: {found} != {expected}"
    )


def test_bounded_collect_contract(spark, monkeypatch):
    """bounded_collect returns every row under the cap, never
    materializes more than MAX_COLLECT_ROWS+1, and raises with the
    caller's scale-pointer hint when the side exceeds the cap."""
    from shuttlestandalonedbcreator_spark.operators import util
    from shuttlestandalonedbcreator_spark.operators.util import bounded_collect

    df = spark.range(10)
    monkeypatch.setattr(util, "MAX_COLLECT_ROWS", 100)
    rows = bounded_collect(df, "one_row")
    assert sorted(r["id"] for r in rows) == list(range(10))
    import pytest as _pytest

    monkeypatch.setattr(util, "MAX_COLLECT_ROWS", 5)
    with _pytest.raises(ValueError, match="exceeded 5 rows.*use the LSH path"):
        bounded_collect(df, "caller_contract", hint="use the LSH path")
    with _pytest.raises(ValueError, match="justification"):
        bounded_collect(df, "because_i_said_so")


def test_bounded_collect_byte_cap(spark, monkeypatch):
    """The byte cap (schema width × rows) refuses a wide-row side that
    the row cap alone would let through."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.operators import util

    wide = spark.range(10).select(
        *[F.col("id").cast("double").alias(f"c{i}") for i in range(100)]
    )  # 100 doubles = 800 B/row
    monkeypatch.setattr(util, "MAX_COLLECT_BYTES", 4_000)
    assert len(util.bounded_collect(wide.limit(5), "one_row")) == 5
    with _pytest.raises(ValueError, match="exceeded 4000 estimated bytes"):
        util.bounded_collect(wide, "one_row", hint="shard it")


def test_bounded_collect_byte_cap_counts_array_elements(spark, monkeypatch):
    """The byte cap sizes an array column by its real element count, not
    as one element: a dense-vector side whose real bytes pass the cap is
    refused."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.operators import util

    vecs = spark.range(10).select(
        "id", F.array_repeat(F.col("id").cast("double"), 100).alias("v")
    )  # 8 B id + 100 doubles = 808 B/row
    monkeypatch.setattr(util, "MAX_COLLECT_BYTES", 4_000)
    assert len(util.bounded_collect(vecs.limit(4), "one_row")) == 4
    with _pytest.raises(ValueError, match=r"exceeded 4000 estimated bytes \(808 B/row\)"):
        util.bounded_collect(vecs, "one_row", hint="shard it")


def test_operator_caps_are_module_constants_not_parameters():
    """The graph, BPE, scalewin and bounded_collect caps are module
    constants that tests patch, not keyword parameters: the public
    signatures carry only what a caller means."""
    import inspect

    from shuttlestandalonedbcreator_spark.operators import bpe, graph, scalewin, util

    want = {
        graph.connected_components: ["edges", "src", "dst"],
        bpe.train_bpe_merges: ["docs", "text_col", "n_merges", "min_freq"],
        scalewin.with_global_row_numbers: ["df", "specs", "count_col"],
        scalewin.with_global_running_sum: [
            "df", "order_by", "value_col", "out", "total_col"
        ],
        util.bounded_collect: ["df", "kind", "hint"],
    }
    got = {f: list(inspect.signature(f).parameters) for f in want}
    assert got == want


def test_every_defaulted_parameter_has_a_caller():
    """No public package function keeps a defaulted parameter that no
    call site sets: a value nobody passes is a constant, and the branches
    that served other values are dead code. Source-level census of the
    top-level public functions of the package, against every call in the
    package, ``tools/``, ``bench.py``, ``__spark_entry__.py``,
    ``perfbench/`` and ``tests/``. A call matches on the function's name
    and sets a parameter by keyword or by position. A ``*``/``**``
    forward sets every parameter, except that a function relaying its
    own ``**kwargs`` sets only what its callers pass it by keyword."""
    import ast
    import bisect
    import gc
    import pathlib
    import re

    import shuttlestandalonedbcreator_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    repo = root.parent
    package = sorted(root.rglob("*.py"))
    files = [
        *package,
        *(repo / "tools").glob("*.py"),
        repo / "bench.py",
        repo / "__spark_entry__.py",
        *(repo / "perfbench").rglob("*.py"),
        *(repo / "tests").rglob("*.py"),
    ]
    texts = {py: py.read_text() for py in files}
    gc.disable()  # collections while parsing ~40k lines double the time
    try:
        trees = {py: ast.parse(text) for py, text in texts.items()}
    finally:
        gc.enable()
    def callee(call):
        return getattr(call.func, "id", None) or getattr(call.func, "attr", None)

    defaulted = []  # (module, function, positional names, defaulted names)
    relays = []  # (callee, function relaying its own **kwargs to it)
    relayed = set()  # id() of the relaying calls
    for py in package:
        for fn in trees[py].body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            a = fn.args
            pos = [p.arg for p in (*a.posonlyargs, *a.args)]
            opt = pos[len(pos) - len(a.defaults):] + [
                k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d
            ]
            if opt:
                defaulted.append((py.relative_to(root).as_posix(), fn.name, pos, opt))
            for c in ast.walk(fn) if a.kwarg else ():
                if isinstance(c, ast.Call) and any(
                    k.arg is None and getattr(k.value, "id", None) == a.kwarg.arg
                    for k in c.keywords
                ):
                    relays.append((callee(c), fn.name))
                    relayed.add(id(c))
    set_by = {name: set() for _, name, _, _ in defaulted}  # keywords, counts, "*"
    set_by.update((relay, set()) for _, relay in relays)
    called = re.compile(r"\b(?:%s)\s*\(" % "|".join(set_by))
    for py, text in texts.items():
        lines = [text.count("\n", 0, m.start()) + 1 for m in called.finditer(text)]
        nodes = [trees[py]] if lines else []
        while nodes:  # descend only into nodes spanning a matched line
            c = nodes.pop()
            for n in ast.iter_child_nodes(c):
                i = bisect.bisect_left(lines, getattr(n, "lineno", 0))
                if i < len(lines) and lines[i] <= getattr(n, "end_lineno", lines[i]):
                    nodes.append(n)
            if not isinstance(c, ast.Call) or callee(c) not in set_by:
                continue
            got = set_by[callee(c)]
            got.update(k.arg for k in c.keywords if k.arg)
            got.add(len(c.args))
            starred = any(isinstance(a, ast.Starred) for a in c.args)
            if starred or (id(c) not in relayed and any(k.arg is None for k in c.keywords)):
                got.add("*")
    for _ in relays:
        for name, relay in relays:
            if name in set_by:
                set_by[name] |= {k for k in set_by[relay] if isinstance(k, str)}
    unset = []
    for rel, name, pos, opt in defaulted:
        got = set_by[name]
        npos = max((n for n in got if isinstance(n, int)), default=0)
        unset += [
            f"{rel}:{name}({p})"
            for p in opt
            if "*" not in got and p not in got and p not in pos[:npos]
        ]
    assert not unset, (
        f"{len(unset)} defaulted parameters that no call site sets (make "
        "each the constant it defaults to):\n" + "\n".join(unset)
    )


def test_no_scratch_files_at_repo_root():
    """Repo hygiene: session scratch harnesses (_draft*.py, _scratch*.py,
    _tmp*.py) must not ship at the repo root — they sit on the import
    path and duplicate catalog code (round-4 verdict flagged
    _draft_r4.py)."""
    import pathlib

    import shuttlestandalonedbcreator_spark as pkg

    repo_root = pathlib.Path(pkg.__file__).parent.parent
    strays = [
        p.name
        for pat in ("_draft*.py", "_scratch*.py", "_tmp*.py")
        for p in repo_root.glob(pat)
    ]
    assert not strays, f"scratch files at repo root: {strays}"


def test_bounded_broadcast_requires_justification(spark):
    """The audit point rejects undeclared/unknown bounded-ness kinds."""
    from shuttlestandalonedbcreator_spark.operators.util import bounded_broadcast

    df = spark.range(1)
    with pytest.raises(ValueError, match="bounded-size justification"):
        bounded_broadcast(df, "big-table-yolo")
    # sanctioned kinds attach a real hint (visible in the analyzed plan)
    hinted = bounded_broadcast(df, "one_row")
    assert "broadcast" in hinted._jdf.queryExecution().analyzed().toString().lower()


def test_sf_scaled_joins_recover_broadcast_from_size_not_hint(spark, sf_small):
    """The de-hinted TPC-H joins (customer/supplier/part sides) must STILL
    plan broadcast-hash at small SF — proving the threshold/AQE picks it
    from measured size, so small stays fast while huge degrades to a
    shuffle join instead of an OOM."""
    for name in ("join_agg_revenue", "shipping_priority", "product_profit"):
        plan = plan_of(spark, sf_small, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_oracle):
    """Runtime bloom-filter join pruning (the runtime analogue of static
    pushdown): with a selective filter on the dim side of a SHUFFLE
    join, Spark must inject bloom_filter_might_contain into the fact
    side so most probe rows die at the scan, not in the shuffle. The
    production defaults only fire for big scans, so the scoped helper
    pins the thresholds; the result must be identical with and without
    the injected filter."""
    from shuttlestandalonedbcreator_spark.operators.util import (
        runtime_bloom_filters,
    )
    from shuttlestandalonedbcreator_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, sf_oracle, "lineitem")
    part = load_table(spark, sf_oracle, "part")

    def build():
        dim = part.filter(F.col("p_type").startswith("PROMO")).select(
            "p_partkey", "p_type"
        )
        return (
            li.join(dim, li.l_partkey == dim.p_partkey)
            .groupBy("p_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe_bcast = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        baseline = {
            (r["p_type"], r["n"]) for r in build().collect()
        }
        with runtime_bloom_filters(spark, app_side_scan_threshold="0"):
            df = build()
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "bloom_filter" in plan.lower(), plan
            assert {(r["p_type"], r["n"]) for r in df.collect()} == baseline
        # scoped: the conf is restored on exit
        off = build()._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" not in off.lower()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
        if old_aqe_bcast is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe_bcast
            )


# ---------------------------------------------------------------------------
# Global-order window gate
#
# An unpartitioned Window (ORDER BY with no PARTITION BY, or a global
# total frame) plans Exchange SinglePartition: the whole frame moves
# through ONE task. Over a data-sized frame that is the canonical
# 100 TB scale-killer, so every catalog entry that plans one must appear
# below with the reason its frame is PROVABLY bounded (constant domain,
# top-k limit, calendar span, or the scalewin <=1024-block offset
# stitch). Data-sized global ranks/cumsums/ntiles must instead ride
# operators/scalewin.py's blocked decomposition.
_BOUNDED_UNPARTITIONED_WINDOWS = {
    # round 6: the scalewin offset stitch computes its cumulative block
    # offsets DRIVER-SIDE from the collected <=1025-row block-size
    # aggregate, so the seven scalewin entries plan NO unpartitioned
    # window at all anymore — their rows left this allowlist (the
    # stale-check enforces the shrink).
    "decile_lift": "10-row decile frame",
    # constant value domains
    "benford_audit": "9 first-digit buckets",
    "chi_square_independence": "mktsegment x orderpriority cells (<=25)",
    "datacard_report": "per-source frame (sources are a closed domain)",
    "epoch_mixing_plan": "per-source frame (sources are a closed domain)",
    "key_skew_profile": "<=64 log2 count buckets",
    "mutual_information": "lang x source cells (closed domains)",
    "nation_revenue_share": "25 nations (TPC-H fixed dimension)",
    "stratified_split_exact": "per-language strata (closed domain)",
    "temperature_mixture": "per-source frame (sources are a closed domain)",
    "woe_information_value": "quality-score bins (fixed bin count)",
    # bounded by construction
    "cumulative_distinct_users": "calendar-day frame (bounded time span)",
    "dsir_importance": "row_number above TakeOrderedAndProject(25)",
    "id_gap_audit": "id-range blocks (documented block-size knob)",
    "vocab_build": "rank over the LIMIT 100 vocabulary",
}


def _unpartitioned_window_count(plan: str) -> int:
    """Count window specs with no partition columns. In executed-plan
    text a spec prints windowspecdefinition(part..., order..., frame):
    partition columns carry no ASC/DESC marker and precede order
    columns, so the spec is unpartitioned iff its FIRST top-level arg is
    an order column (has a direction) or the frame itself."""
    import re

    hits = 0
    for line in plan.splitlines():
        s = line.lstrip(" :+-*")
        if not s.startswith("Window ["):
            continue
        for m in re.finditer(r"windowspecdefinition\(", s):
            i, depth, first = m.end(), 1, ""
            while i < len(s) and depth:
                ch = s[i]
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                elif ch == "," and depth == 1:
                    break
                if depth:
                    first += ch
                i += 1
            first = first.strip()
            if (
                first.startswith("specifiedwindowframe")
                or " ASC" in first
                or " DESC" in first
            ):
                hits += 1
    return hits


def test_no_unpartitioned_window_outside_bounded_allowlist(catalog_plans):
    """Full-catalog single-partition-window gate: any entry planning an
    unpartitioned Window must carry a documented frame bound above — a
    new query can't silently ship a data-sized global sort through one
    task, and the allowlist can't go stale."""
    counts = {
        name: _unpartitioned_window_count(plan)
        for name, plan in catalog_plans.items()
    }
    offenders = {
        n: c
        for n, c in counts.items()
        if c and n not in _BOUNDED_UNPARTITIONED_WINDOWS
    }
    assert not offenders, (
        f"unpartitioned WindowExec without a documented bound: {offenders}"
    )
    stale = {
        n for n in _BOUNDED_UNPARTITIONED_WINDOWS if not counts.get(n)
    }
    assert not stale, f"allowlist entries no longer plan one: {stale}"


def test_av_codec_pipelines_fan_out(spark, sf_small):
    """The single-row-group toy parquet arrives as ONE split; both a/v
    entries must round-robin repartition BEFORE their mapInPandas codec
    hops or the whole synth+codec+fingerprint pipeline serializes onto
    one core (regression: round 7 shipped audio_fingerprint without the
    fan_out — 9.6 s of its bench time was a single task)."""
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip(
            "fan_out is a no-op on a single-core master — no "
            "RoundRobinPartitioning is planned and 1 partition is correct"
        )
    # all four codec entries show full lineage since r10 (the dHash /
    # fingerprint localCheckpoints were removed when verification moved
    # into the banded posting-list expansion), so one plan-text assert
    # covers them: the codec hop plans as MapInPandas and a round-robin
    # repartition sits in its lineage
    for name in (
        "video_keyframes",
        "image_quality_gate",
        "audio_fingerprint",
        "image_dhash_neardup",
    ):
        plan = plan_of(spark, sf_small, name)
        assert "MapInPandas" in plan, name
        assert "RoundRobinPartitioning" in plan, name
