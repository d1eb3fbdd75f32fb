"""Property tests for the round-4 session-4 catalog entries.

Cross-engine parity (driver + check_parity) already pins value equality;
these tests pin SEMANTIC invariants parity can't see — a formula that is
symmetrically wrong on both engines passes parity but fails here (see
NOTES.md mixture-sampling lesson).
"""
from __future__ import annotations

import os
import tempfile
from fractions import Fraction

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.operators import dedup as D
from shuttlestandalonedbcreator_spark.queries import (
    KCORE_K,
    PARA_FOOTER,
    PI_DIM,
    _power_iteration_v,
    _t,
    q_abtt_residual,
    q_hashing_tf_vectorize,
    q_kcore_decomposition,
    q_lsh_tuning_audit,
    q_moment_profile,
    q_neardup_keep_longest,
    q_paragraph_dedup_rebuild,
    q_perplexity_buckets,
    q_power_iteration_topvec,
    q_prefix_filter_jaccard,
    q_wilson_lower_bound,
)


@pytest.mark.parametrize(
    "n,threshold,floor,via_entry",
    [(3, Fraction(3, 5), 5, True), (2, Fraction(4, 5), 3, False)],
    ids=["entry", "n2_t4_5_floor3"],
)
def test_prefix_filter_is_lossless_vs_brute_force(
    spark, sf_small, n, threshold, floor, via_entry
):
    """The AllPairs prefix guarantee, re-proven inside Spark: the
    prefix-filtered join returns EXACTLY the pairs the unfiltered
    posting-list join qualifies at the same threshold — through the
    catalog entry at its own point, and through the kernel away from it
    so the num/den algebra is exercised off t = 3/5."""
    num, den = threshold.numerator, threshold.denominator
    docs = _t(spark, sf_small, "documents")
    grams = (
        docs.select(
            "doc_id", F.explode(D.word_ngrams(F.col("text"), n)).alias("g")
        )
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("g"), 1, 15), 16, 10)
            .cast("long")
            .alias("hh"),
        )
        .distinct()
    )
    sz = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).filter(
        F.col("n") >= floor
    )
    el = grams.join(sz, "doc_id")
    a = el.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"), "hh")
    b = el.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"), "hh")
    brute = (
        a.join(b, "hh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .filter(
            F.lit(den) * F.col("inter")
            >= F.lit(num) * (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .select("id_a", "id_b")
    )
    if via_entry:
        got = q_prefix_filter_jaccard(spark, sf_small)
    else:
        sets = docs.select(
            "doc_id", D.word_ngram_hashes(F.col("text"), n).alias("grams")
        ).filter(F.size("grams") >= floor)
        got = D.prefix_filter_pairs(sets, "doc_id", "grams", threshold)
    got = got.select("id_a", "id_b")
    assert brute.count() > 0
    assert got.exceptAll(brute).count() == 0
    assert brute.exceptAll(got).count() == 0


def test_power_iteration_finds_planted_direction(spark):
    """On a corpus with one dominant axis, three rounds must converge to
    it: the planted dimension carries the ±1000 extreme component."""
    planted = 17
    tmp = tempfile.mkdtemp(prefix="pi_planted_")
    rows = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(PI_DIM - 1)),
            lambda j: (
                F.when(
                    j == planted,
                    F.when(F.col("id") % 2 == 0, F.lit(0.9)).otherwise(
                        F.lit(-0.9)
                    ),
                ).otherwise(
                    ((F.col("id") * 7 + j.cast("long") * 13) % 19).cast(
                        "double"
                    )
                    / F.lit(1000.0)
                    - F.lit(0.009)
                )
            ).cast("float"),
        ).alias("embedding"),
        F.lit(0).alias("label"),
    )
    rows.write.mode("overwrite").parquet(os.path.join(tmp, "embeddings.parquet"))
    out = {
        r["dim"]: r["v_milli"]
        for r in q_power_iteration_topvec(spark, tmp).collect()
    }
    top = max(out, key=lambda d: abs(out[d]))
    assert top == planted
    assert abs(out[planted]) == 1000


def test_abtt_residual_is_orthogonal_to_direction(spark, sf_small):
    """r·v = d·S − d·S = 0 must hold EXACTLY (integer algebra)."""
    emb = _t(spark, sf_small, "embeddings")
    v = _power_iteration_v(spark, sf_small)
    xq = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(1000)).cast("long"),
        ).alias("xq"),
    )
    rows = xq.crossJoin(v)
    checked = rows.select(
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
        "xq",
        "v",
    ).select(
        F.aggregate(
            F.zip_with(
                F.zip_with(
                    "xq", "v", lambda x, b: x * F.col("s") - F.col("d") * b
                ),
                "v",
                lambda r, b: r * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        ).alias("dot_rv")
    )
    bad = checked.filter(F.col("dot_rv") != 0).count()
    assert bad == 0
    # and the query itself returns one row per vector
    assert q_abtt_residual(spark, sf_small).count() == emb.count()


def test_paragraph_dedup_keeps_each_paragraph_exactly_once(spark, sf_small):
    """Σ n_kept == global distinct paragraph count (every distinct
    paragraph survives in exactly one (doc, pos) slot), and the shared
    injected footer survives exactly once inside that identity."""
    docs = _t(spark, sf_small, "documents")
    paras_arr = F.filter(
        F.array(
            F.substring("text", 1, 80),
            F.lit(PARA_FOOTER),
            F.substring("text", 81, 80),
            F.substring("text", 161, 80),
        ),
        lambda x: x != F.lit(""),
    )
    distinct_paras = (
        docs.select(F.explode(paras_arr).alias("par")).distinct().count()
    )
    out = q_paragraph_dedup_rebuild(spark, sf_small)
    total_kept = out.agg(F.sum("n_kept")).collect()[0][0]
    assert total_kept == distinct_paras
    # at least one doc lost its footer copy (duplicates were removed)
    assert out.filter(F.col("n_kept") < F.col("n_paras")).count() > 0


def test_kcore_survivors_meet_degree_bound_at_fixpoint(spark, sf_small):
    """At sf0.001 four rounds reach the true fixpoint (measured), so
    every surviving node's induced degree must be >= k."""
    out = q_kcore_decomposition(spark, sf_small)
    assert out.count() > 0
    assert out.filter(F.col("core_degree") < KCORE_K).count() == 0


def test_neardup_keep_longest_keeps_cluster_maximum(spark, sf_small):
    """Every pruned doc must be strictly dominated inside its cluster:
    the survivor of each component is the (n_chars desc, id asc) max."""
    from shuttlestandalonedbcreator_spark.operators.graph import (
        connected_components,
    )

    docs = _t(spark, sf_small, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    comps = connected_components(pairs.select("id_a", "id_b"), "id_a", "id_b")
    survivors = q_neardup_keep_longest(spark, sf_small).select("doc_id")
    winners = (
        comps.join(docs.select(F.col("doc_id").alias("id"), "n_chars"), "id")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("component").orderBy(
                    F.col("n_chars").desc(), F.col("id").asc()
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select(F.col("id").alias("doc_id"))
    )
    # every component winner survives; every non-winner member is pruned
    assert winners.join(survivors, "doc_id", "left_anti").count() == 0
    members = comps.select(F.col("id").alias("doc_id"))
    losers = members.join(winners, "doc_id", "left_anti")
    assert losers.join(survivors, "doc_id", "left_semi").count() == 0


def test_hashing_tf_l1_equals_token_count(spark, sf_small):
    docs = _t(spark, sf_small, "documents")
    expected = docs.select(
        "doc_id", F.size(D.tokens(F.col("text"))).cast("long").alias("l1")
    )
    got = q_hashing_tf_vectorize(spark, sf_small).select("doc_id", "l1")
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_lsh_tuning_audit_counts_are_consistent(spark, sf_small):
    """candidates = (true − false_neg) + false_pos, all non-negative."""
    row = q_lsh_tuning_audit(spark, sf_small).collect()[0]
    assert row["n_candidates"] >= 0 and row["n_true"] >= 0
    assert row["n_false_pos"] >= 0 and row["n_false_neg"] >= 0
    assert (
        row["n_candidates"]
        == (row["n_true"] - row["n_false_neg"]) + row["n_false_pos"]
    )
    assert row["n_false_neg"] <= row["n_true"]


def test_moment_profile_matches_numpy(spark, sf_small):
    import numpy as np

    rows = q_moment_profile(spark, sf_small).collect()
    li = (
        _t(spark, sf_small, "lineitem")
        .select("l_returnflag", "l_quantity")
        .collect()
    )
    by_flag: dict[str, list[float]] = {}
    for r in li:
        by_flag.setdefault(r["l_returnflag"], []).append(r["l_quantity"])
    for r in rows:
        x = np.array(by_flag[r["l_returnflag"]])
        m = x.mean()
        m2 = ((x - m) ** 2).mean()
        m3 = ((x - m) ** 3).mean()
        m4 = ((x - m) ** 4).mean()
        assert abs(r["mean_qty"] - m) < 1e-9
        assert abs(r["variance"] - m2) < 1e-5
        assert abs(r["skewness"] - m3 / m2**1.5) < 1e-5
        assert abs(r["kurtosis"] - (m4 / m2**2 - 3.0)) < 1e-5


def test_wilson_interval_brackets_point_estimate(spark, sf_small):
    rows = q_wilson_lower_bound(spark, sf_small).collect()
    assert rows
    for r in rows:
        p = r["s"] / r["n"]
        assert 0.0 <= r["wilson_lb"] <= p <= r["wilson_ub"] <= 1.0


def test_perplexity_buckets_are_balanced_and_ordered(spark, sf_small):
    out = q_perplexity_buckets(spark, sf_small)
    per = (
        out.groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).alias("c"), F.avg("avg_nll").alias("nll"))
        .collect()
    )
    by_lang: dict[str, dict[str, tuple[int, float]]] = {}
    for r in per:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = (r["c"], r["nll"])
    for lang, cells in by_lang.items():
        sizes = [c for c, _ in cells.values()]
        assert max(sizes) - min(sizes) <= 1, (lang, cells)
        if "head" in cells and "tail" in cells:
            assert cells["head"][1] <= cells["tail"][1], (lang, cells)
