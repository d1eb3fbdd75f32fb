"""Vector similarity search over an embedding column (array<float>).

Extension surface (BASELINE.json north star): the reference has no vector
ops; these are designed for the 100 TB profile from the start.

- ``brute_force_topk``   — exact cosine top-k for a query set: broadcast
  the (small) query side, per-partition score + global TakeOrdered. The
  correctness baseline.
- ``ivf_topk``           — IVF approximate top-k: k-means cells, each
  query probes only the nearest `n_probe` cells.
- ``lsh_topk``           — random-hyperplane (sign-LSH) bucketed
  per-vector k-nearest-neighbours over the table itself: vectors only
  meet inside a bucket, making the self-join output-bounded; the scale
  path. Hyperplanes are deterministic (seeded md5 → ±1 components) so
  results are reproducible.
- ``cosine_neardup_pairs`` — threshold near-dup pairs; exact baseline
  or sign-LSH bucketed scale path.

All vector math is `F.zip_with` + `F.aggregate` (JVM higher-order
functions) over double-cast arrays — no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.functions.text import let
from shuttlestandalonedbcreator_spark.operators.dedup import md5_long
from shuttlestandalonedbcreator_spark.operators.util import (
    bounded_broadcast,
    local_frame,
    ordered_pairs,
)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def unit_vector(v: Column) -> Column:
    """L2-normalize with the norm let-bound: the naive
    `transform(v, x -> x / norm(v))` re-evaluates the norm's 64-element
    fold per ELEMENT (64×64 ops/row)."""
    return let(norm(v), lambda nrm: F.transform(v, lambda x: x.cast("double") / nrm))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    The query side is broadcast (small dimension table); scoring is a
    narrow map over the base vectors; ranking is a window per query id —
    shuffle keyed on query_id, k rows per query out.

    r10: both norms are precomputed ONCE per row below the join (corpus
    norm in the streamed-side projection, query norm in the broadcast
    build) instead of re-folding per PAIR inside `cosine` — 2 of the 3
    64-element folds leave the quadratic scoring loop (guide §1.2).
    Bit-identical: `norm` is deterministic, and the score expression is
    the same dot/(na*nb) tree evaluated on the same doubles.
    """
    q = bounded_broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("_qv"),
            norm(F.col(query_vec_col)).alias("_nq"),
        ),
        "query_set",
    )
    scored = (
        vectors.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cv"),
            norm(F.col(vec_col)).alias("_nv"),
        )
        .crossJoin(q)
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("_cv"), F.col("_qv")) / (F.col("_nv") * F.col("_nq")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("query_id", "neighbor_id", "score", F.col("_rk").alias("rank"))
    )


def hard_negative_topk(
    vectors: DataFrame,
    anchors: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor, the top-k most
    cosine-similar vectors carrying a DIFFERENT label — close in
    embedding space but the wrong class, the candidates that teach a
    contrastive model the most (the standard DPR/SimCSE hard-negative
    recipe; public method).

    Same scale shape as brute_force_topk: anchors broadcast (a bounded
    probe set), candidate scoring is a narrow map over the corpus with
    the label-mismatch filter applied before ranking, one shuffle keyed
    on anchor_id, k rows per anchor out. For 100 TB corpora swap the
    exact scan for the LSH/IVF candidate generators and rerank — the
    ranking contract here is the exact baseline they are tested against.
    """
    a = bounded_broadcast(
        anchors.select(
            F.col(id_col).alias("anchor_id"),
            F.col(vec_col).alias("_av"),
            F.col(label_col).alias("_al"),
            norm(F.col(vec_col)).alias("_na"),
        ),
        "query_set",
    )
    # corpus/anchor norms precomputed once per ROW below the join (r10,
    # guide §1.2) — bit-identical to the per-pair `cosine` fold, see
    # brute_force_topk
    scored = (
        vectors.select(
            F.col(id_col).alias("negative_id"),
            F.col(vec_col).alias("_cv"),
            F.col(label_col).alias("_cl"),
            norm(F.col(vec_col)).alias("_nc"),
        )
        .crossJoin(a)
        .filter(F.col("_cl") != F.col("_al"))
        .select(
            "anchor_id",
            "negative_id",
            F.round(
                dot(F.col("_cv"), F.col("_av")) / (F.col("_nc") * F.col("_na")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("score"), F.asc("negative_id")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            "anchor_id", "negative_id", "score", F.col("_rk").cast("int").alias("rank")
        )
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means partitions the base
    vectors into `n_centroids` cells; each query scores only the
    `n_probe` nearest cells.

    The 100 TB shape: training samples a fraction of the data (KMeans on a
    capped sample), assignment is a narrow map (broadcast centroids), and
    the search join is keyed on cell id — each query touches
    n_probe/n_centroids of the data instead of all of it. Deterministic
    via the fixed KMeans seed 42.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    base = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("_feat"),
    )
    if base.limit(1).isEmpty():
        # KMeans.fit throws on an empty dataset ("Nothing has been added
        # to this summarizer") — an empty corpus slice is routine, so
        # return the typed empty result instead
        return local_frame(
            vectors.sparkSession, [],
            "query_id long, neighbor_id long, score double, rank int",
        )
    km = KMeans(k=n_centroids, seed=42, featuresCol="_feat", predictionCol="_cell")
    model = km.fit(base.select("_feat"))
    # corpus norm precomputed once per row (r10, guide §1.2) — the probe
    # join fans each vector out to every probing query, and the per-pair
    # `cosine` re-folded it per fan-out copy; bit-identical, see
    # brute_force_topk
    assigned = model.transform(base).select(
        "_id", "_v", "_cell", norm(F.col("_v")).alias("_nv")
    )

    centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    spark = vectors.sparkSession
    cent_df = local_frame(
        spark, list(enumerate(centroids)), "cell int, centroid array<double>"
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qv"),
        norm(F.col(query_vec_col)).alias("_nq"),
    )
    # rank cells per query by centroid distance; keep n_probe
    qc = q.crossJoin(bounded_broadcast(cent_df, "query_set")).select(
        "query_id",
        "_qv",
        "_nq",
        "cell",
        F.aggregate(
            F.zip_with(
                F.col("_qv"), F.col("centroid"), lambda x, c: (x.cast("double") - c) ** 2
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("_d2"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("_d2"), F.asc("cell"))
    probes = qc.withColumn("_pr", F.row_number().over(wq)).filter(F.col("_pr") <= n_probe)

    cand = probes.join(assigned, probes["cell"] == assigned["_cell"]).select(
        "query_id",
        F.col("_id").alias("neighbor_id"),
        F.round(
            dot(F.col("_v"), F.col("_qv")) / (F.col("_nv") * F.col("_nq")), 6
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("query_id", "neighbor_id", "score", F.col("_rk").cast("int").alias("rank"))
    )


def cosine_neardup_pairs(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    exact: bool = True,
    planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all unordered (id_a < id_b)
    pairs with cosine >= threshold — the vector-space member of the dedup
    family (exact / minhash / simhash / jaccard / **embedding-cosine**).

    ``exact=True`` (correctness baseline): vectors are L2-normalized ONCE
    in a narrow map, then the pair pass needs only a dot product — an
    inherently quadratic candidate set, kept for oracle checking. At 100 TB
    use ``exact=False``: sign-LSH bucketing (same family as ``lsh_topk``)
    generates candidates only inside signature buckets, then verifies with
    the true cosine — output-bounded, join keyed on the bucket.

    r10: the exact pass runs on the vectorized Arrow path (the
    `matmul_topk` kernel, guide §4.2): the full normalized matrix ships
    in the task closure — the SAME distribution strategy as the
    BroadcastNestedLoopJoin it replaces (the b-side was broadcast there
    too) — and each Arrow batch of the streamed side scores against it
    with one BLAS matmul instead of a 64-element HOF fold per pair.
    Spark's NaN-is-largest comparison semantics are replicated for
    degenerate zero-norm vectors (NaN cosine passes the threshold there,
    so it must pass here).
    """
    if exact:
        import numpy as np

        from shuttlestandalonedbcreator_spark.operators.util import bounded_collect, fan_out

        # the full matrix ships driver→executors, the same distribution
        # strategy as the BNLJ broadcast this path replaced — but now
        # through the audited cap (r10 verdict: the raw collect had no
        # size guard analogous to bounded_broadcast's)
        rows = bounded_collect(
            vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
            "caller_contract",
            hint="exact=True is the quadratic oracle baseline; at scale "
                 "call cosine_neardup_pairs(exact=False) — LSH-bucketed, "
                 "output-bounded",
        )
        rows = [r for r in rows if r["_v"] is not None]
        if not rows:
            return local_frame(
                vectors.sparkSession, [], "id_a long, id_b long, cosine double"
            )
        b_ids = np.array([r["_id"] for r in rows])
        bm = np.stack([np.asarray(r["_v"], dtype=np.float64) for r in rows])
        bm /= np.linalg.norm(bm, axis=1, keepdims=True)

        def pair_partition(batches):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                ids = pdf["_id"].to_numpy()
                c = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
                c /= np.linalg.norm(c, axis=1, keepdims=True)
                scores = np.round(c @ bm.T, 6)  # (batch, n_corpus)
                # id_a < id_b, rounded cosine >= t — with NaN kept, matching
                # Spark SQL's NaN-greatest ordering on the HOF path
                keep = (ids[:, None] < b_ids[None, :]) & (
                    (scores >= threshold) | np.isnan(scores)
                )
                ai, bj = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "id_a": ids[ai],
                        "id_b": b_ids[bj],
                        "cosine": scores[ai, bj],
                    }
                )

        src = fan_out(
            vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        ).filter(F.col("_v").isNotNull())
        return src.mapInPandas(
            pair_partition, schema="id_a long, id_b long, cosine double"
        )

    from shuttlestandalonedbcreator_spark.operators.util import fan_out

    unit = fan_out(vectors).select(
        F.col(id_col).alias("_id"),
        unit_vector(F.col(vec_col)).alias("_u"),
    )

    # scale path: candidates meet only inside an LSH signature bucket.
    # the bucket is computed under a let-bound _u (1-element array
    # transform) so CollapseProject can't inline the normalization into
    # all `planes` projection folds — without this the unit vector
    # re-evaluates once per plane
    comps = _sign_planes(planes, dim)

    def bucket_of(u: Column) -> Column:
        bits = []
        for p in range(planes):
            plane = F.array(*[F.lit(v) for v in comps[p]])
            proj = F.aggregate(
                F.zip_with(u, plane, lambda x, hcol: x * hcol),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
        return F.concat(*bits)

    tagged = unit.select(
        "_id",
        "_u",
        let(F.col("_u"), bucket_of).alias("_bucket"),
    )
    # pairs meet via ONE bucket-keyed exchange into posting lists, not a
    # two-sided self-join, which computed the normalization and the
    # signature twice per row and shuffled both sides. Sorting a list by
    # _id makes ordered_pairs emit id_a < id_b.
    grouped = (
        tagged.groupBy("_bucket")
        .agg(F.array_sort(F.collect_list(F.struct("_id", "_u"))).alias("_m"))
        .filter(F.size("_m") >= 2)
    )
    return (
        grouped.select(
            ordered_pairs(
                F.col("_m"),
                lambda x, y: F.struct(
                    x["_id"].alias("id_a"),
                    y["_id"].alias("id_b"),
                    F.round(dot(x["_u"], y["_u"]), 6).alias("cosine"),
                ),
            ).alias("_c")
        )
        .select("_c.id_a", "_c.id_b", "_c.cosine")
        .filter(F.col("cosine") >= threshold)
    )


def _sign_planes(planes: int, dim: int) -> list[list[float]]:
    """±1 hyperplane components h[p][d] from md5('{1000+p}|{d}') parity —
    bit-identical to what `md5_long(d, seed=1000+p) % 2` evaluates on
    executors, but computed ONCE here: the components are row-independent
    constants, and the HOF form re-ran dim×planes md5s per ROW (no
    common-subexpression elimination inside lambda bodies), which
    dominated the whole signature pass (~10M digests at sf0.1)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{1000 + p}|{d}".encode()).hexdigest()[:15], 16) % 2 == 0
            else -1.0
            for d in range(dim)
        ]
        for p in range(planes)
    ]


def lsh_topk(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate per-vector top-k via sign-LSH bucketing.

    Each vector gets a `planes`-bit signature (sign of dot with seeded ±1
    hyperplanes); candidates are pairs sharing the full signature bucket.
    Join is keyed on the bucket — output-bounded, no quadratic pass; recall
    is tunable with fewer planes / multiple tables. Deterministic seeds.

    r10: the per-row norm is precomputed once in `tagged` instead of
    re-folding per PAIR inside `cosine` — bit-identical, see
    brute_force_topk. (A posting-list rewrite of the bucket join was
    measured SLOWER here — both-directions expansion per bucket — and
    was not kept.)
    """
    comps = _sign_planes(planes, dim)
    sig_bits = []
    for p in range(planes):
        plane = F.array(*[F.lit(v) for v in comps[p]])
        proj = F.aggregate(
            F.zip_with(F.col(vec_col), plane, lambda x, h: x.cast("double") * h),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig_bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))

    tagged = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        norm(F.col(vec_col)).alias("_nv"),
        F.concat(*sig_bits).alias("_bucket"),
    )
    a, b = tagged.alias("a"), tagged.alias("b")
    cand = a.join(
        b,
        (F.col("a._bucket") == F.col("b._bucket")) & (F.col("a._id") != F.col("b._id")),
    ).select(
        F.col("a._id").alias("query_id"),
        F.col("b._id").alias("neighbor_id"),
        F.round(
            dot(F.col("a._v"), F.col("b._v")) / (F.col("a._nv") * F.col("b._nv")), 6
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("query_id", "neighbor_id", "score", F.col("_rk").alias("rank"))
    )


def label_centroids(vectors: DataFrame, label_col: str, vec_col: str) -> DataFrame:
    """Per-label mean vector as ``(label, centroid array<double>)``.

    Plan shape: posexplode to (label, dim, value) — a narrow expansion of
    dim× the row count — then ONE hash aggregate keyed on (label, dim)
    followed by a reassembly aggregate keyed on label. The result is tiny
    (labels × dims doubles) regardless of corpus size, so callers broadcast
    it back; the per-vector pass that consumes it stays shuffle-free. This
    is the E-step building block for IVF cell refinement / k-means and the
    basis of centroid-distance outlier detection.
    """
    exploded = vectors.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("_d", "_x"),
    )
    per_dim = exploded.groupBy("label", "_d").agg(
        (F.sum(F.col("_x").cast("double")) / F.count(F.lit(1))).alias("_c")
    )
    return per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_d", "_c"))), lambda s: s["_c"]
        ).alias("centroid")
    )


def matmul_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 10,
) -> DataFrame:
    """`brute_force_topk` on the vectorized Arrow path: the query matrix
    (small side, same role as the broadcast in the HOF version) ships to
    executors as one float64 numpy array; the corpus streams through
    mapInPandas where each Arrow batch scores against ALL queries with a
    single BLAS matmul instead of per-pair HOF folds — the standard
    rerank kernel when per-pair expression evaluation becomes the
    bottleneck. Each batch emits only its per-query top-k, so the final
    exact window shuffles k·batches rows per query, not the corpus.

    Same output contract as brute_force_topk: (query_id, neighbor_id,
    score[round 6], rank), ties broken by neighbor_id.
    """
    import numpy as np

    from shuttlestandalonedbcreator_spark.operators.util import bounded_collect

    qrows = bounded_collect(
        queries.select(
            F.col(query_id_col).alias("qid"), F.col(query_vec_col).alias("qv")
        ),
        "query_set",
        hint="the probe set is sized by the request, not the corpus — "
             "shard the queries and run matmul_topk per shard",
    )
    if not qrows:
        # an empty probe set is routine (empty partition/day/tenant) and
        # np.stack([]) throws — return the typed empty result instead
        return local_frame(
            vectors.sparkSession, [],
            "query_id long, neighbor_id long, score double, rank int",
        )
    q_ids = np.array([r["qid"] for r in qrows])
    qm = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in qrows])
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)

    src = vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))

    def score_partition(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["_id"].to_numpy()
            c = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            scores = np.round(c @ qm.T, 6)  # (batch, n_queries)
            top = min(k, len(ids))
            out_q, out_n, out_s = [], [], []
            for j in range(scores.shape[1]):
                # prune on the ROUNDED scores (the final ranking key) and
                # keep everything tied with the k-th boundary value, so
                # batch-local selection can never drop a candidate that the
                # global (score desc, neighbor_id asc) tie-break would keep
                col = scores[:, j]
                boundary = np.partition(col, len(col) - top)[len(col) - top]
                # NaN scores (zero-norm vectors) fail `>= boundary` and drop
                # out of cand — emit len(idx) rows, not a fixed `top`, so the
                # batch columns stay aligned
                cand = np.flatnonzero(col >= boundary)
                order = np.lexsort((ids[cand], -col[cand]))[:top]
                idx = cand[order]
                out_q.extend([q_ids[j]] * len(idx))
                out_n.extend(ids[idx])
                out_s.extend(col[idx])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "score": out_s}
            )

    cand = src.mapInPandas(
        score_partition, schema="query_id long, neighbor_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("query_id", "neighbor_id", "score", F.col("_rk").alias("rank"))
    )
