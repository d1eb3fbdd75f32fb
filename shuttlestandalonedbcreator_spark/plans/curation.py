"""End-to-end training-corpus curation: the composition of the
training-pipeline operator families into one declarative plan.

    quality gates (lang-ID, score, repetition)   — narrow per-row maps
    → near-dup clustering (MinHash-LSH → components → canonical keep)
    → deterministic split assignment             — narrow hash map
    → write partitioned by split

Scale shape: the only shuffles are the LSH band posting lists and the
components propagation (both output-bounded, keyed); every filter is a
per-row map computed in the same scan; the split label is a pure hash of
the id (re-derivable anywhere, no assignment table). The partitioned
write gives downstream trainers partition-pruned reads per split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.functions import text as T
from shuttlestandalonedbcreator_spark.operators.dedup import minhash_lsh_pairs, tokens
from shuttlestandalonedbcreator_spark.operators.graph import cluster_keep_list
from shuttlestandalonedbcreator_spark.operators.sampling import hash_split

SPLITS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]


def curate_corpus(docs: DataFrame, quality_threshold: float = 0.75) -> DataFrame:
    """Return the curated, split-labeled corpus: ``doc_id``/``text`` rows
    that pass the language, quality (``quality_threshold``) and
    repetition (top bigram and duplicate trigram share at most 0.2)
    gates and are the canonical member of their near-dup cluster
    (Jaccard 0.5), with a ``split`` column appended (``SPLITS``, seed 7).
    """
    text, toks = F.col("text"), F.col("_toks")
    gated = (
        docs.withColumn("_toks", tokens(text))
        .filter(T.lang_id(text, toks) != "und")
        .filter(T.quality_score(text, toks) >= quality_threshold)
        .filter(T.top_ngram_frac(toks, n=2) <= 0.2)
        .filter(T.dup_ngram_frac(toks, n=3) <= 0.2)
        .drop("_toks")
    )
    pairs = minhash_lsh_pairs(gated, "doc_id", "text", threshold=0.5)
    kept = (
        cluster_keep_list(gated, pairs, "doc_id")
        .filter(F.col("keep") == 1)
        .drop("cluster_id", "keep")
    )
    return hash_split(kept, "doc_id", SPLITS, seed=7)


def write_curated_observed(
    docs: DataFrame,
    out_dir: str,
    quality_threshold: float = 0.75,
) -> tuple[DataFrame, dict]:
    """Curate and persist, partitioned by split (pruned reads per split
    for downstream consumers), with in-flight pipeline metrics via
    `observe()`: the survivor count, distinct languages, and split
    histogram are accumulated DURING the write — zero extra passes over
    the data, which at 100 TB is the difference between free telemetry
    and a second job. Returns (curated_df, metrics_dict).
    """
    from pyspark.sql import Observation

    obs = Observation("curation")
    curated = curate_corpus(docs, quality_threshold=quality_threshold).observe(
        obs,
        F.count(F.lit(1)).alias("n_kept"),
        F.approx_count_distinct("lang").alias("n_langs"),
        F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
        F.count(F.when(F.col("split") == "val", 1)).alias("n_val"),
        F.count(F.when(F.col("split") == "test", 1)).alias("n_test"),
    )
    curated.write.partitionBy("split").mode("overwrite").parquet(out_dir)
    return curated, dict(obs.get)
