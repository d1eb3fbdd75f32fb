"""Unit tests for connected components / cluster keep-lists and the
per-row repetition metrics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.functions import text as T
from shuttlestandalonedbcreator_spark.operators import dedup as D
from shuttlestandalonedbcreator_spark.operators import graph
from shuttlestandalonedbcreator_spark.operators.graph import (
    cluster_keep_list,
    connected_components,
)


@pytest.fixture
def propagation(monkeypatch):
    """A zero driver gate sends every graph past the union-find into the
    distributed label propagation."""
    monkeypatch.setattr(graph, "DRIVER_EDGES", 0)


def _components(spark, edges):
    df = spark.createDataFrame(edges, "a long, b long")
    return {
        r["id"]: r["component"]
        for r in connected_components(df, "a", "b").collect()
    }


def test_components_two_clusters(spark, propagation):
    got = _components(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_components_chain_needs_propagation(spark, propagation):
    # a path graph is the worst case for label propagation (diameter = n);
    # 8 nodes converges well inside the default round budget
    got = _components(spark, [(i, i + 1) for i in range(1, 8)])
    assert set(got.values()) == {1} and len(got) == 8


def test_components_cycle_terminates(spark, propagation):
    got = _components(spark, [(1, 2), (2, 3), (3, 1)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_components_nonconvergence_raises(spark, propagation, monkeypatch):
    monkeypatch.setattr(graph, "MAX_ROUNDS", 2)
    df = spark.createDataFrame([(i, i + 1) for i in range(1, 30)], "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        connected_components(df, "a", "b")


def test_cluster_keep_list_isolated_docs_keep_themselves(spark):
    docs = spark.createDataFrame([(1,), (2,), (3,), (4,)], "doc_id long")
    pairs = spark.createDataFrame([(2, 4)], "id_a long, id_b long")
    got = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in cluster_keep_list(docs, pairs, "doc_id").collect()
    }
    assert got == {1: (1, 1), 2: (2, 1), 3: (3, 1), 4: (2, 0)}


def test_cluster_keep_list_no_pairs_at_all(spark):
    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in cluster_keep_list(docs, pairs, "doc_id").collect()
    }
    assert got == {1: (1, 1), 2: (2, 1)}


def test_repetition_metrics(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),  # one bigram repeated
            (2, "all distinct words here now"),  # no repetition
            (3, "x"),  # no bigrams/trigrams at all
        ],
        "doc_id long, text string",
    )
    toks = D.tokens(F.col("text"))
    got = {
        r["doc_id"]: (r["t2"], r["d3"])
        for r in df.select(
            "doc_id",
            T.top_ngram_frac(toks, n=2).alias("t2"),
            T.dup_ngram_frac(toks, n=3).alias("d3"),
        ).collect()
    }
    assert got[1] == (1.0, 0.5)  # 3×"spam spam"; trigrams: 2 total, 1 distinct
    assert got[2] == (0.25, 0.0)  # 4 distinct bigrams → max run 1
    assert got[3] == (0.0, 0.0)  # empty gram arrays → 0, not NULL


def test_driver_union_find_equals_distributed_propagation(spark, monkeypatch):
    """The size-gated driver union-find and the distributed label
    propagation must produce identical (id, component) labelings on a
    random graph with chains, triangles, stars, and isolated pairs."""
    import random

    random.seed(5)
    edges = [(i, i + 1) for i in range(0, 12)]            # chain
    edges += [(20, 21), (21, 22), (22, 20)]               # triangle
    edges += [(30, x) for x in range(31, 45)]             # star
    edges += [(100, 101)]                                 # isolated pair
    edges += [(random.randrange(200, 260), random.randrange(200, 260)) for _ in range(60)]
    df = spark.createDataFrame(edges, "a long, b long")
    fast = {
        (r["id"], r["component"])
        for r in connected_components(df, "a", "b").collect()  # driver path
    }
    monkeypatch.setattr(graph, "DRIVER_EDGES", 0)
    slow = {
        (r["id"], r["component"])
        for r in connected_components(df, "a", "b").collect()  # distributed
    }
    assert fast == slow and len(fast) > 0
