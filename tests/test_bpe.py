"""Distributed BPE training/encoding vs an independent pure-Python
reference implementation, plus structural invariants on the real corpus."""

from __future__ import annotations

import re
from collections import Counter

from shuttlestandalonedbcreator_spark.operators import bpe
from shuttlestandalonedbcreator_spark.operators.bpe import (
    EOW,
    encode_bpe,
    train_bpe_merges,
)


def _ref_bpe(texts: list[str], n_merges: int, min_freq: int = 2):
    """Reference BPE (Sennrich et al.): word-frequency dict, argmax pair
    per round with lexicographic tie-break — written independently of
    the Spark implementation."""
    vocab = Counter()
    for t in texts:
        for w in re.split(r"[^a-z0-9']+", t.lower()):
            if w:
                vocab[w] += 1
    symtab = {w: list(w) + [EOW] for w in vocab}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for w, freq in vocab.items():
            s = symtab[w]
            for i in range(len(s) - 1):
                if s[i] != EOW:
                    pairs[(s[i], s[i + 1])] += freq
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if best[1] < min_freq:
            break
        (a, b), _n = best
        merges.append((a, b))
        for w in symtab:
            s = symtab[w]
            i, res = 0, []
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            symtab[w] = res
    return merges


def test_bpe_training_matches_reference(spark, monkeypatch):
    texts = [
        "the cat sat on the mat",
        "the cats sat on the mats",
        "low lower lowest new newer newest",
        "the low cat the new mat",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    want = _ref_bpe(texts, n_merges=15, min_freq=2)
    fast = train_bpe_merges(docs, "text", n_merges=15, min_freq=2)  # driver path
    monkeypatch.setattr(bpe, "DRIVER_WORDS", 0)
    slow = train_bpe_merges(docs, "text", n_merges=15, min_freq=2)  # distributed
    assert fast == want and slow == want and len(want) > 5


def test_bpe_encode_round_trips_words(spark):
    """Encoding invariants on the real corpus: concatenating a word's
    tokens reconstructs the word + EOW sentinel; every token that merges
    something appears in the learned merge products; token count is
    bounded by character count + word count."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(50)
        .select("doc_id", "text")
    )
    merges = train_bpe_merges(docs, "text", n_merges=30, min_freq=2)
    assert len(merges) > 0
    enc = encode_bpe(docs, merges, "text", "doc_id")
    rows = enc.collect()
    assert len(rows) == 50
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    products = {a + b for a, b in merges}
    for r in rows:
        words = [w for w in re.split(r"[^a-z0-9']+", texts[r["doc_id"]].lower()) if w]
        # token stream reassembles exactly into the normalized words
        joined = "".join(r["tokens"]).replace(EOW, " ").split()
        assert joined == words
        assert r["n_tokens"] == len(r["tokens"])
        # compression: multi-char tokens exist and come from learned merges
        for t in r["tokens"]:
            base = t[:-4] if t.endswith(EOW) else t
            if len(base) > 1 or (t.endswith(EOW) and len(t) > 4):
                assert t in products, t


def test_bpe_encode_prefers_lowest_rank(spark):
    """Greedy lowest-rank-first: with merges [(a,b),(ab,c)] the word
    'abc' must become ['abc</w>'-less chain] via ab first, never (b,c)."""
    docs = spark.createDataFrame([(1, "abc abc ab")], "doc_id long, text string")
    merges = train_bpe_merges(docs, "text", n_merges=5, min_freq=2)
    enc = {r["doc_id"]: r["tokens"] for r in encode_bpe(docs, merges, "text", "doc_id").collect()}
    toks = enc[1]
    # 'ab' is the most frequent pair (3 occurrences) so it merges first
    assert merges[0] == ("a", "b")
    assert all("b" + EOW not in t for t in toks)


def test_bpe_encode_preserves_string_id_type(spark):
    """encode_bpe must carry the input id column's TYPE through the
    mapInPandas schema — string doc ids pass through unchanged instead
    of failing a hardcoded long cast."""
    docs = spark.createDataFrame(
        [("doc-a", "low lower lowest"), ("doc-b", "new newer newest")],
        "doc_id string, text string",
    )
    merges = train_bpe_merges(docs, "text", n_merges=10, min_freq=2)
    enc = encode_bpe(docs, merges, "text", "doc_id")
    assert enc.schema["doc_id"].dataType.simpleString() == "string"
    got = {r["doc_id"] for r in enc.collect()}
    assert got == {"doc-a", "doc-b"}
