"""Distributed BPE tokenizer training + encoding.

Extension surface (no reference counterpart): the canonical
training-data-pipeline step the engine's token statistics
(`functions/text.py:bpe_ish_token_count`) only approximate. Algorithm is
the classic byte-pair-encoding merge loop (Sennrich et al., 2016,
"Neural Machine Translation of Rare Words with Subword Units" — public
method):

1. ONE corpus pass: word frequencies (`groupBy word`). Everything after
   operates on the word-frequency VOCAB, which is orders of magnitude
   smaller than the corpus — this is what makes distributed BPE cheap:
   the 100 TB corpus is scanned once, the merge loop touches only
   |distinct words| rows.
2. Per merge round: explode adjacent symbol pairs weighted by word
   count → one aggregate → argmax pair (driver-side, ONE row — bounded
   by construction) → re-encode the vocab's symbol arrays with the new
   merge (Arrow-batched pandas iterator, the only sequential-scan step).
3. Encoding applies the learned merge ranks greedily per word (lowest
   rank first — the standard BPE tokenize), again Arrow-batched.

Size gate: a vocab of at most ``DRIVER_WORDS`` distinct words (a module
constant) runs step 2 on the driver over one collected dict; both paths
take the single argmax pair per round.

Determinism: ties on pair frequency break lexicographically, so the
merge sequence is a pure function of the corpus. End-of-word is the
dedicated sentinel symbol `</w>`.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EOW = "</w>"
# Distinct words at or under which the merge loop runs driver-side over
# one collected vocab dict; a larger vocab takes the distributed rounds.
# Read at call time, so tests patch it.
DRIVER_WORDS = 200_000


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    words = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9']+"),
                lambda x: x != "",
            )
        ).alias("word")
    )
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def _initial_symbols(vocab: DataFrame) -> DataFrame:
    """word → array of single-character symbols + the EOW sentinel."""
    return vocab.select(
        "word",
        "freq",
        F.concat(
            # split on '' emits a trailing '' under Java limit=-1 semantics
            F.filter(F.split(F.col("word"), ""), lambda x: x != ""),
            F.array(F.lit(EOW)),
        ).alias("syms"),
    )


def _merge_syms(s: list, a: str, b: str, merged: str) -> list:
    i, res = 0, []
    while i < len(s):
        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
            res.append(merged)
            i += 2
        else:
            res.append(s[i])
            i += 1
    return res


def _apply_merge_rows(a: str, b: str):
    """mapInPandas body applying the merge (a, b) to every symbol
    array — one Spark job per learned merge."""

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["syms"] = [_merge_syms(list(s), a, b, a + b) for s in pdf["syms"]]
            yield pdf

    return run


def train_bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_freq: int = 2,
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` merges; stops early when no adjacent pair
    reaches ``min_freq``. Returns the ordered merge list.

    Size-adaptive like connected_components: the word-frequency vocab
    must be materialized anyway, and when it holds at most
    ``DRIVER_WORDS`` words the merge loop runs driver-side
    (each distributed round costs ~2 s of job overhead vs microseconds
    of counting on a small dict). A 100 TB corpus's vocab blows past the
    gate and takes the distributed rounds automatically — identical
    output either way (same argmax + lexicographic tie-break)."""
    vocab = _word_counts(docs, text_col).localCheckpoint(eager=True)
    if vocab.count() <= DRIVER_WORDS:
        return _driver_bpe(
            {r["word"]: r["freq"] for r in vocab.collect()}, n_merges, min_freq
        )

    state = _initial_symbols(vocab).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        pairs = state.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1),
                    F.slice(F.col("syms"), 2, F.size("syms") - 1),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )
            ).alias("p"),
        ).filter(F.col("p.a") != EOW)
        top = (
            pairs.groupBy("p")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("p.a"), F.asc("p.b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_freq:
            break
        a, b = top[0]["p"]["a"], top[0]["p"]["b"]
        merges.append((a, b))
        state = state.mapInPandas(
            _apply_merge_rows(a, b), schema=state.schema
        ).localCheckpoint(eager=True)
    return merges


def _driver_bpe(
    vocab: dict[str, int], n_merges: int, min_freq: int
) -> list[tuple[str, str]]:
    """The merge loop over a SMALL (size-gated) word-frequency dict —
    same argmax + lexicographic tie-break as the distributed rounds
    (path-independent output)."""
    symtab = {w: list(w) + [EOW] for w in vocab}
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        pairs: dict[tuple[str, str], int] = {}
        for w, freq in vocab.items():
            s = symtab[w]
            for i in range(len(s) - 1):
                if s[i] != EOW:
                    p = (s[i], s[i + 1])
                    pairs[p] = pairs.get(p, 0) + freq
        if not pairs:
            break
        (a, b), n = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < min_freq:
            break
        merges.append((a, b))
        for w, s in symtab.items():
            symtab[w] = _merge_syms(s, a, b, a + b)
    return merges


def encode_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize each document with the learned merges (greedy
    lowest-rank-first, the standard BPE order). Returns
    (id, tokens array<string>, n_tokens) with the id column keeping the
    INPUT's type (string doc ids pass through unchanged). Arrow-batched;
    the rank table ships inside the closure (bounded by n_merges)."""
    ranks = {tuple(m): i for i, m in enumerate(merges)}

    def encode_word(word: str) -> list[str]:
        s = list(word) + [EOW]
        while len(s) > 1:
            cands = [
                (ranks[(s[i], s[i + 1])], i)
                for i in range(len(s) - 1)
                if (s[i], s[i + 1]) in ranks
            ]
            if not cands:
                break
            rank, _ = min(cands)
            a, b = merges[rank]
            i, res = 0, []
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            s = res
        return s

    import re as _re

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            toks_col, n_col = [], []
            for text in pdf["_text"]:
                toks: list[str] = []
                for w in _re.split(r"[^a-z0-9']+", str(text).lower()):
                    if w:
                        toks.extend(encode_word(w))
                toks_col.append(toks)
                n_col.append(len(toks))
            yield pd.DataFrame(
                {"_id": pdf["_id"], "tokens": toks_col, "n_tokens": n_col}
            )

    src = docs.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    )
    id_type = docs.schema[id_col].dataType.simpleString()
    out = src.mapInPandas(
        run, schema=f"_id {id_type}, tokens array<string>, n_tokens long"
    )
    return out.select(
        F.col("_id").alias(id_col), "tokens", "n_tokens"
    )
