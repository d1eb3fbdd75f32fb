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

Determinism: ties on pair frequency break lexicographically, so the
merge sequence is a pure function of the corpus. End-of-word is the
dedicated sentinel symbol `</w>`.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EOW = "</w>"


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


def _apply_merges_rows(pairs: list[tuple[str, str]]):
    """mapInPandas body applying ``pairs`` SEQUENTIALLY in rank order —
    one Spark job for the whole batch of merges."""

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            out = []
            for syms in pdf["syms"]:
                s = list(syms)
                for a, b in pairs:
                    s = _merge_syms(s, a, b, a + b)
                out.append(s)
            pdf = pdf.copy()
            pdf["syms"] = out
            yield pdf

    return run


def _select_batch(
    ranked: list[tuple[tuple[str, str], int]],
    batch_size: int,
    min_freq: int,
) -> list[tuple[str, str]]:
    """Greedy top-K pairwise-DISJOINT pair selection in (count desc,
    lex) order. Disjoint pairs' counts are unaffected by each other's
    application (a merge only destroys/creates pairs sharing one of its
    symbols), so within the batch each selected pair's count is exact;
    the approximation vs strict sequential BPE is only that a pair
    NEWLY CREATED by an earlier batch member cannot be selected until
    the next round."""
    chosen: list[tuple[str, str]] = []
    used: set[str] = set()
    for (a, b), n in ranked:
        if n < min_freq:
            break
        if a in used or b in used:
            continue
        chosen.append((a, b))
        used.update((a, b, a + b))
        if len(chosen) >= batch_size:
            break
    return chosen


def train_bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_freq: int = 2,
    driver_threshold: int = 200_000,
    batch_size: int = 1,
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` merges; stops early when no adjacent pair
    reaches ``min_freq``. Returns the ordered merge list.

    Size-adaptive like connected_components: the word-frequency vocab
    must be materialized anyway, and when it holds at most
    ``driver_threshold`` words the merge loop runs driver-side
    (each distributed round costs ~2 s of job overhead vs microseconds
    of counting on a small dict). A 100 TB corpus's vocab blows past the
    gate and takes the distributed rounds automatically — identical
    output either way (same argmax + lexicographic tie-break).

    ``batch_size`` > 1 applies up to that many pairwise-DISJOINT merges
    per round (selected from one pair-count job in count-desc/lex
    order, applied sequentially in one mapInPandas pass), cutting the
    Spark-job count ~batch_size× — the difference between 2×32k jobs
    and ~2×2k for a real 32k-vocab tokenizer. Within a batch every
    selected pair's count is exact (disjoint merges can't change each
    other's counts); the only deviation from strict sequential BPE is
    that a pair CREATED by an earlier batch member waits for the next
    round even if it would have outranked a later member. Driver and
    distributed paths implement identical batched selection, so output
    is path-independent at every ``batch_size``."""
    vocab = _word_counts(docs, text_col).localCheckpoint(eager=True)
    if vocab.count() <= driver_threshold:
        return _driver_bpe(
            {r["word"]: r["freq"] for r in vocab.collect()},
            n_merges,
            min_freq,
            batch_size,
        )

    state = _initial_symbols(vocab).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        k = min(batch_size, n_merges - len(merges))
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
        # 4k candidates cover the k disjoint picks with headroom; the
        # selection consumes at most 2 symbols + 1 product per pick
        top = (
            pairs.groupBy("p")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("p.a"), F.asc("p.b"))
            .limit(max(4 * k, 8))
            .collect()
        )
        batch = _select_batch(
            [((r["p"]["a"], r["p"]["b"]), r["n"]) for r in top], k, min_freq
        )
        if not batch:
            break
        merges.extend(batch)
        state = state.mapInPandas(
            _apply_merges_rows(batch), schema=state.schema
        ).localCheckpoint(eager=True)
    return merges


def _driver_bpe(
    vocab: dict[str, int], n_merges: int, min_freq: int, batch_size: int = 1
) -> list[tuple[str, str]]:
    """The merge loop over a SMALL (size-gated) word-frequency dict —
    same argmax + lexicographic tie-break AND same batched disjoint
    selection as the distributed rounds (path-independent output)."""
    symtab = {w: list(w) + [EOW] for w in vocab}
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        k = min(batch_size, n_merges - len(merges))
        pairs: dict[tuple[str, str], int] = {}
        for w, freq in vocab.items():
            s = symtab[w]
            for i in range(len(s) - 1):
                if s[i] != EOW:
                    p = (s[i], s[i + 1])
                    pairs[p] = pairs.get(p, 0) + freq
        if not pairs:
            break
        ranked = sorted(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        # same candidate horizon as the distributed path's LIMIT, so the
        # two paths select identically by construction
        batch = _select_batch(ranked[: max(4 * k, 8)], k, min_freq)
        if not batch:
            break
        merges.extend(batch)
        for w, s in symtab.items():
            for a, b in batch:
                s = _merge_syms(s, a, b, a + b)
            symtab[w] = s
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
