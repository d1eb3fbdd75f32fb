"""Text-analysis column builders (training-data pipeline surface).

Extension operators (no reference counterpart — BASELINE.json north star):
language-ID heuristic, quality scoring, token counting, fingerprinting.
All pure JVM column expressions — scale-free per-row maps, no shuffle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deliberately deterministic + dependency-free (a real deployment would
# plug fasttext/cld3 in via mapInPandas — see streaming/multimodal.py for
# the UDF plumbing pattern).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "nicht", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "la", "que", "de", "es"),
    "zh": ("de5", "shi4", "bu4", "le5", "zai4"),
}


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row.

    Catalyst's CollapseProject substitutes a projected expression into
    every reference, and neither codegen CSE nor higher-order-function
    lambda bodies recover it, so an expression ``body`` reads k times
    runs k times. Passing it through a 1-element ``transform`` binds it
    to the lambda variable instead: it runs once and ``body`` reads the
    variable."""
    return F.get(F.transform(F.array(value), body), 0)


def word_tokens(col: Column) -> Column:
    """Whitespace/punctuation tokenization, lowercased, empties dropped."""
    return F.filter(F.split(F.lower(col), r"[^a-z0-9']+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(word_tokens(col)).cast("long")


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count: word tokens + one extra per 4 chars of
    long words (a cheap deterministic stand-in for BPE tokenizers)."""
    toks = word_tokens(col)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.lit(1) + F.floor(F.length(t) / F.lit(4.0)).cast("long"),
    )


def stopword_ratio(col: Column) -> Column:
    """Share of word tokens that are English stopwords
    (``LANG_MARKERS["en"]``); 0.0 for a text with no tokens. The
    tokenization is let-bound once."""

    def ratio(toks: Column) -> Column:
        hits = F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS["en"])))
        return F.when(
            F.size(toks) > 0, hits.cast("double") / F.size(toks).cast("double")
        ).otherwise(F.lit(0.0))

    return let(word_tokens(col), ratio)


def punct_ratio(col: Column) -> Column:
    total = F.length(col)
    punct = F.length(F.regexp_replace(col, r"[^\.,;:!\?'\"]", ""))
    return F.when(total > 0, punct.cast("double") / total.cast("double")).otherwise(F.lit(0.0))


def quality_score(col: Column, toks: Column | None = None) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    reasonable mean word length. Deterministic, per-row, shuffle-free.

    Pass a pre-materialized token-array column as ``toks`` to share one
    tokenization across several metrics; with ``toks=None`` the
    tokenization is let-bound once."""
    if toks is None:
        return let(word_tokens(col), lambda t: quality_score(col, t))
    n_tok = F.size(toks).cast("long")
    mean_wl = F.when(
        n_tok > 0,
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
        ).cast("double")
        / n_tok.cast("double"),
    ).otherwise(F.lit(0.0))
    len_component = F.least(n_tok.cast("double") / F.lit(50.0), F.lit(1.0))
    wl_component = F.when((mean_wl >= 3.0) & (mean_wl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_component = F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    return F.round((len_component + wl_component + punct_component) / F.lit(3.0), 6)


def lang_id(col: Column, toks: Column | None = None) -> Column:
    """Marker-lexicon language guess: language with the most marker hits;
    'und' (undetermined) when nothing matches. With ``toks=None`` the
    tokenization is let-bound once instead of being re-substituted into
    each of the five marker filters."""
    if toks is None:
        return let(word_tokens(col), lambda t: lang_id(col, t))
    scores = [
        F.size(F.filter(toks, lambda t: t.isin(*markers))).alias(lang)
        for lang, markers in LANG_MARKERS.items()
    ]
    pairs = F.array(
        *[
            F.struct(s.cast("long").alias("hits"), F.lit(lang).alias("lang"))
            for lang, s in zip(LANG_MARKERS, scores)
        ]
    )
    best = F.array_max(pairs)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def word_ngrams_all(toks: Column, n: int) -> Column:
    """ALL word n-grams (non-distinct, space-joined) of a token array —
    repetition metrics need occurrence counts, unlike the distinct shingle
    sets used for Jaccard (operators/dedup.py:word_ngrams)."""
    if n == 1:
        return toks
    counts = F.size(toks) - F.lit(n - 1)
    # sequence(1, 0) would produce a DESCENDING [1, 0] — guard explicitly
    return F.when(
        counts >= 1,
        F.transform(
            F.sequence(F.lit(1), counts),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_bigrams(toks: Column) -> Column:
    """Adjacent token pairs of a token array as ``struct(w1, w2)`` in
    order; empty for fewer than 2 tokens. Reads ``toks`` three times, so
    pass a column or a ``let`` variable, not a tokenizer expression."""
    # slice rejects a negative length, which a 0-token array would give
    n = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, n),
        F.slice(toks, 2, n),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


def _max_run(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a sorted array = the max
    occurrence count of any element. Single aggregate pass with a
    (prev, run, best) struct accumulator — per-row, shuffle-free."""
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(sorted_arr, zero, step, lambda acc: acc["best"])


def top_ngram_frac(toks: Column, n: int = 2) -> Column:
    """Fraction of n-gram occurrences taken by the single most frequent
    n-gram (Gopher-style repetition signal: boilerplate/spam documents
    score high). 0.0 for docs with no n-grams. Pure per-row map — at any
    scale this is scan-parallel with zero network traffic."""
    grams = word_ngrams_all(toks, n)
    total = F.size(grams)
    frac = _max_run(F.array_sort(grams)).cast("double") / total.cast("double")
    # single exact-integer division: unrounded is bit-identical cross-engine
    return F.when(total > 0, frac).otherwise(F.lit(0.0))


def dup_ngram_frac(toks: Column, n: int = 3) -> Column:
    """Fraction of n-gram occurrences that are redundant repeats
    (total - distinct) / total — the second Gopher repetition axis; high
    values mean the document loops over its own phrases."""
    grams = word_ngrams_all(toks, n)
    total = F.size(grams)
    frac = (total - F.size(F.array_distinct(grams))).cast("double") / total.cast("double")
    return F.when(total > 0, frac).otherwise(F.lit(0.0))


def doc_fingerprint(col: Column) -> Column:
    """Content fingerprint: md5 of the normalized token stream — stable
    under whitespace/case/punctuation-spacing changes (the rolling-hash
    fingerprint class of the north star, realized portably)."""
    return F.md5(F.array_join(word_tokens(col), " "))


# ---------------------------------------------------------------------------
# PII detection / scrubbing (curation-pipeline privacy gate)
# ---------------------------------------------------------------------------

# Patterns are kept to the Java-regex ∩ RE2 common subset (no backrefs, no
# lookaround) so Spark (java.util.regex) and DuckDB (RE2) match the SAME
# spans — cross-engine parity is part of the contract, not luck.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]{4}"
PII_IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"


def pii_count(col: Column, pattern: str) -> Column:
    """Number of PII spans matched in the column (JVM-side regex)."""
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def scrub_pii(col: Column) -> Column:
    """Redact emails → <EMAIL>, phones → <PHONE>, IPv4 → <IP> (in that
    order; replacement tokens can't create new matches). Spark's
    regexp_replace is global by default — DuckDB needs the 'g' flag."""
    out = F.regexp_replace(col, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")
    return F.regexp_replace(out, PII_IPV4_RE, "<IP>")
