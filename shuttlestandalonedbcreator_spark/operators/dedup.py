"""Deduplication operators.

Reference parity:
- ``last_write_wins`` ≅ `INSERT OR REPLACE` on UNIQUE(file_name,
  target_file_id) — re-import keeps the LATEST row per key
  (SQLiteDirectImporter.java:306, 713; operator A1).

Scale extensions (training-data pipeline surface, BASELINE.json north star):
- ``exact_dedup``        — content-hash dedup (hash-groupBy, one shuffle).
- ``ngram_jaccard_pairs``— n-gram-set Jaccard near-dup pairs via an
  inverted-index join (explode→join on shingle→agree-count), never a
  cross join.
- ``prefix_filter_pairs``— exact Jaccard pairs of caller-built sets by
  prefix filtering (AllPairs/PPJoin): candidates only from the
  df-ordered prefix postings, verified with integer algebra.
- ``minhash_lsh_pairs``  — MinHash signatures + LSH banding; candidate
  pairs only from shared buckets. The scale path for 100 TB: cost is
  O(docs × shingles) + one exchange keyed on (band, bucket-hash) into
  signature-carrying posting lists, verified inside the pair expansion.
- ``simhash``            — 64-bit SimHash fingerprints per doc;
  near-dup = small Hamming distance, candidates from band equality.

Hashes are deterministic in any run. The ones an oracle must replay
value for value (minhash permutations, LSH buckets, simhash token bits)
are built from md5, which every engine has. Shingles that are only join
and count keys are ``xxhash64`` (``word_ngram_hashes``): the oracle
re-derives the same counts from the gram text itself.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.functions.text import let
from shuttlestandalonedbcreator_spark.operators.util import fan_out, ordered_pairs


# ---------------------------------------------------------------------------
# portable deterministic hashing
# ---------------------------------------------------------------------------

def md5_long(col: Column, seed: int = 0) -> Column:
    """First 15 hex digits of md5(seed||value) as a non-negative long.

    15 hex digits = 60 bits < 2^63, so the conv() result is an exact
    non-negative long. Portable: identical in DuckDB via
    ``CAST(('0x' || substr(md5(...),1,15)) AS BIGINT)``-equivalent hacks.
    """
    payload = F.concat(F.lit(f"{seed}|"), col.cast("string"))
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# A1: keyed last-write-wins upsert
# ---------------------------------------------------------------------------

def last_write_wins(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep, per key tuple, the row with the greatest ``order_col``
    (ties broken arbitrarily-but-deterministically by all columns via the
    window's implicit ordering on order_col only — callers pass a unique
    sequence like an ingest counter, matching the reference's arrival
    order).

    One shuffle on the key columns; at scale this is the idiomatic
    replacement for SQLite's `INSERT OR REPLACE` and is equivalent to a
    Delta `MERGE WHEN MATCHED UPDATE`.
    """
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(F.desc(order_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# exact content dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact-duplicate removal by content hash: keeps the smallest id per
    distinct content. Single hash-aggregate shuffle keyed on a 128-bit
    digest (collision-safe at 100 TB scales); the winner row is recovered
    by a self-semi-join on (hash, id) — still one shuffle stage thanks to
    AQE reuse, and never a driver collect."""
    hashed = df.withColumn("_h", F.md5(F.col(content_col).cast("string")))
    winners = hashed.groupBy("_h").agg(F.min(F.col(id_col)).alias(id_col))
    return (
        hashed.join(winners, ["_h", id_col], "left_semi")
        .drop("_h")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (inverted index join)
# ---------------------------------------------------------------------------

def tokens(col: Column) -> Column:
    """Lowercased word tokens (non-empty)."""
    return F.filter(F.split(F.lower(col), r"[^a-z0-9]+"), lambda t: t != "")


def word_ngrams(col: Column, n: int) -> Column:
    """Distinct word n-grams (joined with single spaces) of a text column.

    Built entirely from higher-order functions (JVM-side): for n==1 this is
    the distinct token set; for n>1, transform over a sequence of start
    offsets, slicing the token array.
    """
    if n == 1:
        return F.array_distinct(tokens(col))

    def grams_of(t: Column) -> Column:
        counts = F.size(t) - F.lit(n - 1)
        # sequence(1, 0) would produce a DESCENDING [1, 0] — guard explicitly
        return F.when(counts >= 1, F.transform(
            F.sequence(F.lit(1), counts),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        )).otherwise(F.array().cast("array<string>"))

    return F.array_distinct(let(tokens(col), grams_of))


def word_ngram_hashes(col: Column, n: int) -> Column:
    """Distinct 64-bit hashes of word n-grams — `xxhash64` over the n
    token columns directly, so NO gram strings are ever materialized
    (measured ~3× the string-gram path at n=5). Use wherever the gram is
    only a join/count key computed on the Spark side of a query; the
    oracle re-derives the same counts from text grams, so results agree
    absent 64-bit collisions (~m²/2⁶⁵ — the same risk class as any
    hash-keyed shuffle). NOT for minhash signatures, which the oracle
    must replay hash-for-hash (md5 family there).

    The token array is let-bound: referencing ``tokens(col)`` directly
    inside the per-gram lambda re-evaluates the tokenizer per element
    reference (measured ~10× slower).
    """
    def grams_of(t: Column) -> Column:
        counts = F.size(t) - F.lit(n - 1)
        # sequence(1, 0) would produce a DESCENDING [1, 0] — guard explicitly
        return F.when(counts >= 1, F.transform(
            F.sequence(F.lit(1), counts),
            lambda i: F.xxhash64(*[F.element_at(t, i + j) for j in range(n)]),
        )).otherwise(F.array().cast("array<bigint>"))

    return F.array_distinct(let(tokens(col), grams_of))


def _ngram_pair_intersections(
    df: DataFrame, id_col: str, text_col: str, n: int,
    jaccard_floor: float | None = None,
) -> DataFrame:
    """Shared inverted-index core for the exact set-overlap detectors:
    (id_a, id_b, _inter, _sza, _szb) for every doc pair sharing at least
    one n-gram, id_a < id_b. One shuffle of the index instead of a
    two-sided self-join; shingles unique to one doc produce no pairs.

    ``jaccard_floor``: when the caller will drop pairs below a Jaccard
    threshold t, pass t here to prune size-incompatible pairs INSIDE the
    posting-list expansion, before the pair exchange (guide §2.3 —
    shuffle fewer bytes). Lossless: with a = min(|A|,|B|), b = max, the
    maximum achievable Jaccard is a/(|A|+|B|-a) = a/b (at inter = a),
    and double division is weakly monotone in the integer inter, so the
    prune uses the EXACT expression the final filter evaluates at
    inter = a — no pair that could pass the threshold is dropped
    (measured: 24 % / 63 % of pair occurrences pruned pre-exchange at
    t = 0.5 / 0.8, sf0.1). Leave None for floor-free consumers
    (containment, audits)."""
    shingled = fan_out(df).select(
        F.col(id_col).alias("_id"),
        word_ngram_hashes(F.col(text_col), n).alias("_grams"),
    )
    # 8-byte join keys hashed straight from the token columns (no gram
    # strings ever built — see word_ngram_hashes); the doc's shingle-set
    # size rides along so the final Jaccard needs NO join back — the whole
    # operator is one linear pipeline, shingling runs exactly once
    inv = shingled.select(
        F.col("_id"),
        F.size("_grams").alias("_sz"),
        F.explode("_grams").alias("_g"),
    )
    # posting list per shingle; singleton lists contribute nothing
    postings = (
        inv.groupBy("_g")
        .agg(F.array_sort(F.collect_list(F.struct("_id", "_sz"))).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    def floor(p: Column) -> Column:
        return F.least(p["sza"], p["szb"]).cast("double") / F.greatest(
            p["sza"], p["szb"]
        ).cast("double") >= F.lit(jaccard_floor)

    pairs = postings.select(
        ordered_pairs(
            F.col("_ids"),
            lambda x, y: F.struct(
                x["_id"].alias("a"), x["_sz"].alias("sza"),
                y["_id"].alias("b"), y["_sz"].alias("szb"),
            ),
            None if jaccard_floor is None else floor,
        ).alias("_p")
    )
    return pairs.groupBy(F.col("_p.a").alias("id_a"), F.col("_p.b").alias("id_b")).agg(
        F.count(F.lit(1)).alias("_inter"),
        F.first("_p.sza").alias("_sza"),
        F.first("_p.szb").alias("_szb"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All unordered doc pairs with n-gram-set Jaccard >= threshold.

    Plan shape (scale-safe, exact): build an inverted index keyed on a
    64-bit shingle hash (8-byte shuffle keys, not 30-byte strings), group
    into posting lists, and expand pairs WITHIN each posting list — one
    shuffle of the index instead of a two-sided self-join, and shingles
    unique to one doc (the vast majority in real corpora) produce no pairs
    at all. Intersection = pair count across shingles; Jaccard =
    inter/(|A|+|B|-inter). A hot shingle (stop-phrase) still expands
    quadratically — that is inherent to exact Jaccard; use minhash_lsh for
    the sub-quadratic approximate path. Returns (id_a, id_b, jaccard),
    id_a < id_b.
    """
    inter = _ngram_pair_intersections(
        df, id_col, text_col, n, jaccard_floor=threshold
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("_inter").cast("double")
            / (F.col("_sza") + F.col("_szb") - F.col("_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric near-dup: doc pairs where the SMALLER n-gram set is
    mostly contained in the larger — containment = |A∩B| / min(|A|,|B|).

    Jaccard misses quote/excerpt relationships (a 100-gram doc fully
    inside a 10,000-gram doc has Jaccard ≈ 0.01 but containment 1.0);
    this is the detector for "document X is substantially a subset of
    document Y" in training-data curation. Same single-shuffle inverted-
    index core as ngram_jaccard_pairs. Returns (contained_id,
    container_id, containment); on equal set sizes the lower id is
    reported as contained (deterministic).
    """
    inter = _ngram_pair_intersections(df, id_col, text_col, n)
    small_first = F.col("_sza") <= F.col("_szb")  # tie → a (lower id)
    return (
        inter.withColumn(
            "containment",
            F.col("_inter").cast("double")
            / F.least("_sza", "_szb").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select(
            F.when(small_first, F.col("id_a")).otherwise(F.col("id_b")).alias("contained_id"),
            F.when(small_first, F.col("id_b")).otherwise(F.col("id_a")).alias("container_id"),
            "containment",
        )
    )


# ---------------------------------------------------------------------------
# prefix-filtered exact Jaccard join
# ---------------------------------------------------------------------------

def prefix_filter_pairs(
    sets: DataFrame, id_col: str, set_col: str, threshold: Fraction
) -> DataFrame:
    """All id_a < id_b pairs of ``sets`` whose ``set_col`` arrays (distinct
    elements, e.g. ``word_ngram_hashes``) have Jaccard >= ``threshold``,
    by PREFIX FILTERING (the AllPairs/PPJoin family; Bayardo et al.,
    WWW'07): order each set's elements by ascending global document
    frequency and keep the first n - ceil(t·n) + 1 ("prefix"); any pair
    with Jaccard >= t MUST share a prefix element, so candidates come
    from the prefix postings alone and are then verified exactly. Returns
    (id_a, id_b, inter_cnt, union_cnt). The caller owns any size floor:
    filter ``sets`` before the call.

    Scale: the prefix postings are a small, rare-element-biased slice of
    the full inverted index — hot boilerplate shingles (the quadratic
    hazard of plain posting-list joins) sort LAST by df and rarely enter
    any prefix, so candidate blow-up is structurally damped. Prefix
    filtering is lossless under ANY consistent element total order, so
    (df, element) is valid for any hash family. With t = num/den every
    test is integer algebra — no float boundary:
    - prefix length n − (num·n + den − 1) div den + 1;
    - in-expansion size test (num+den)·min(nx, ny) ≥ num·(nx+ny);
    - accumulated positional bound (below);
    - verify den·inter ≥ num·union.
    Verification joins the candidates back to the input arrays
    (array_intersect, exact counts). ``sets`` is eagerly checkpointed
    once: four consumers (df table, prefix ranking and both verify
    sides) would each re-run its pipeline otherwise."""
    num, den = threshold.numerator, threshold.denominator
    base = sets.select(
        F.col(id_col).alias("_id"),
        F.col(set_col).alias("_arr"),
        F.size(set_col).cast("long").alias("n"),
    ).localCheckpoint(eager=True)
    grams = base.select("_id", "n", F.explode("_arr").alias("hh"))
    df_tbl = grams.groupBy("hh").agg(F.count(F.lit(1)).alias("df"))
    wrk = Window.partitionBy("_id").orderBy(F.col("df").asc(), F.col("hh").asc())
    ranked = grams.join(df_tbl, "hh").withColumn("rk", F.row_number().over(wrk))
    # ceil(num·n/den) = (num·n + den − 1) div den
    pre = ranked.filter(
        F.col("rk")
        <= F.col("n") - F.expr(f"({num} * n + {den - 1}) div {den}") + F.lit(1)
    ).select("_id", "n", "hh", "rk")
    plists = pre.groupBy("hh").agg(
        F.array_sort(F.collect_set(F.struct("_id", "n", "rk"))).alias("ids")
    )
    # The accumulated PPJoin positional bound (Xiao et al., WWW'08) over
    # ALL of a pair's c prefix co-occurrences, taken instead of the
    # recursive suffix filter, which would need whole arrays inside the
    # posting lists. Both sets are ranked by the SAME global (df, hh)
    # order, so (a) the c co-occurrences are EXACTLY the common elements
    # up to the last co-occurrence and (b) the co-occurrence maximizing
    # rkx also maximizes rky. Common elements after it number at most
    # min(nx − rkx_max, ny − rky_max), so
    #     inter ≤ c + min(nx − rkx_max, ny − rky_max)
    # and the verify condition den·inter ≥ num·(nx+ny−inter) ⇔
    # (num+den)·inter ≥ num·(nx+ny) is increasing in inter: a verifying
    # pair always passes, so the bound is lossless. It is the tightest of
    # the per-occurrence bounds (rk grows by ≥ 1 per step). The per-pair
    # aggregation is the single (id_a, id_b)-keyed exchange, and the
    # in-expansion filter keeps only the PAIR-CONSTANT size test (an
    # occurrence-dependent pre-filter would corrupt c). Measured at sf0.1
    # (t = 3/5): 193,134 candidates under the size test → 66,352 under
    # the accumulated bound; the candidate volume is what the verify join
    # re-attaches full arrays to.
    occ = plists.select(
        ordered_pairs(
            F.col("ids"),
            lambda x, y: F.struct(
                x["_id"].alias("id_a"), y["_id"].alias("id_b"),
                x["n"].alias("nx"), y["n"].alias("ny"),
                x["rk"].alias("rkx"), y["rk"].alias("rky"),
            ),
            lambda p: F.lit(num + den) * F.least(p["nx"], p["ny"])
            >= F.lit(num) * (p["nx"] + p["ny"]),
        ).alias("p")
    ).select("p.*")
    pairs = (
        occ.groupBy("id_a", "id_b", "nx", "ny")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.max("rkx").alias("rkx_max"),
            F.max("rky").alias("rky_max"),
        )
        .filter(
            F.lit(num + den)
            * (
                F.col("c")
                + F.least(
                    F.col("nx") - F.col("rkx_max"),
                    F.col("ny") - F.col("rky_max"),
                )
            )
            >= F.lit(num) * (F.col("nx") + F.col("ny"))
        )
        .select("id_a", "id_b")
    )
    sa = base.select(
        F.col("_id").alias("id_a"), F.col("_arr").alias("sa"), F.col("n").alias("na")
    )
    sb = base.select(
        F.col("_id").alias("id_b"), F.col("_arr").alias("sb"), F.col("n").alias("nb")
    )
    inter = F.size(F.array_intersect("sa", "sb")).cast("long")
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter_cnt", inter)
        .withColumn("union_cnt", F.col("na") + F.col("nb") - F.col("inter_cnt"))
        .filter(F.lit(den) * F.col("inter_cnt") >= F.lit(num) * F.col("union_cnt"))
        .select("id_a", "id_b", "inter_cnt", "union_cnt")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

# Modulus for the derived-hash family: (h1 + seed*h2) mod MINHASH_PRIME.
# Chosen so seed*h2 stays far below 2^63 (no overflow in any engine).
MINHASH_PRIME = 1_000_000_007

# Shape of the persisted near-dup index: word 3-grams, 32 minhashes in
# 8 bands. ``incremental_neardup_pairs`` signs new batches the same way.
INDEX_NGRAM, INDEX_HASHES, INDEX_BANDS = 3, 32, 8


def minhash_signature(df: DataFrame, id_col: str, text_col: str, n: int, num_hashes: int) -> DataFrame:
    """Per doc: array of ``num_hashes`` minhash values over word n-grams.

    Hash family: ONE portable md5 per shingle yields two 60-bit values
    (hex digits 1-15 and 16-30); permutation i is (h1 + i*h2) mod p — the
    standard 2-universal derived family, so the expensive digest runs once
    per shingle, not ``num_hashes`` times. One explode + one groupBy(doc)
    with ``min`` aggregates; map-side partial aggregation keeps the
    shuffle at O(docs × num_hashes)."""
    p = F.lit(MINHASH_PRIME)
    digest = F.md5(F.col("_g"))
    h1 = F.conv(F.substring(digest, 1, 15), 16, 10).cast("long") % p
    h2 = F.conv(F.substring(digest, 16, 15), 16, 10).cast("long") % p
    inv = fan_out(df).select(
        F.col(id_col).alias("_id"), F.explode(word_ngrams(F.col(text_col), n)).alias("_g")
    ).select("_id", h1.alias("_h1"), h2.alias("_h2"))
    aggs = [
        F.min((F.col("_h1") + F.lit(seed) * F.col("_h2")) % p).alias(f"_mh{seed}")
        for seed in range(num_hashes)
    ]
    sig = inv.groupBy("_id").agg(*aggs)
    return sig.select(
        "_id", F.array(*[F.col(f"_mh{s}") for s in range(num_hashes)]).alias("_sig")
    )


def _banded(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Expand a (_id, _sig) signature frame into one row per LSH band:
    (_id, _sig, _band, _bucket) where _bucket = md5 of the band's slice."""
    rows_per_band = num_hashes // bands
    return sig.select(
        "_id",
        "_sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("band"),
                    F.md5(
                        F.array_join(
                            F.transform(
                                F.slice(F.col("_sig"), bi * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("_bb"),
    ).select("_id", "_sig", F.col("_bb.band").alias("_band"), F.col("_bb.bucket").alias("_bucket"))


def minhash_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Persistable near-dup index for INCREMENTAL dedup: one row per
    (doc, band) with the doc's full signature and the band's bucket hash.

    Write this once per corpus (partitioned by `band`, optionally bucketed
    by `bucket`) and each new ingest batch only joins against it — the
    corpus is never re-shingled and never re-compared against itself.
    Columns: (id, sig, band, bucket)."""
    sig = minhash_signature(df, id_col, text_col, INDEX_NGRAM, INDEX_HASHES)
    return _banded(sig, INDEX_HASHES, INDEX_BANDS).select(
        F.col("_id").alias("id"),
        F.col("_sig").alias("sig"),
        F.col("_band").alias("band"),
        F.col("_bucket").alias("bucket"),
    )


def _agree(a: Column, b: Column) -> Column:
    """Number of positions at which two minhash signatures agree."""
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda eq: eq))


def _est_jaccard(agree: Column, num_hashes: int) -> Column:
    """Estimated Jaccard: the share of agreeing minhashes, rounded to 6
    places so every engine compares the same value with a threshold."""
    return F.round(agree.cast("double") / F.lit(num_hashes), 6)


def incremental_neardup_pairs(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Near-dup pairs (estimated Jaccard >= 0.5) of a NEW batch against an
    existing ``minhash_index``, signed with the index's shape — the
    signatures are deterministic, so incremental results equal what a
    full recompute would say about new×corpus pairs.

    Scale: cost is O(batch × shingles) to sign the batch plus a join keyed
    on (band, bucket) against the index — the corpus signature store is
    scanned, never recomputed, and with the index partitioned by band the
    scan prunes to matching partitions. Returns (new_id, match_id,
    est_jaccard); new-batch-internal duplicates come from running plain
    ``minhash_lsh_pairs`` on the (small) batch."""
    new_banded = _banded(
        minhash_signature(new_docs, id_col, text_col, INDEX_NGRAM, INDEX_HASHES),
        INDEX_HASHES,
        INDEX_BANDS,
    )
    cand = (
        new_banded.alias("a")
        .join(
            index.alias("b"),
            (F.col("a._band") == F.col("b.band")) & (F.col("a._bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("a._id").alias("new_id"),
            F.col("b.id").alias("match_id"),
            F.col("a._sig").alias("_siga"),
            F.col("b.sig").alias("_sigb"),
        )
        .dropDuplicates(["new_id", "match_id"])
    )
    return (
        cand.withColumn(
            "est_jaccard",
            _est_jaccard(_agree(F.col("_siga"), F.col("_sigb")), INDEX_HASHES),
        )
        .filter(F.col("est_jaccard") >= 0.5)
        .select("new_id", "match_id", "est_jaccard")
    )


def _lsh_agreements(
    sig: DataFrame, num_hashes: int, bands: int, threshold: float
) -> DataFrame:
    """Distinct (id_a, id_b, agree) for every id_a < id_b pair that shares
    a whole LSH band and whose estimated Jaccard is >= ``threshold``.

    One (band, bucket)-keyed exchange into posting lists that carry the
    signatures, so the agreement count runs inside the pair expansion and
    needs no join back (the shape of ``_banded_hamming_pairs``). Pairs
    below ``threshold`` drop inside the expansion, before the dedup
    exchange, through the same ``_est_jaccard`` expression a final filter
    would evaluate, so the prune is lossless."""
    lists = (
        _banded(sig, num_hashes, bands)
        .groupBy("_band", "_bucket")
        .agg(F.array_sort(F.collect_list(F.struct("_id", "_sig"))).alias("_m"))
        .filter(F.size("_m") >= 2)
    )
    return lists.select(
        ordered_pairs(
            F.col("_m"),
            lambda x, y: F.struct(
                x["_id"].alias("id_a"),
                y["_id"].alias("id_b"),
                _agree(x["_sig"], y["_sig"]).alias("agree"),
            ),
            lambda p: _est_jaccard(p["agree"], num_hashes) >= threshold,
        ).alias("_p")
    ).select("_p.*").distinct()


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup candidate pairs via LSH banding, verified by estimated
    Jaccard (fraction of agreeing minhashes) >= threshold.

    Scale path: docs never meet unless a whole band of minhashes collides,
    so pairs expand only inside (band, bucket-hash) posting lists —
    output-bounded, no quadratic blowup, no self-join and nothing cached.
    rows=(id_a, id_b, est_jaccard)."""
    sig = minhash_signature(df, id_col, text_col, n, num_hashes)
    return _lsh_agreements(sig, num_hashes, bands, threshold).select(
        "id_a", "id_b", _est_jaccard(F.col("agree"), num_hashes).alias("est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash per document over its distinct token set.

    Entirely a NARROW map — no explode, no shuffle: the distinct-token
    hash array is materialized once per row, then ONE aggregate pass
    accumulates all per-bit vote counters (an nbits-wide array updated
    per token hash); a final zip sets bit i where the vote
    ``2*count_set - n_tokens`` is positive. The single-pass accumulator
    keeps the expression tree small — a per-bit filter formulation is
    ~7× slower end-to-end because Catalyst spends seconds planning the
    60-branch tree. At any scale this is scan-parallel with zero network
    traffic."""
    nbits = 60  # md5_long hashes carry 60 bits
    hashed = fan_out(df).select(
        F.col(id_col).alias("_id"),
        F.transform(F.array_distinct(tokens(F.col(text_col))), lambda t: md5_long(t)).alias("_hs"),
    )
    fingerprint = F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(_hs, array_repeat(0L, {nbits}),
                      (acc, h) -> zip_with(acc, sequence(0, {nbits - 1}),
                                           (c, i) -> c + ((h >> i) & 1))),
            sequence(0, {nbits - 1}),
            (c, i) -> IF(2 * c - size(_hs) > 0, shiftleft(1L, i), 0L)),
          0L, (a, v) -> a + v)
        """
    )
    return hashed.select(F.col("_id").alias(id_col), fingerprint.alias("simhash"))


def hamming64(x: Column, y: Column) -> Column:
    """Hamming distance between two long fingerprints (bit_count of xor)."""
    return F.bit_count(x.bitwiseXOR(y))
