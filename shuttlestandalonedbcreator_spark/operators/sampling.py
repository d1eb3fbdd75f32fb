"""Deterministic sampling / splitting / sequence-packing operators —
the training-data-pipeline surface (BASELINE.json north star; the
reference has no sampling ops, SURVEY.md §2.4/§2.10).

Design rules for 100 TB:

- **Hash-based, not random.** Every sample/split decision is a pure
  function of (key, seed) via the portable md5 bucket — so runs are
  reproducible across engines and retries, rows never migrate between
  splits when the data grows, and no `rand()` state needs coordinating
  across 1000 executors. Assignment is a NARROW map: zero shuffle.
- **Stratified rates are per-stratum thresholds**, evaluated row-local —
  still no shuffle; only the (tiny) per-stratum rate map is broadcast in
  the closure.
- **Sequence packing is the concat-and-chunk scheme** (the standard
  LLM-pretraining packing): shard documents by hash, order them
  deterministically inside each shard, lay them out on a virtual tape and
  cut fixed token-budget chunks. One shuffle keyed on the shard id;
  window cumsum within the shard; shards are independent so the layout
  parallelizes to any cluster size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.operators.dedup import md5_long
from shuttlestandalonedbcreator_spark.operators.util import bounded_broadcast

# Denominator for hash-threshold decisions. Rates are expressed as
# buckets-in-10000 so thresholds are exact integers (no float drift
# between engines).
HASH_BUCKETS = 10_000


def hash_bucket(col: Column, seed: int = 0) -> Column:
    """Uniform deterministic bucket in [0, HASH_BUCKETS) from the portable
    60-bit md5 hash of the key. DuckDB-portable:
    ``CAST(('0x' || substr(md5(concat('<seed>|', CAST(k AS VARCHAR))), 1, 15)) AS BIGINT) % 10000``.
    """
    return md5_long(col, seed=seed) % F.lit(HASH_BUCKETS)


def split_label(
    key: Column, splits: list[tuple[str, float]], seed: int = 0
) -> Column:
    """Column expression mapping a stable key to its split name — the
    row-local core of ``hash_split``, usable anywhere a join against the
    assignment table would otherwise be needed (the label is a pure
    function of the key, so RE-DERIVE it instead of joining)."""
    total = sum(f for _, f in splits)
    if not 0 < total <= 1.0 + 1e-9:
        raise ValueError(f"split fractions must sum to (0, 1], got {total}")
    bucket = hash_bucket(key, seed=seed)
    expr = None
    upper = 0
    for name, frac in splits[:-1]:
        upper += int(round(frac * HASH_BUCKETS))
        clause = bucket < F.lit(upper)
        expr = F.when(clause, F.lit(name)) if expr is None else expr.when(clause, F.lit(name))
    last = F.lit(splits[-1][0])
    return last if expr is None else expr.otherwise(last)


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: list[tuple[str, float]],
    seed: int = 0,
) -> DataFrame:
    """Assign each row to a named split (train/val/test/...) by hashing a
    stable key — deterministic, narrow (no shuffle), stable under data
    growth (a row's split never changes when other rows are added).

    ``splits`` is [(name, fraction), ...]; fractions must sum to <= 1.0
    (any remainder falls into the LAST split). Fractions are snapped to
    1/10000ths so the cut points are exact integers. The label is the
    ``split`` column.
    """
    return df.withColumn("split", split_label(F.col(key_col), splits, seed=seed))


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its hash bucket
    falls under its stratum's threshold. This is the mixture-weighting
    primitive of a training-data pipeline (e.g. upweight low-resource
    languages, downsample boilerplate sources): rates live in a tiny map,
    the decision is row-local, and the same (key, seed) always survives —
    so mixtures are reproducible and incremental re-runs are consistent.
    """
    bucket = hash_bucket(F.col(key_col), seed=seed)
    thresh = F.lit(int(round(default_fraction * HASH_BUCKETS)))
    for stratum, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(strata_col) == F.lit(stratum), F.lit(int(round(frac * HASH_BUCKETS)))
        ).otherwise(thresh)
    return df.filter(bucket < thresh)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    shards: int = 16,
    seed: int = 0,
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign every document a
    (shard, chunk_id, offset_in_chunk) so that concatenating each shard's
    documents in order and cutting every ``budget`` tokens yields the
    training chunks.

    Layout is fully deterministic: shard = hash(id) % shards, order
    within a shard = (hash(id), id). Exactly one shuffle (keyed on the
    shard) + one window cumsum per shard; shards are independent, so at
    100 TB this runs as ``shards`` parallel linear scans — no global
    ordering bottleneck. A document longer than ``budget`` straddles
    chunks (standard concat-packing semantics: chunks are cut mid-document
    and training continues across the boundary); ``chunk_id`` reports the chunk
    containing the document's FIRST token.
    """
    h = md5_long(F.col(id_col), seed=seed)
    tagged = df.select(
        F.col(id_col),
        F.col(token_col).cast("long").alias("_n_tok"),
        (h % F.lit(shards)).cast("int").alias("shard"),
        h.alias("_order"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.asc("_order"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("_n_tok").over(w)
    start = cum - F.col("_n_tok")
    return tagged.select(
        F.col(id_col),
        "shard",
        F.col("_n_tok").alias("n_tokens"),
        F.floor(start / F.lit(budget)).cast("long").alias("chunk_id"),
        (start % F.lit(budget)).cast("long").alias("offset_in_chunk"),
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    size: int,
    stride: int,
) -> DataFrame:
    """Sliding-window document chunking: split each row's token array into
    overlapping windows of ``size`` tokens advancing by ``stride`` (the
    context-window preparation step for embedding / retrieval pipelines —
    complement of :func:`pack_sequences`, which concatenates instead of
    splitting). Returns (id, chunk_idx, chunk) with chunk_idx dense from 0.

    Entirely per-row (narrow): chunk count = 1 + ceil(max(n-size,0)/stride)
    computed in integer math, windows taken with ``slice`` on the already
    -materialized array — no shuffle at any scale; rows with empty token
    arrays produce no chunks. The trailing window is allowed to be shorter
    than ``size`` (it still starts < n, so every token appears in >=1 chunk).
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    if stride > size:
        # stride > size would skip tokens between windows (and emit empty
        # trailing windows) — that's sampling, not chunking
        raise ValueError("stride must be <= size for full-coverage chunking")
    n = F.size(F.col(tokens_col))
    # non-negative integer ceil-div: floor is exact here and identical in
    # every engine (no negative-truncation ambiguity)
    last = F.floor((F.greatest(n - F.lit(size), F.lit(0)) + F.lit(stride - 1)) / F.lit(stride))
    windows = F.transform(
        F.sequence(F.lit(0), last),
        lambda i: F.slice(F.col(tokens_col), i * stride + 1, size),
    )
    return (
        df.filter(n > 0)
        .select(
            F.col(id_col),
            F.posexplode(windows).alias("chunk_idx", "chunk"),
        )
    )


def mixture_rates(
    df: DataFrame,
    strata_col: str,
    budget_rows: int,
    weight_scale: int = 1000,
) -> DataFrame:
    """Temperature-based mixture weighting (α = 0.5): per-stratum keep
    rates ∝ √count, scaled so the expected kept total is ``budget_rows``
    — the standard corpus-mixing move that upsamples low-resource strata
    relative to proportional sampling.

    Expected picks per stratum follow nᵢ^0.5 normalized to the budget:
    picksᵢ = budget·√nᵢ / Σ√nⱼ, so keep RATE ∝ 1/√nᵢ — small strata are
    kept at higher rates than proportional sampling would give them.

    All math is INTEGER so rates are bit-identical across engines: the
    weight is floor(√n · scale) (IEEE sqrt is exactly rounded, so floor
    is deterministic), Σ wⱼ is an exact integer sum, and each threshold
    rateᵢ·buckets = (budget·buckets·scale²) / (wᵢ·Σwⱼ), with buckets =
    HASH_BUCKETS, is evaluated as TWO divisions, (numer div wᵢ) div
    Σwⱼ — exactly equal to the single division for positive integers
    (floor(floor(a/b)/c) = floor(a/(bc))) but immune to the int64
    overflow of the product wᵢ·Σwⱼ, which at the 100 TB design point (~1e13 total rows → Σwⱼ ≈ √n·scale ≈ 3e9·#strata)
    would otherwise go negative and silently select zero rows. The
    remaining bound is the numerator itself: budget·buckets·scale² must
    fit int64, asserted below. Returns (stratum, n_rows, _thresh) where
    _thresh/buckets is the keep rate; join back broadcast +
    `hash_bucket < _thresh` selects.

    Two corpus passes by construction (rates depend on global counts):
    the counts aggregate, then the selection scan — both narrow shuffles
    of the tiny strata table, never of the corpus.
    """
    counts = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    w = counts.withColumn(
        "_w", F.floor(F.sqrt(F.col("n_rows")) * weight_scale).cast("long")
    )
    denom = w.agg(F.sum("_w").alias("_s"))
    numer = budget_rows * HASH_BUCKETS * weight_scale * weight_scale
    if numer >= 2**63:
        raise ValueError(
            f"budget_rows*buckets*weight_scale^2 = {numer} overflows int64; "
            "lower weight_scale"
        )
    return (
        w.crossJoin(bounded_broadcast(denom, "one_row"))
        .withColumn(
            "_thresh",
            F.least(
                F.lit(HASH_BUCKETS).cast("long"),
                F.expr(f"({numer}L div _w) div _s"),
            ),
        )
        .select("stratum", "n_rows", "_thresh")
    )
