"""Deduplication operators for web-scale training-data pipelines.

Four families, all shuffle-conscious:

- **Exact**: hash-groupBy on content fingerprint. One shuffle on a 64-bit
  key; at 10^12 docs the shuffle carries (fingerprint, min_id, count) after
  map-side combine — tiny.
- **MinHash + LSH**: shingle → per-shingle hashes → signature (codegen
  min-aggregate per hash seed, no Python) → band buckets → self-join
  within buckets only, on (band, hash) — the classic sub-quadratic
  near-dup path.
- **SimHash**: 64-bit majority-of-token-hash-bits signature (the
  ``simhash_signatures`` contract query).
- **Exact n-gram Jaccard**: the verifier for candidate pairs (array
  intersect/union on shingle sets).

Embedding-cosine near-dup lives in similarity.py. The higher-order fold
forms of the signatures, kept as test references, live in
``tslib_spark/oracle/folds.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tslib_spark.functions.text import tokens


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One survivor (min id) per distinct content; counts kept for lineage.

    The groupBy key is ``xxhash64(text)`` — the exchange carries an 8-byte
    fingerprint plus (min_id, count) after map-side combine, never the
    document bytes. At 10^12 docs a raw-text key would ship the corpus
    through the shuffle. 64-bit collision probability at 10^12 keys is
    ~2.7% for *any* collision corpus-wide (birthday bound) and harmless
    here (a collision merges two docs into one survivor group); callers
    needing cryptographic certainty can pre-hash with sha2 instead.
    """
    return (
        df.groupBy(F.xxhash64(F.col(text_col)).alias("_fp"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("keep_id", "dup_count")
    )


def shingles(df: DataFrame, text_col: str, n: int = 3, out_col: str = "shingles") -> DataFrame:
    """Distinct word n-gram set per doc as 64-bit shingle hashes — pure
    array expressions, no explode.

    Hashes instead of gram strings: downstream signature/verify joins move
    8-byte longs instead of multi-word strings — a large shuffle-volume cut
    at corpus scale, with negligible collision probability for
    exact-Jaccard use.
    """
    # Materialize the token array in its own projection first: an inline
    # ``split`` is re-evaluated for EVERY transform element (O(n²) regex
    # splits per doc, measured 10× on the window pass — OPTIMIZATION_r07.md).
    # The gram string + xxhash64-of-string form is pinned: the frozen
    # minhash fixtures replay exactly these hash inputs.
    toked = df.withColumn("_sh_toks", tokens(F.col(text_col)))
    toks = F.col("_sh_toks")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1)))
    grams = F.transform(starts, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, n))))
    return toked.withColumn(out_col, F.array_distinct(grams)).drop("_sh_toks")


def minhash_signature_agg(
    df: DataFrame,
    id_col: str,
    shingle_col: str = "shingles",
    num_hashes: int = 64,
    seed: int = 42,
    out_col: str = "minhash",
) -> DataFrame:
    """(id, minhash): min over ``xxhash64(shingle, seed_i)`` per seed, via
    explode + codegen min-aggregate. Value-identical to the higher-order
    fold reference ``tslib_spark.oracle.folds.minhash_signature``
    (pytest-pinned), several times faster.

    The fold runs interpreted lambda machinery (3 array allocations per
    shingle per row); here each shingle row evaluates ``num_hashes``
    codegen ``xxhash64`` + ``min`` aggregate expressions. A doc's shingles
    live in one row, so map-side partial aggregation collapses everything
    before the exchange — the shuffle carries one (id, num_hashes × long)
    row per doc per partition.

    Hash-input parity with the fold: the fold hashes
    ``(shingle, seed_i)`` where ``seed_i`` is an element of
    ``sequence(lit(seed), ...)`` — IntegerType — so the literal here must
    stay an int32 literal too (xxhash64 hashes int and long differently).
    Docs whose shingle array is NULL (null text) keep a NULL signature via
    the left join, exactly like the fold. (A doc with an EMPTY shingle
    array would get NULL here vs the fold's max-long fill — ``shingles``
    never produces an empty array, so the pipeline can't hit that case.)
    """
    exploded = df.select(F.col(id_col), F.explode(shingle_col).alias("_s"))
    aggs = [
        F.min(F.xxhash64(F.col("_s"), F.lit(seed + i))).alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    sig = exploded.groupBy(id_col).agg(*aggs).select(
        F.col(id_col),
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias(out_col),
    )
    return df.select(id_col).join(sig, id_col, "left")


def _band_array(minhash_col: str, bands: int, rows_per_band: int):
    """Per-band hashes of the signature slices, as one array column."""
    return F.array(
        *[
            F.xxhash64(
                F.concat_ws(",", *[
                    F.element_at(F.col(minhash_col), b * rows_per_band + r + 1).cast("string")
                    for r in range(rows_per_band)
                ]),
                F.lit(b),
            )
            for b in range(bands)
        ]
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    minhash_col: str = "minhash",
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded LSH: docs sharing any band hash become candidate pairs.

    Shuffle = one explode to (doc, band) rows + a self-equi-join on
    (band, band_hash). AQE's skew-join splits *large-but-honest* buckets
    across tasks, but cannot make an adversarial bucket sub-quadratic: a
    boilerplate-heavy shard whose docs share a band hash produces
    count²/2 candidate rows no matter how they are scheduled. ``max_bucket``
    is the guard — buckets above it are dropped before the self-join
    (see similarity.cap_bucket_size; docs usually stay reachable through
    their other bands, so recall degrades gracefully).
    """
    banded = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(_band_array(minhash_col, bands, rows_per_band)).alias(
            "band", "band_hash"
        ),
    )
    if max_bucket is not None:
        from tslib_spark.operators.similarity import cap_bucket_size

        banded, _ = cap_bucket_size(banded, ["band", "band_hash"], max_bucket)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    docs_with_shingles: DataFrame,
    id_col: str,
    shingle_col: str = "shingles",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs; keeps pairs ≥ threshold.

    Two joins against the (id, shingles) projection; candidates are already
    sub-quadratic so this is cheap relative to the corpus.
    """
    a = docs_with_shingles.select(F.col(id_col).alias("id_a"), F.col(shingle_col).alias("_sh_a"))
    b = docs_with_shingles.select(F.col(id_col).alias("id_b"), F.col(shingle_col).alias("_sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("_sh_a", "_sh_b")).cast("double")
    union = F.size(F.array_union("_sh_a", "_sh_b")).cast("double")
    return (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def near_dup_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band → verify.

    The shingle set feeds three plan branches (signature + both verify
    sides), so it is persisted once and the verified pairs are EAGERLY
    computed to executor storage (``localCheckpoint``) before the shingle
    cache is released. That is an action, not a lazy transform: the full
    pair set is pinned to executor disk and its lineage is cut (no recovery
    past this point if executors are lost) — the right trade for a dedup
    sweep whose output is consumed repeatedly, and the cost is visible here
    instead of hidden.

    ``max_bucket`` caps LSH bucket size against adversarial skew (see
    lsh_candidate_pairs)."""
    rows_per_band = num_hashes // bands
    sh = shingles(df.select(id_col, text_col), text_col, n).persist()
    try:
        mh = minhash_signature_agg(sh, id_col, num_hashes=num_hashes, seed=seed)
        cands = lsh_candidate_pairs(
            mh, id_col, bands=bands, rows_per_band=rows_per_band, max_bucket=max_bucket
        )
        out = jaccard_verify(cands, sh, id_col, threshold=threshold)
        out = out.localCheckpoint(eager=True)  # materialize before unpersist
    finally:
        sh.unpersist()
    return out


def simhash_agg(
    df: DataFrame, id_col: str, text_col: str, out_col: str = "simhash"
) -> DataFrame:
    """(id, simhash): 64-bit SimHash, bit b = majority vote of bit b over
    the hashes of every token occurrence (frequency-weighted).

    Explode + 64 codegen vote aggregates: each token row evaluates 64
    shift/mask/sum expressions, and map-side partial aggregation collapses
    a doc's votes before the exchange (one (id, 64 × long) row per doc per
    partition). Value-identical to the higher-order fold reference
    ``tslib_spark.oracle.folds.simhash`` (pytest-pinned), which allocates a
    fresh 64-element vote array per token through interpreted lambdas.
    A doc with no tokens has no votes and gets 0; NULL text stays NULL.
    """
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    ex = toked.select(F.col(id_col), F.explode("_toks").alias("_t"))
    h = F.xxhash64(F.col("_t"))
    aggs = [
        F.sum(
            F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("int") * F.lit(2) - F.lit(1)
        ).alias(f"_v{b}")
        for b in range(64)
    ]
    votes = ex.groupBy(id_col).agg(*aggs)
    terms = [
        F.when(
            F.col(f"_v{b}") > 0,
            F.lit(-(2**63) if b == 63 else (1 << b)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for b in range(64)
    ]
    packed_expr = terms[0]
    for t in terms[1:]:
        packed_expr = packed_expr + t
    packed = votes.select(F.col(id_col), packed_expr.alias(out_col))
    docs = df.select(F.col(id_col), F.col(text_col).isNull().alias("_null"))
    return docs.join(packed, id_col, "left").select(
        id_col,
        F.when(~F.col("_null"), F.coalesce(F.col(out_col), F.lit(0).cast("long"))).alias(out_col),
    )

