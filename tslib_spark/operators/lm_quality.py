"""Model-based quality scoring and importance resampling for training corpora.

Two public families, both pure DataFrame plans (no per-row Python anywhere):

1. **N-gram LM perplexity scoring** (the CCNet recipe, Wenzek et al. 2020,
   with stupid-backoff smoothing, Brants et al. 2007): train order-1..K
   n-gram counts on a reference corpus with one explode+groupBy, then score
   every document's per-token log-probability by left-joining its n-grams
   against the counts table. Low perplexity against a high-quality LM is the
   classic "head/middle/tail" corpus quality signal.

2. **DSIR hashed importance resampling** (Xie et al. 2023): hash each
   document's uni+bigrams into B buckets, fit two smoothed multinomials
   (target vs raw), weight every raw document by its log importance ratio,
   and resample with deterministic Gumbel-top-k keyed on ``xxhash64`` so the
   selection is reproducible across runs, row orders, and partitionings.

Scale notes (100 TB): LM training is one explode → groupBy(gram) count —
the same shape as every dedup shuffle here, prunable via ``min_count``.
Scoring joins 64-bit gram-hash keys against the counts table (fixed-width
longs through the exchange, never multi-word strings — r6 verdict #6; the
string path stays the pytest oracle cross-check); the corpus side carries
only (doc_id, position, gram hashes) and the counts side is min_count-
pruned (broadcastable when small, shuffle-join otherwise — AQE decides).
Context counts are recovered from the previous position's joined counts via
a per-document window ``lag`` instead of extra joins (documents bound the
window size). DSIR's parameter tables are exactly ``buckets`` rows — always
broadcast — and the resample is a TakeOrdered top-k, never a full sort.

No reference counterpart: jehangiramjad/tslib has no text-corpus tooling;
these extend SURVEY §2.13 alongside dedup/decontamination/quality_filter.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tslib_spark.functions.text import tokens

__all__ = [
    "ngram_lm_train",
    "lm_score",
    "dsir_log_ratio",
    "dsir_weights",
    "dsir_resample",
]

_I64_MIN = -(1 << 63)
_TWO63 = float(1 << 63)
_TWO64 = float(1 << 64)


def _gram_at(toks: Column, i: Column, order: int) -> Column:
    """Space-joined gram of the ``order`` tokens ending at 1-based ``i``;
    NULL when fewer than ``order`` tokens precede. CaseWhen evaluates
    lazily, so the out-of-range element_at never runs under ANSI."""
    parts = [F.element_at(toks, i - (order - 1 - j)) for j in range(order)]
    gram = parts[0] if order == 1 else F.concat_ws(" ", *parts)
    if order == 1:
        return gram
    return F.when(i >= order, gram).otherwise(F.lit(None).cast("string"))


def _grams(toks: Column, k: int) -> Column:
    """All order-``k`` grams of the token array (positions with too little
    context filtered out). Single-parameter lambda on purpose: pyspark
    treats a two-parameter transform lambda as (value, index)."""
    def at(i: Column) -> Column:
        return _gram_at(toks, i, k)

    return F.filter(F.transform(_positions(toks), at), lambda g: g.isNotNull())


def _positions(toks: Column) -> Column:
    n = F.size(toks)
    # sequence(1, 0) would yield [1, 0] (Spark infers step -1): guard empty
    return F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )


def ngram_lm_train(
    df: DataFrame,
    text_col: str = "text",
    order: int = 2,
    min_count: int = 1,
    lowercase: bool = True,
) -> DataFrame:
    """Count-based n-gram LM: one row per (order, gram) with its corpus count.

    One explode + one groupBy per order, unioned — no driver state. Orders
    below ``order`` are always included (the backoff chain needs them).
    ``min_count`` prunes rare grams of EVERY order; ``lm_score`` computes
    the unigram total from the pruned table, so train and score stay
    consistent by construction.
    """
    if order < 1 or order > 3:
        raise ValueError(f"order must be 1..3, got {order}")
    # materialize the token array once per row first — an inline split is
    # re-evaluated per transform element (O(n²) regex splits per doc, r7)
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toked = df.select(tokens(text).alias("_toks"))
    toks = F.col("_toks")
    pieces = []
    for k in range(1, order + 1):
        pieces.append(
            toked.select(F.explode(_grams(toks, k)).alias("gram"))
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("count"))
            .select(F.lit(k).alias("order"), "gram", "count")
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.filter(F.col("count") >= int(min_count))


def lm_score(
    docs: DataFrame,
    lm: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    order: int = 2,
    alpha: float = 0.4,
    unk_prob: float | None = None,
    lowercase: bool = True,
) -> DataFrame:
    """Per-document stupid-backoff score against a trained n-gram table.

    Returns one row per input document: (id, n_tokens, logprob_per_token,
    perplexity). Empty documents keep NULL scores. Per token the score is

        S_k(w|ctx) = count(gram_k) / count(ctx_{k-1})   if gram_k was seen
                   = alpha * S_{k-1}(w|shorter ctx)      otherwise
        S_1(w)     = count(w) / N                        if w was seen
                   = unk_prob (default 1 / (N + 1))      otherwise

    Each position joins only its own grams; the context denominators are
    the PREVIOUS position's joined counts, recovered with a per-document
    ``lag`` window instead of a second round of joins.
    """
    if order < 1 or order > 3:
        raise ValueError(f"order must be 1..3, got {order}")
    counts = {k: lm.filter(F.col("order") == k).select("gram", "count") for k in range(1, order + 1)}
    n_total = counts[1].agg(F.sum("count")).collect()[0][0] or 0
    n_total = int(n_total)
    unk = float(unk_prob) if unk_prob is not None else 1.0 / (n_total + 1.0)

    # token array materialized once per row (inline split re-evaluates per
    # transform element — O(n²) regex splits, r7), and the join keys are
    # 64-bit hashes of the gram strings instead of the strings themselves:
    # the per-position exchange carries fixed-width longs, not multi-word
    # text (r6 verdict #6). A NULL gram (insufficient context) keeps a NULL
    # key so it can never match; collisions would need two corpus grams at
    # the same 64-bit value — negligible, and the string path remains the
    # pytest oracle cross-check.
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toked = docs.select(F.col(id_col), tokens(text).alias("_toks"))
    toks = F.col("_toks")
    gram_struct = F.transform(
        _positions(toks),
        lambda i: F.struct(*[_gram_at(toks, i, k).alias(f"g{k}") for k in range(1, order + 1)]),
    )
    pos = toked.select(
        F.col(id_col), F.posexplode(gram_struct).alias("pos", "g")
    ).select(
        id_col,
        "pos",
        *[
            F.when(
                F.col(f"g.g{k}").isNotNull(), F.xxhash64(F.col(f"g.g{k}"))
            ).alias(f"g{k}")
            for k in range(1, order + 1)
        ],
    )

    for k in range(1, order + 1):
        side = counts[k].select(
            F.xxhash64("gram").alias(f"g{k}"), F.col("count").alias(f"c{k}")
        )
        pos = pos.join(side, f"g{k}", "left")

    w = Window.partitionBy(id_col).orderBy("pos")
    for k in range(1, order):
        pos = pos.withColumn(f"ctx{k}", F.lag(f"c{k}").over(w))

    s1 = F.when(
        F.col("c1").isNotNull(), F.col("c1").cast("double") / F.lit(float(n_total))
    ).otherwise(F.lit(unk))
    score = s1
    for k in range(2, order + 1):
        hit = F.col(f"c{k}").isNotNull() & F.col(f"ctx{k - 1}").isNotNull()
        score = F.when(
            hit, F.col(f"c{k}").cast("double") / F.col(f"ctx{k - 1}").cast("double")
        ).otherwise(
            # pos < k has no full context: no backoff penalty, shorter gram IS
            # the longest available. Unseen full-context grams pay alpha.
            F.when(F.col("pos") < k - 1, score).otherwise(F.lit(float(alpha)) * score)
        )
    per_doc = pos.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg(F.log(score)).alias("logprob_per_token"),
    )
    out = docs.select(id_col).join(per_doc, id_col, "left")
    return out.select(
        id_col,
        F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        "logprob_per_token",
        F.exp(-F.col("logprob_per_token")).alias("perplexity"),
    )


def _buckets_from_toks(toks: Column, buckets: int, n: int, seed: int) -> Column:
    """Bucket array from an (ideally pre-materialized) token-array column —
    callers that control the DataFrame should project the token array first
    so the transform lambdas don't re-tokenize per element (r7)."""
    arrays = []
    for k in range(1, n + 1):
        arrays.append(
            F.transform(
                _grams(toks, k),
                lambda g: F.pmod(
                    F.xxhash64(F.lit(int(seed)).cast("long"), g), F.lit(int(buckets))
                ),
            )
        )
    out = arrays[0]
    for a in arrays[1:]:
        out = F.concat(out, a)
    return out


def _bucket_counts(df: DataFrame, text_col: str, buckets: int, n: int, seed: int, lowercase: bool) -> DataFrame:
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toked = df.select(tokens(text).alias("_toks"))
    feats = _buckets_from_toks(F.col("_toks"), buckets, n, seed)
    return (
        toked.select(F.explode(feats).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def dsir_log_ratio(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    buckets: int = 8192,
    n: int = 2,
    seed: int = 7,
    smoothing: float = 1.0,
    lowercase: bool = True,
) -> DataFrame:
    """Per-bucket log importance ratio log p_target(b) - log p_raw(b) under
    Laplace-smoothed hashed-n-gram multinomials. Exactly ``buckets`` rows
    (a spine fills never-seen buckets with the smoothed floor)."""
    spark = target.sparkSession
    spine = spark.range(int(buckets)).select(F.col("id").alias("bucket"))
    t = _bucket_counts(target, text_col, buckets, n, seed, lowercase).withColumnRenamed("count", "t_count")
    r = _bucket_counts(raw, text_col, buckets, n, seed, lowercase).withColumnRenamed("count", "r_count")
    s = float(smoothing)
    joined = spine.join(t, "bucket", "left").join(r, "bucket", "left")
    # totals ride along in-plan (broadcast scalar row; AQE reuses the count
    # subplans as exchanges) — no collect, no persist lifetime to manage
    totals = F.broadcast(
        joined.agg(
            F.coalesce(F.sum("t_count"), F.lit(0)).cast("double").alias("_t_total"),
            F.coalesce(F.sum("r_count"), F.lit(0)).cast("double").alias("_r_total"),
        )
    )
    joined = joined.crossJoin(totals)
    logp = F.log(
        (F.coalesce(F.col("t_count"), F.lit(0)).cast("double") + F.lit(s))
        / (F.col("_t_total") + F.lit(s * buckets))
    )
    logq = F.log(
        (F.coalesce(F.col("r_count"), F.lit(0)).cast("double") + F.lit(s))
        / (F.col("_r_total") + F.lit(s * buckets))
    )
    return joined.select("bucket", (logp - logq).alias("log_ratio"))


def dsir_weights(
    df: DataFrame,
    log_ratio: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 8192,
    n: int = 2,
    seed: int = 7,
    lowercase: bool = True,
) -> DataFrame:
    """Per-document log importance weight: sum of its features' log ratios.

    The exploded frame carries only (id, bucket) longs; the ratio table is
    ``buckets`` rows and always broadcast. Documents with no features keep
    weight 0.0.
    """
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toked = df.select(F.col(id_col), tokens(text).alias("_toks"))
    feats = _buckets_from_toks(F.col("_toks"), buckets, n, seed)
    summed = (
        toked.select(F.col(id_col), F.explode(feats).alias("bucket"))
        .join(F.broadcast(log_ratio), "bucket")
        .groupBy(id_col)
        .agg(F.sum("log_ratio").alias("log_weight"))
    )
    return df.select(id_col).join(summed, id_col, "left").select(
        id_col, F.coalesce(F.col("log_weight"), F.lit(0.0)).alias("log_weight")
    )


def dsir_resample(
    weights: DataFrame,
    k: int | None = None,
    frac: float | None = None,
    id_col: str = "doc_id",
    weight_col: str = "log_weight",
    seed: int = 101,
    temperature: float = 1.0,
) -> DataFrame:
    """Deterministic Gumbel-top-k sample ∝ exp(weight / temperature).

    The Gumbel noise is derived from xxhash64(seed, id) mapped to (0, 1) —
    reproducible across runs, row orders, and partitionings, in line with
    the hash_split/hash_sample discipline (sampling.py). orderBy().limit()
    lowers to TakeOrderedAndProject: per-partition top-k then a k-row merge,
    never a full sort. Returns the selected (id, weight, key) rows.
    """
    if (k is None) == (frac is None):
        raise ValueError("pass exactly one of k= or frac=")
    if k is None:
        total = weights.count()
        k = int(math.ceil(float(frac) * total))
    h = F.xxhash64(F.lit(int(seed)).cast("long"), F.col(id_col))
    u = (h.cast("double") + F.lit(_TWO63 + 0.5)) / F.lit(_TWO64)
    # clamp into (0, 1): values that round to exactly 0.0/1.0 would feed
    # log(0) (ANSI); bounds are the nearest representable doubles
    u = F.least(F.greatest(u, F.lit(5e-324)), F.lit(0.9999999999999999))
    gumbel = -F.log(-F.log(u))
    key = F.col(weight_col).cast("double") / F.lit(float(temperature)) + gumbel
    return (
        weights.withColumn("gumbel_key", key)
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col))
        .limit(int(k))
    )
