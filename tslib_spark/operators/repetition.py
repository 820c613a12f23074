"""Repetition / self-similarity quality signals for text corpora.

Pretraining quality filters (Rae et al., "Scaling Language Models: ...
Gopher", arXiv:2112.11446, App. A1.1) drop documents dominated by
repeated content: the share of the most common n-gram and the fraction
of n-gram occurrences that are duplicates are the standard signals.

Scale design: the per-doc n-gram histogram is NOT computed with a nested
O(len²) array expression — n-grams are exploded and counted with a
``groupBy(doc_id, ngram)``, i.e. a partially-aggregated shuffle keyed on
(doc, ngram). That is the 100 TB shape: map-side combine collapses each
doc's duplicates before the exchange, the key space is bounded by the
corpus token count, and no single task ever holds more than one doc's
histogram slice. The duplicate-token fraction needs no shuffle at all
(one ``array_distinct`` expression).

Reference parity: the reference engine has no text-quality surface; this
extends the SURVEY.md §2 text-analysis family (same contract as
functions/text.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tslib_spark.functions.text import token_count, tokens
from tslib_spark.operators.substring import _window_hashes

__all__ = ["dup_token_frac", "repetition_signals"]


def dup_token_frac(text: Column) -> Column:
    """Fraction of token occurrences that are repeats of an earlier token:
    1 - distinct/total. 0.0 for empty/whitespace-only text. Pure codegen —
    rides along any existing scan, no shuffle."""
    toks = tokens(text)
    total = F.size(toks)
    return F.when(total <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / total.cast("double")
    )


def _ngram_stats(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, ngram_total, top_cnt, dup_cnt) for docs with ≥ n tokens only —
    the two-level aggregate; callers left-join to cover short docs.

    Histogram key = 64-bit hash of the n-token slice, not the gram string
    (r7): the token array is materialized once per row (an inline ``split``
    re-evaluates PER transform element — O(n²) regex splits per doc,
    measured 10×), and hashing the slice skips building every gram string
    before the exchange. Counts are identical up to an intra-doc 64-bit
    hash collision (~L²/2⁶⁴ per doc — negligible, and verified against the
    gram-string oracle at the contract scale factors)."""
    toked = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    grams = toked.select(F.col(id_col), F.explode(_window_hashes("_toks", n)).alias("ngram"))
    hist = grams.groupBy(id_col, "ngram").agg(F.count(F.lit(1)).alias("cnt"))
    return hist.groupBy(id_col).agg(
        F.sum("cnt").alias("ngram_total"),
        F.max("cnt").alias("top_cnt"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0))).alias("dup_cnt"),
    )


def _with_ratios(joined: DataFrame, id_col: str, extra: list[str]) -> DataFrame:
    return joined.select(
        id_col,
        *extra,
        F.coalesce(F.col("ngram_total"), F.lit(0)).cast("long").alias("ngram_total"),
        F.coalesce(
            F.col("top_cnt").cast("double") / F.col("ngram_total").cast("double"),
            F.lit(0.0),
        ).alias("top_ngram_share"),
        F.coalesce(
            F.col("dup_cnt").cast("double") / F.col("ngram_total").cast("double"),
            F.lit(0.0),
        ).alias("dup_ngram_frac"),
    )


def repetition_signals(
    docs: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """All repetition signals in one pass: (id, total_tokens,
    dup_token_frac, ngram_total, top_ngram_share, dup_ngram_frac).

    - ``top_ngram_share``: occurrences of the single most frequent n-gram
      over all n-gram occurrences (Gopher's "fraction in most common
      n-gram", token-count weighted);
    - ``dup_ngram_frac``: fraction of n-gram occurrences whose n-gram
      appears more than once (Gopher's "fraction in duplicated n-grams").

    Docs with fewer than ``n`` tokens get (0, 0.0, 0.0) n-gram stats.

    The per-doc expression row (one per input row) is the left side, so no
    extra distinct/exchange is spent re-deriving the doc set — at corpus
    scale the only shuffles are the two n-gram aggregate exchanges.
    """
    per_doc = docs.select(
        F.col(id_col),
        token_count(F.col(text_col)).cast("long").alias("total_tokens"),
        dup_token_frac(F.col(text_col)).alias("dup_token_frac"),
    )
    return _with_ratios(
        per_doc.join(_ngram_stats(docs, id_col, text_col, n), id_col, "left"),
        id_col, ["total_tokens", "dup_token_frac"],
    )
