"""Exact substring-level dedup: shared token-run detection between docs.

The dedup family MinHash/SimHash do NOT cover: two documents sharing one
long verbatim passage (a quoted article, boilerplate license text) while
differing everywhere else have low whole-doc Jaccard but must still be
caught — Lee et al., "Deduplicating Training Data Makes Language Models
Better" (arXiv:2107.06499) dedups on any ~50-token verbatim overlap.

Pipeline (all DataFrame ops):

1. every doc → rolling ``window_tokens``-gram windows with their token
   position, keyed by the 64-bit window hash (the join key is 8 bytes —
   the gram text never leaves the map side);
2. drop windows whose hash occurs in more than ``max_bucket`` docs —
   the same adversarial-skew cap as the MinHash band join (boilerplate
   n-grams shared by half the corpus would make the self-join quadratic);
3. self-join on the window hash (id_a < id_b) → shared (pos_a, pos_b);
4. gaps-and-islands: within a pair, matches on the same diagonal
   (pos_a − pos_b) with consecutive positions form one island — the
   island length measures the verbatim run. ``max_run_tokens`` =
   longest island + window_tokens − 1 (a run of L consecutive shared
   windows certifies L + w − 1 shared tokens).

Scale shape: one explode (windows), one capped self-equi-join, one
window function partitioned by (pair, diagonal) with a running frame,
one per-pair aggregate. No step concentrates a full doc's text anywhere;
the join key space is bounded by the cap.

64-bit collisions can claim a false shared window (~1e-9 birthday at
10^7 windows); callers needing certainty verify flagged pairs by exact
substring comparison — at dedup thresholds (runs of 30+ tokens) a
colliding FALSE run would need ``min_run`` consecutive collisions, which
is vanishing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tslib_spark.functions.text import tokens

__all__ = ["doc_windows", "substring_dup_pairs"]


def _window_hashes(toks_col: str, window_tokens: int) -> Column:
    """array<long>: xxhash64 of every ``window_tokens``-token slice of the
    ALREADY-MATERIALIZED token-array column ``toks_col``.

    Two deliberate choices (r7 measurement, OPTIMIZATION_r07.md):
    - the token array must be a real column, not an inline ``split`` expr:
      Catalyst re-evaluates a lambda body's subexpressions per array
      element, so ``slice(split(text), i, w)`` inside ``transform`` costs
      one regex split of the whole document PER WINDOW — O(n²) per doc
      (measured 27 s vs 2.6 s for the sf1.0 window pass);
    - the hash is taken over the token-array slice directly instead of a
      ``concat_ws`` gram string — same equality structure (tokens contain
      no whitespace, so n-token sequences map 1:1 to joined strings) with
      no per-window string materialization.
    """
    n = F.size(toks_col)
    starts = F.sequence(F.lit(1), n - F.lit(window_tokens - 1))
    grams = F.transform(starts, lambda i: F.xxhash64(F.slice(toks_col, i, window_tokens)))
    return F.when(n >= window_tokens, grams).otherwise(F.array().cast("array<long>"))


def doc_windows(
    docs: DataFrame, id_col: str, text_col: str, window_tokens: int = 8
) -> DataFrame:
    """(id, pos, h): 64-bit hash of every ``window_tokens``-token window,
    pos = 0-based token index of the window start."""
    toked = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    return toked.select(
        F.col(id_col),
        F.posexplode(_window_hashes("_toks", window_tokens)).alias("pos", "h"),
    )


def substring_dup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window_tokens: int = 8,
    min_run_tokens: int = 16,
    max_bucket: int = 1000,
) -> DataFrame:
    """Pairs of docs sharing a verbatim token run of ≥ ``min_run_tokens``:
    (id_a, id_b, shared_windows, max_run_tokens), id_a < id_b.

    ``shared_windows`` counts matching (window, position) alignments;
    ``max_run_tokens`` is the longest contiguous verbatim run certified
    by consecutive shared windows on one diagonal.
    """
    if min_run_tokens < window_tokens:
        raise ValueError(
            f"min_run_tokens ({min_run_tokens}) must be >= window_tokens "
            f"({window_tokens}) — shorter runs are invisible at this window size"
        )
    w = doc_windows(docs, id_col, text_col, window_tokens)
    # adversarial-skew cap (same contract as lsh_candidate_pairs): count
    # DOCS per hash, drop boilerplate windows half the corpus shares.
    # The lower bound is pure pruning: a window seen in ONE doc can never
    # produce an (id_a < id_b) pair, and single-doc windows are the vast
    # majority of any real corpus — dropping them before the self-join
    # shrinks both join inputs to just the genuinely shared windows.
    per_h = w.groupBy("h").agg(F.count_distinct(F.col(id_col)).alias("_nd"))
    keep_h = per_h.filter((F.col("_nd") >= 2) & (F.col("_nd") <= max_bucket)).select("h")
    # the filtered window set feeds BOTH sides of the self-join; without a
    # materialization each side re-runs the tokenize+window pass AND its
    # own copy of the per_h aggregate (4 full passes over the corpus,
    # measured). It is small by construction (shared windows only, bucket
    # size capped), so pin it to executor storage and cut the lineage.
    w = w.join(keep_h, "h", "left_semi").localCheckpoint(eager=True)

    a = w.select(F.col(id_col).alias("id_a"), F.col("pos").alias("pos_a"), "h")
    b = w.select(F.col(id_col).alias("id_b"), F.col("pos").alias("pos_b"), "h")
    m = a.join(b, "h").filter(F.col("id_a") < F.col("id_b"))

    # islands: same diagonal + consecutive pos_a ⇒ one verbatim run.
    # A doc's REPEATED window (same gram at two positions) yields multiple
    # alignments on different diagonals — each diagonal measures its own run.
    # (id_a, pos_a) is unique per doc and (diag ⇒ pos_b), so rows are
    # already distinct — no dedup exchange needed before the window
    m = m.select(
        "id_a", "id_b", "pos_a", (F.col("pos_a") - F.col("pos_b")).alias("diag")
    )
    rn = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    m = m.withColumn("isl", F.col("pos_a") - F.row_number().over(rn))
    runs = m.groupBy("id_a", "id_b", "diag", "isl").agg(
        F.count(F.lit(1)).alias("run_windows")
    )
    pairs = runs.groupBy("id_a", "id_b").agg(
        F.sum("run_windows").cast("long").alias("shared_windows"),
        (F.max("run_windows") + F.lit(window_tokens - 1)).cast("long").alias("max_run_tokens"),
    )
    return pairs.filter(F.col("max_run_tokens") >= min_run_tokens)
