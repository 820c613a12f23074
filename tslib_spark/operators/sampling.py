"""Deterministic hash-based splits and samples for training pipelines.

Train/val/test assignment and downsampling must be (a) reproducible across
runs and clusters, (b) independent of row order and partitioning, and
(c) stable under corpus growth (a doc keeps its split when new docs
arrive). Random() fails all three; the standard fix is bucketing a
content-stable hash of the id.

Everything here is a single ``xxhash64`` codegen expression per row — no
shuffle, no UDF, no driver state; the split/sample decision rides along
whatever scan is already happening. Thresholds are computed in SIGNED
64-bit space with integer comparisons, so the operator never converts the
hash to a float (exact at any corpus size, bit-equal to the pure-Python
``tslib_spark.oracle.xxh64`` replica used by the frozen contract oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["hash_split", "hash_sample"]

_U64 = 1 << 64
_I64_MIN = -(1 << 63)


def _hash64(id_col: str, seed: int) -> Column:
    # chain the seed in as a first long field: xxhash64(seed, id) — varying
    # the seed re-deals every assignment without touching the id hash space
    return F.xxhash64(F.lit(int(seed)).cast("long"), F.col(id_col))


def _threshold(frac: float) -> int:
    """Signed-long cut so that P(hash < cut) = frac under a uniform hash."""
    t = _I64_MIN + int(frac * _U64)
    return max(_I64_MIN, min(t, (1 << 63) - 1))


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    seed: int = 42,
    out_col: str = "split",
) -> DataFrame:
    """Add ``out_col`` assigning every row to one named split.

    ``weights`` are relative (normalized internally), insertion-ordered:
    ``{"train": 98, "val": 1, "test": 1}``. Assignment depends only on
    (seed, id) — adding rows later never moves an existing row's split.
    """
    if not weights or any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError(f"weights must be non-empty and non-negative: {weights}")
    names = list(weights)
    total = float(sum(weights.values()))
    h = _hash64(id_col, seed)
    expr = F.lit(names[-1])
    cum = 0.0
    cuts: list[tuple[str, int]] = []
    for name in names[:-1]:
        cum += weights[name] / total
        cuts.append((name, _threshold(cum)))
    for name, cut in reversed(cuts):
        expr = F.when(h < F.lit(cut), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def hash_sample(
    df: DataFrame,
    id_col: str,
    rate: float | None = None,
    seed: int = 42,
    strata_col: str | None = None,
    rates: dict[str, float] | None = None,
) -> DataFrame:
    """Keep a deterministic ``rate`` fraction of rows (by id hash).

    Stratified form: pass ``strata_col`` + ``rates`` (stratum value → keep
    fraction; strata not listed fall back to ``rate``, or 0.0 if no
    default given) — per-class downsampling (e.g. rebalance languages)
    as one codegen CASE, no shuffle.
    """
    if rates is None and rate is None:
        raise ValueError("pass rate= and/or rates=")
    h = _hash64(id_col, seed)
    if rates is None:
        return df.filter(h < F.lit(_threshold(rate)))
    if strata_col is None:
        raise ValueError("rates= requires strata_col=")
    default_cut = _threshold(rate if rate is not None else 0.0)
    cut = F.lit(default_cut)
    for value, r in rates.items():
        cut = F.when(F.col(strata_col) == F.lit(value), F.lit(_threshold(r))).otherwise(cut)
    return df.filter(h < cut)
