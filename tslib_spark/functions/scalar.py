"""Scalar/aggregate expressions mirroring the reference's utility math.

All JVM-side column expressions (whole-stage codegen) — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_expr(value: Column, vmax: Column, vmin: Column) -> Column:
    """Affine map to [-1, 1] (reference: tsUtils.py:102-108)."""
    mid = (vmax + vmin) / 2.0
    half = (vmax - vmin) / 2.0
    return (value - mid) / half


def unnormalize_expr(value: Column, vmax: Column, vmin: Column) -> Column:
    """Inverse of normalize (tsUtils.py:110-116)."""
    mid = (vmax + vmin) / 2.0
    half = (vmax - vmin) / 2.0
    return value * half + mid


def rmse_hidden(observed: Column, imputed: Column, truth: Column) -> Column:
    """RMSE over the positions hidden in ``observed`` (NULL or NaN) — the
    corrected semantics of the reference's rmseMissingData
    (/root/reference/src/tsUtils.py:87-99), whose published form appends
    the NaN observations themselves to the comparison subset and therefore
    always returns NaN. Corrected: sqrt(mean((imputed-truth)² over
    {i : observed_i missing})); NULL when nothing was hidden.

    Same decimal(38,18) square-sum trick as rmse_agg → order-insensitive,
    bit-stable across partitionings and vs an ANSI oracle.
    """
    hidden = observed.isNull() | F.isnan(observed.cast("double"))
    sq = F.when(hidden, ((imputed - truth) * (imputed - truth)).cast("decimal(38,18)"))
    return F.sqrt(F.sum(sq).cast("double") / F.count(sq))


def rmse_agg(a: Column, b: Column) -> Column:
    """sqrt(mean((a-b)^2)) as an aggregate expression (tsUtils.py:83-84).

    Squares are carried as decimal(38,18) before summing so the aggregate is
    order-insensitive (bit-stable across partitionings and vs DuckDB).
    """
    sq = ((a - b) * (a - b)).cast("decimal(38,18)")
    # cast the exact decimal sum to double BEFORE dividing: decimal division
    # picks engine-specific result scales, double division is IEEE-exact.
    return F.sqrt(F.sum(sq).cast("double") / F.count(F.lit(1)))
