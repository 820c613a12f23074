"""Distributed series generators: the reference's harmonics/trend sources
as pure Spark column expressions (SURVEY §2.1 — "embarrassingly parallel").

The ARMA generator is inherently a sequential recurrence
(generateARMA.py:28-37) and stays numpy-side (datagen/series.py); harmonics
and trends are closed-form in the time index, so at 10^12 points they
generate straight on the cluster from ``spark.range`` with zero driver data.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def harmonics_df(
    spark: SparkSession,
    time_steps: int,
    sine_coeffs: list[float],
    sine_periods: list[float],
    cosine_coeffs: list[float],
    cosine_periods: list[float],
    parallelism: int | None = None,
) -> DataFrame:
    """Σ c·sin(t·p·2π/T) + Σ c·cos(...) (generateHarmonics.py:8-28)."""
    t = F.col("id").cast("double")
    T = float(time_steps)
    expr = F.lit(0.0)
    for c, p in zip(sine_coeffs, sine_periods):
        expr = expr + F.lit(c) * F.sin(t * F.lit(p * 2.0 * math.pi / T))
    for c, p in zip(cosine_coeffs, cosine_periods):
        expr = expr + F.lit(c) * F.cos(t * F.lit(p * 2.0 * math.pi / T))
    base = spark.range(0, time_steps, 1, parallelism or spark.sparkContext.defaultParallelism)
    return base.select(F.col("id").alias("bucket_idx"), expr.alias("value"))


def trend_df(
    spark: SparkSession,
    time_steps: int,
    power: float = 0.35,
    displacement: float = -2.5,
    dampening: float | None = None,
    kinds: tuple[str, ...] = ("linear", "log"),
    parallelism: int | None = None,
) -> DataFrame:
    """Power/log/neg-exp trends (generateTrend.py:9-37) as expressions."""
    t = F.col("id").cast("double")
    expr = F.lit(0.0)
    if "linear" in kinds:
        expr = expr + F.pow(t, F.lit(power)) + F.lit(displacement)
    if "log" in kinds:
        expr = expr + F.log(t + F.lit(1.0)) + F.lit(displacement)
    if "negexp" in kinds:
        d = dampening if dampening is not None else 2.0 / time_steps
        expr = expr + F.exp(-t * F.lit(d)) + F.lit(displacement)
    base = spark.range(0, time_steps, 1, parallelism or spark.sparkContext.defaultParallelism)
    return base.select(F.col("id").alias("bucket_idx"), expr.alias("value"))


def hide_values_df(df: DataFrame, p_observe: float, seed: int = 42, value_col: str = "value") -> DataFrame:
    """NULL-out values u.a.r. with prob 1-p — the randomlyHideValues test
    fixture (tsUtils.py:119-128) as a deterministic hash-based expression
    (stable under repartitioning, unlike F.rand)."""
    unit = F.pmod(F.xxhash64("bucket_idx", F.lit(seed)), F.lit(1 << 30)) / F.lit(float(1 << 30))
    return df.withColumn(
        value_col, F.when(unit < F.lit(p_observe), F.col(value_col)).otherwise(F.lit(None))
    )
