"""Robust Synthetic Control (RSC) and multi-metric mRSC on Spark.

Reference semantics: syntheticControl.py:26-64 (RSC = the SVD model with
N=1, one row per unit, includePastDataOnly=False) and
multisyntheticControl.py:29-104 (mRSC = metrics scaled by sqrt(weight) and
concatenated horizontally before the same fit).

Spark shape: the panel arrives tidy ``(unit, time, [metric,] value)``;
``prepare_panel`` maps it onto the kernel's tidy contract (series_key=unit,
bucket_idx=time rank or metric-major combined index), the fit is one
grouped-kernel call, and prediction is pure JVM SQL — a broadcast join of
the (tiny) weight vector against donor observations, then a per-time dot
product. Panels are small next to the series tables; the win is fitting
many panels (group_ids) in one pass.

Note (mirroring the reference): mRSC predictions come out in each metric's
sqrt(weight)-scaled space (combineMetrics scales inputs at predict time and
never unscales outputs, multisyntheticControl.py:96-104).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from tslib_spark.kernels.svd_kernel import ModelConfig, fit_transform


def _time_rank(times_df: DataFrame, time_col: str) -> DataFrame:
    """``(time, _t_rank)``: the 0-based rank of each distinct time, in
    Spark's sort order. The distinct time axis is small, so it is sorted
    and numbered on the driver; a row_number window over the whole axis
    would be an unpartitioned Window, pulling it through one partition."""
    times = times_df.select(time_col).distinct().orderBy(time_col).collect()
    schema = StructType(
        [times_df.schema[time_col], StructField("_t_rank", IntegerType(), False)]
    )
    return times_df.sparkSession.createDataFrame(
        [(row[0], rank) for rank, row in enumerate(times)], schema
    )


def prepare_panel(
    panel: DataFrame,
    unit_col: str,
    time_col: str,
    value_col: str,
    group_id: str = "panel",
    metric_col: str | None = None,
    metric_order: list[str] | None = None,
    metric_weights: list[float] | None = None,
    n_times: int | None = None,
) -> DataFrame:
    """Tidy panel → kernel tidy (group_id, series_key, bucket_idx, value).

    For mRSC, metrics are sqrt(weight)-scaled and laid out metric-major:
    bucket_idx = metric_idx * M + time_rank (combineMetrics semantics).
    """
    ranks = _time_rank(panel, time_col)
    df = panel.join(ranks, time_col)
    if metric_col is None:
        return df.select(
            F.lit(group_id).alias("group_id"),
            F.col(unit_col).alias("series_key"),
            F.col("_t_rank").cast("long").alias("bucket_idx"),
            F.col(value_col).cast("double").alias("value"),
        )
    if metric_order is None or metric_weights is None or n_times is None:
        raise ValueError("mRSC needs metric_order, metric_weights and n_times")
    metric_idx = F.array_position(
        F.array(*[F.lit(m) for m in metric_order]), F.col(metric_col)
    ) - 1
    weight = F.element_at(
        F.array(*[F.lit(float(w)) for w in metric_weights]), (metric_idx + 1).cast("int")
    )
    return df.select(
        F.lit(group_id).alias("group_id"),
        F.col(unit_col).alias("series_key"),
        (metric_idx * n_times + F.col("_t_rank")).cast("long").alias("bucket_idx"),
        (F.col(value_col) * F.sqrt(weight)).cast("double").alias("value"),
    )


def rsc_fit(
    prepared: DataFrame,
    treated_unit: str,
    donor_units: list[str],
    singvals: int,
    M: int,
    p: float = 1.0,
    method: str = "svd",
    als_seed: int = 0,
) -> DataFrame:
    """Fit RSC per group: returns (group_id, kind, series_key, idx, value).

    kind='weight' rows are the synthetic-control weights, idx-aligned with
    ``donor_units`` order; kind='imputed' rows are the denoised panel.
    """
    cfg = ModelConfig(
        target_key=treated_unit,
        N=1,
        M=M,
        k=singvals,
        donor_keys=tuple(donor_units),
        p=p,
        include_past_only=False,
        method=method,
        als_seed=als_seed,
    )
    return fit_transform(prepared, cfg)


def control_weights(fit: DataFrame, donor_units: list[str]) -> DataFrame:
    """kind='weight' rows → (group_id, unit, weight) with donor names."""
    donor_arr = F.array(*[F.lit(d) for d in donor_units])
    return fit.filter(F.col("kind") == "weight").select(
        "group_id",
        F.element_at(donor_arr, (F.col("idx") + 1).cast("int")).alias("unit"),
        F.col("value").alias("weight"),
    )


def rank_preservation_diagnostic(
    prepared: DataFrame, n_metrics: int, n_times: int, k: int
) -> DataFrame:
    """Top-k singular values of each metric slice and of the combined
    metric-major panel — the reference's rank-preservation diagnostic
    (testScriptMultiSynthControlSVD.py:117-178) as a DataFrame instead of a
    matplotlib plot. mRSC is justified when the combined spectrum decays
    like the individual ones (shared latent row structure), not like their
    concatenation; read the output as that plot's data.

    One grouped kernel per panel; returns (group_id, matrix, sv_idx, sv)
    with matrix ∈ {metric0.., combined}.
    """
    import numpy as np
    import pandas as pd

    schema = "group_id string, matrix string, sv_idx int, sv double"

    def _diag(pdf: pd.DataFrame) -> pd.DataFrame:
        gid = pdf["group_id"].iloc[0]
        piv = pdf.pivot_table(index="series_key", columns="bucket_idx", values="value")
        mat = piv.to_numpy(dtype=float)
        rows = []
        for m in range(n_metrics):
            sub = mat[:, m * n_times : (m + 1) * n_times]
            for i, v in enumerate(np.linalg.svd(sub, compute_uv=False)[:k]):
                rows.append((gid, f"metric{m}", i, float(v)))
        for i, v in enumerate(np.linalg.svd(mat, compute_uv=False)[:k]):
            rows.append((gid, "combined", i, float(v)))
        return pd.DataFrame(rows, columns=["group_id", "matrix", "sv_idx", "sv"])

    return prepared.groupBy("group_id").applyInPandas(_diag, schema=schema)


def rsc_predict(
    panel: DataFrame,
    weights: DataFrame,
    unit_col: str,
    time_col: str,
    value_col: str,
    group_id: str = "panel",
) -> DataFrame:
    """Counterfactual = Σ_d w_d · value(d, t) per time — broadcast join + agg.

    This is the reference's predict (syntheticControl.py:62-64) vectorized
    over every time step at once, fully JVM-side.
    """
    w = F.broadcast(weights.filter(F.col("group_id") == group_id))
    joined = panel.join(w, panel[unit_col] == w["unit"], "inner")
    return (
        joined.groupBy(F.col(time_col))
        .agg(F.sum(F.col(value_col) * F.col("weight")).alias("prediction"))
        .orderBy(time_col)
    )


def mrsc_predict(
    panel: DataFrame,
    weights: DataFrame,
    unit_col: str,
    time_col: str,
    value_col: str,
    metric_col: str,
    metric_order: list[str],
    metric_weights: list[float],
    group_id: str = "panel",
) -> DataFrame:
    """Per-metric counterfactuals; donor values sqrt(weight)-scaled first
    (combineMetrics at predict time), outputs left in scaled space."""
    metric_idx = F.array_position(
        F.array(*[F.lit(m) for m in metric_order]), F.col(metric_col)
    )
    mw = F.element_at(
        F.array(*[F.lit(float(x)) for x in metric_weights]), metric_idx.cast("int")
    )
    scaled = panel.withColumn(value_col, F.col(value_col) * F.sqrt(mw))
    w = F.broadcast(weights.filter(F.col("group_id") == group_id))
    joined = scaled.join(w, scaled[unit_col] == w["unit"], "inner")
    return (
        joined.groupBy(metric_col, F.col(time_col))
        .agg(F.sum(F.col(value_col) * F.col("weight")).alias("prediction"))
        .orderBy(metric_col, time_col)
    )
