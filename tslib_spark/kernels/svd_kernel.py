"""Grouped Arrow kernels: HSVT/ALS imputation + forecast over tidy tables.

The distribution contract (SURVEY.md §3): one ``applyInPandas`` group = one
*series-group* — the set {target} ∪ donors that forms one stacked page
matrix. The tidy input is ``(group_id, series_key, bucket_idx, value)``
with SQL NULL for missing observations. Spark plans the scan/filter/shuffle
(a single hash partition on group_id); the kernel crosses the JVM↔Python
Arrow boundary once per group and runs small-matrix BLAS.

Correctness traps handled here (SURVEY.md §7):
- Spark gives NO intra-group row order into applyInPandas, and a row
  position is not a time once a bucket can be missing → every kernel
  places each series on the group's contiguous bucket_idx range, so an
  absent bucket is a NULL one and a duplicate bucket fails loudly.
- SVD sign indeterminacy → only reconstructions are ever emitted/compared,
  never factors.
- Group size is asserted (donors+target × N*M points) so a malformed head
  group fails loudly instead of OOMing an executor.

Per BASELINE.json input_hint there is no per-row Python anywhere: kernels
are vectorized numpy over Arrow batches.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tslib_spark.kernels import linalg

FIT_OUTPUT_SCHEMA = "group_id string, kind string, series_key string, idx long, value double"
FORECAST_OUTPUT_SCHEMA = "group_id string, idx long, forecast double"


@dataclass(frozen=True)
class ModelConfig:
    """Mirror of the reference model hyperparameters (tsSVDModel.py:25-49)."""

    target_key: str
    N: int
    M: int
    k: int
    donor_keys: tuple[str, ...] = field(default_factory=tuple)
    p: float = 1.0
    include_past_only: bool = True
    method: str = "svd"  # 'svd' (HSVT) or 'als' (weighted ridge ALS)
    als_seed: int = 0

    def __post_init__(self):
        if self.method not in ("svd", "als"):
            raise ValueError(f"method must be 'svd' or 'als', got {self.method!r}")


def _series_grid(pdf: pd.DataFrame, keys: list[str]):
    """Each of ``keys`` on the contiguous bucket_idx range its rows span
    together, NaN where a bucket is NULL or absent. Returns
    (bucket_idx range, {key: values})."""
    key_col = pdf["series_key"].to_numpy()
    pos = pdf["bucket_idx"].to_numpy(dtype=np.int64)
    val = pdf["value"].to_numpy(dtype=np.float64)
    masks = [key_col == key for key in keys]
    used = pos[np.logical_or.reduce(masks)]
    lo = int(used.min()) if used.size else 0
    grid = np.arange(lo, int(used.max()) + 1 if used.size else 0, dtype=np.int64)
    series = {}
    for key, mask in zip(keys, masks):
        at = pos[mask] - lo
        if np.unique(at).size < at.size:
            raise ValueError(
                f"series {key!r} in group {pdf['group_id'].iloc[0]!r} has "
                "duplicate bucket_idx rows"
            )
        series[key] = np.full(grid.size, np.nan)
        series[key][at] = val[mask]
    return grid, series


def _prep_group(pdf: pd.DataFrame, cfg: ModelConfig):
    """The model's series on the group's last N*M buckets; returns
    ({key: values}, bucket_idx)."""
    grid, series = _series_grid(pdf, list(cfg.donor_keys) + [cfg.target_key])
    T = cfg.N * cfg.M
    if grid.size < T:
        raise ValueError(
            f"group {pdf['group_id'].iloc[0]!r} spans {grid.size} buckets; "
            f"model needs N*M = {T}"
        )
    return {key: v[-T:] for key, v in series.items()}, grid[-T:]


def _filled_matrix(series: dict[str, np.ndarray], cfg: ModelConfig) -> np.ndarray:
    """Middle-fill and stack the page matrices. The fill is GLOBAL across
    all series of the group (reference computes nanmax/nanmin over the
    whole keyToSeriesDF, tsSVDModel.py:142-148)."""
    mid = linalg.middle_value(np.concatenate(list(series.values())))
    filled = {k: np.where(np.isnan(v), mid, v) for k, v in series.items()}
    return linalg.stack_series(filled, cfg.target_key, list(cfg.donor_keys), cfg.N, cfg.M)


def _fit_group(pdf: pd.DataFrame, cfg: ModelConfig) -> pd.DataFrame:
    series, idx = _prep_group(pdf, cfg)
    gid = pdf["group_id"].iloc[0]
    donors = list(cfg.donor_keys)

    if cfg.method == "als":
        raw = linalg.stack_series(series, cfg.target_key, donors, cfg.N, cfg.M)
        denoised, last_row = linalg.als_fit_matrix(raw, cfg.k, seed=cfg.als_seed)
        weights = linalg.als_weights(denoised, last_row, len(donors), cfg.N, cfg.include_past_only)
    else:
        _, _, denoised, weights = linalg.hsvt_fit(
            _filled_matrix(series, cfg), len(donors), cfg.N, cfg.k, cfg.p, cfg.include_past_only
        )

    # columnar assembly — whole-array concatenates + np.repeat key
    # broadcast (the decode_chunks pattern, codec/chunks.py): no per-point
    # Python list churn between the BLAS output and the Arrow batch
    ordered = donors + [cfg.target_key]
    T = cfg.N * cfg.M
    out_val = np.concatenate(
        [
            linalg.unfold(denoised[s * cfg.N : (s + 1) * cfg.N, :])
            for s in range(len(ordered))
        ]
        + [weights]
    )
    out_idx = np.concatenate(
        [idx] * len(ordered) + [np.arange(weights.size, dtype=np.int64)]
    )
    sizes = [T] * len(ordered) + [weights.size]
    out_key = np.repeat(np.array(ordered + [cfg.target_key], dtype=object), sizes)
    out_kind = np.repeat(
        np.array(["imputed"] * len(ordered) + ["weight"], dtype=object), sizes
    )

    return pd.DataFrame(
        {
            "group_id": np.repeat(gid, out_val.size),
            "kind": out_kind,
            "series_key": out_key,
            "idx": out_idx,
            "value": out_val,
        }
    )


def _tidy(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("group_id").cast("string"),
        F.col("series_key").cast("string"),
        F.col("bucket_idx").cast("long"),
        F.col("value").cast("double"),
    )


def fit_transform(df: DataFrame, cfg: ModelConfig) -> DataFrame:
    """Fit the matrix-estimation model per group; emit imputed rows + weights.

    Input: tidy (group_id, series_key, bucket_idx, value/NULL); an absent
    bucket counts as a NULL one.
    Output rows: kind='imputed' (series_key, idx=bucket_idx, value) and
    kind='weight' (idx=weight position, value=weight).
    One shuffle (hash on group_id), one Arrow round-trip per group.
    """
    return _tidy(df).groupBy("group_id").applyInPandas(
        lambda pdf: _fit_group(pdf, cfg), schema=FIT_OUTPUT_SCHEMA
    )


def _forecast_group(actuals: pd.DataFrame, state: pd.DataFrame, cfg: ModelConfig, train_end_idx: int) -> pd.DataFrame:
    if state.empty or actuals.empty:
        return pd.DataFrame({"group_id": [], "idx": [], "forecast": []})
    gid = actuals["group_id"].iloc[0]
    weights = np.asarray(state.sort_values("idx")["value"].to_numpy(), dtype=np.float64)

    # Gaps in the realized actuals are middle-filled (the reference's rule
    # for NaNs in incoming data, tsSVDModel.py:196-203); its predict()
    # assumes complete vectors, which crawl series are not.
    mid = linalg.middle_value(actuals["value"].to_numpy(dtype=np.float64))
    grid, series = _series_grid(actuals, list(cfg.donor_keys) + [cfg.target_key])
    filled = {k: np.where(np.isnan(v), mid, v) for k, v in series.items()}
    train = grid < train_end_idx

    preds = linalg.rolling_forecast(
        weights, filled[cfg.target_key][train], filled[cfg.target_key][~train], cfg.N,
        donor_train_tails={k: filled[k][train] for k in cfg.donor_keys},
        donor_test_actuals={k: filled[k][~train] for k in cfg.donor_keys},
        donor_keys=list(cfg.donor_keys), include_past_only=cfg.include_past_only,
    )
    return pd.DataFrame({"group_id": gid, "idx": grid[~train], "forecast": preds})


def forecast(
    actuals: DataFrame,
    weights_state: DataFrame,
    cfg: ModelConfig,
    train_end_idx: int,
) -> DataFrame:
    """Rolling forecast per group via cogrouped kernels.

    ``actuals`` holds observed values for train tail + test horizon (the
    reference forecasts from realized values, not prior predictions; an
    absent bucket counts as a NULL one); ``weights_state`` is
    fit_transform's kind='weight' rows. One co-shuffle
    on group_id, one kernel call per group for the whole horizon — versus
    the reference's per-step driver loop (M2 round trips).
    """
    state = weights_state.select("group_id", "idx", "value")
    return _tidy(actuals).groupby("group_id").cogroup(state.groupby("group_id")).applyInPandas(
        lambda a, s: _forecast_group(a, s, cfg, train_end_idx), schema=FORECAST_OUTPUT_SCHEMA
    )
