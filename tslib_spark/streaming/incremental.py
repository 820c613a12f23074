"""Incremental model maintenance: the reference's updateSVD path on Spark.

The initial state is the batch model's own fit: ``fit_state`` runs the
same HSVT fit as ``fit_transform`` (``linalg.hsvt_fit``) and stores its
factors, so ``fit_state`` weights are ``fit_transform``'s weights.

Semantics (tsSVDModel.updateSVD, /root/reference/src/models/tsSVDModel.py:
194-232): a new block D of len divisible by N arrives; NaNs are filled with
D's own middle value (0.0 if all-NaN); D reshapes to N×p; both the full SVD
(Uk, sk, Vk) and the weights SVD (Ukw, skw, Vkw) are updated by folding-in
(tsUtils.py:12-21) or a Brand rank-preserving update (tsUtils.py:24-57);
lastRowObservations extends by D's last row; weights recompute from the
updated weights-SVD pseudo-inverse; TimesUpdated increments. The newly
appended columns' denoised values are read off the updated factors
(denoisedDFNew, tsSVDModel.py:123-129).

Spark shape: model state is one row per series-group in a parquet-backed
*state table* (arrays of factor values); an update is a cogrouped kernel
(state ⨝ new block) emitting the next state row + the imputed new buckets.
This is exactly the north rule's resumable checkpoint: state rows are
upserted per micro-batch, so a crashed update re-runs from the last
committed state.

Note the reference's folding-in update requires D.shape[1] <= D.shape[0]
(:208) — i.e. at most N new columns per update; we keep that contract and
let callers batch larger arrivals into successive updates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tslib_spark.kernels import linalg
from tslib_spark.kernels.svd_kernel import ModelConfig, _filled_matrix, _prep_group, _tidy

STATE_SCHEMA = (
    "group_id string, n int, m int, k int, kw int, p double, n_series int, "
    "uk array<double>, sk array<double>, vk array<double>, "
    "ukw array<double>, skw array<double>, vkw array<double>, "
    "last_row array<double>, weights array<double>, times_updated int, "
    "imputed_new array<double>"
)

def _state_row(gid, N, p, n_series, uk, sk, vk, ukw, skw, vkw, last_row, weights, times_updated, imputed_new):
    return pd.DataFrame(
        [
            {
                "group_id": gid,
                "n": N,
                "m": vk.shape[0],
                "k": int(sk.size),
                # the weights SVD comes from the past-only design matrix
                # (fewer rows), so its effective rank can be smaller than k
                # when cfg.k exceeds the design's row count — reshape
                # ukw/vkw with kw, never k
                "kw": int(skw.size),
                "p": p,
                "n_series": n_series,
                "uk": uk.flatten().tolist(),
                "sk": sk.tolist(),
                "vk": vk.flatten().tolist(),
                "ukw": ukw.flatten().tolist(),
                "skw": skw.tolist(),
                "vkw": vkw.flatten().tolist(),
                "last_row": last_row.tolist(),
                "weights": weights.tolist(),
                "times_updated": times_updated,
                "imputed_new": imputed_new,
            }
        ]
    )


def _read_factors(s: pd.Series):
    """(uk, sk, vk), (ukw, skw, vkw) of one state row, reshaped."""
    k, kw = int(s["k"]), int(s["kw"])
    return (
        (
            np.asarray(s["uk"], dtype=float).reshape(-1, k),
            np.asarray(s["sk"], dtype=float),
            np.asarray(s["vk"], dtype=float).reshape(-1, k),
        ),
        (
            np.asarray(s["ukw"], dtype=float).reshape(-1, kw),
            np.asarray(s["skw"], dtype=float),
            np.asarray(s["vkw"], dtype=float).reshape(-1, kw),
        ),
    )


def _fit_state_group(pdf: pd.DataFrame, cfg: ModelConfig) -> pd.DataFrame:
    """Initial fit emitting factors (not reconstructions) as state."""
    series, _ = _prep_group(pdf, cfg)
    mat = _filled_matrix(series, cfg)
    (sk, uk, vk), (skw, ukw, vkw), _, weights = linalg.hsvt_fit(
        mat, len(cfg.donor_keys), cfg.N, cfg.k, cfg.p, cfg.include_past_only
    )
    return _state_row(
        pdf["group_id"].iloc[0], cfg.N, cfg.p, len(series), uk, sk, vk, ukw, skw, vkw,
        mat[-1, :], weights, 0, [],
    )


def fit_state(df: DataFrame, cfg: ModelConfig) -> DataFrame:
    """Fit the HSVT model per group and keep its factors as state rows."""
    if cfg.method != "svd":
        raise ValueError(f"fit_state fits HSVT only; got method {cfg.method!r}")
    return _tidy(df).groupBy("group_id").applyInPandas(
        lambda pdf: _fit_state_group(pdf, cfg), schema=STATE_SCHEMA
    )


def _update_group(new_data: pd.DataFrame, state: pd.DataFrame, method: str) -> pd.DataFrame:
    if state.empty:
        return pd.DataFrame(columns=[f.split()[0] for f in STATE_SCHEMA.split(", ")])
    if new_data.empty:
        # no new block for this group: state passes through unchanged
        out = state.iloc[[0]].copy()
        out["imputed_new"] = [[]]
        return out
    s = state.iloc[0]
    N, p = int(s["n"]), float(s["p"])
    (uk, sk, vk), (ukw, skw, vkw) = _read_factors(s)
    last_row = np.asarray(s["last_row"], dtype=float)

    D = new_data.sort_values("bucket_idx")["value"].to_numpy(dtype=np.float64)
    if D.size % N != 0:
        raise ValueError(f"new block length {D.size} not divisible by N={N}")
    # middle fill from the block's own extremes (tsSVDModel.py:196-203)
    mid = linalg.middle_value(D)
    D = np.where(np.isnan(D), mid, D)
    # column-major: each new column = N contiguous points, consistent with
    # the page-matrix fold (arrayToMatrix). Documented divergence: the
    # reference's updateSVD reshapes C-order (tsSVDModel.py:205), which
    # interleaves points across columns for p > 1 and contradicts its own
    # fold convention; the path is untested in the reference (SURVEY §2.10).
    D = D.reshape(N, D.size // N, order="F")
    if D.shape[1] > D.shape[0]:
        raise ValueError("at most N new columns per update (reference contract)")

    update = linalg.update_svd_brand if method == "brand" else linalg.update_svd_folding_in
    uk, sk, vk = update(D, uk, sk, vk)
    # the block is the target's alone, so its design rows are its first N-1
    ukw, skw, vkw = update(linalg.regression_design(D, 0, N), ukw, skw, vkw)

    last_row = np.append(last_row, D[-1, :])
    weights = linalg.svd_weights(skw, ukw, vkw, p, last_row)

    # denoisedDFNew: reconstruct only the newly folded-in columns
    p_new = D.shape[1]
    imputed_new = linalg.reconstruct(sk, uk, vk[-p_new:, :], p).flatten("F").tolist()

    return _state_row(
        s["group_id"], N, p, int(s["n_series"]), uk, sk, vk, ukw, skw, vkw,
        last_row, weights, int(s["times_updated"]) + 1, imputed_new,
    )


def update_state(state: DataFrame, new_data: DataFrame, method: str = "folding-in") -> DataFrame:
    """One incremental micro-batch: cogroup (new block, state) per group.

    ``new_data``: tidy rows of the target series' new buckets (len divisible
    by N, ≤ N*N points). ``method`` is 'folding-in' or 'brand'. Returns the
    updated state rows, with the denoised values of the new buckets in
    ``imputed_new``.
    """
    if method not in ("folding-in", "brand"):
        raise ValueError(f"method must be 'folding-in' or 'brand', got {method!r}")
    tidy = new_data.select(
        F.col("group_id").cast("string"),
        F.col("bucket_idx").cast("long"),
        F.col("value").cast("double"),
    )
    return tidy.groupby("group_id").cogroup(state.groupby("group_id")).applyInPandas(
        lambda a, b: _update_group(a, b, method), schema=STATE_SCHEMA
    )


def impute_from_state(state: DataFrame) -> DataFrame:
    """Explode each group's full denoised target series from its factors —
    the batch read-back of the incrementally maintained model."""
    out_schema = "group_id string, col_idx long, row_idx long, value double"

    def _explode(pdf: pd.DataFrame) -> pd.DataFrame:
        s = pdf.iloc[0]
        (uk, sk, vk), _ = _read_factors(s)
        mat = linalg.reconstruct(sk, uk, vk, float(s["p"]))
        n_rows, n_cols = mat.shape
        N = int(s["n"])
        target = mat[-N:, :]  # target series block sits at the bottom
        cols = np.repeat(np.arange(n_cols), N)
        rows = np.tile(np.arange(N), n_cols)
        return pd.DataFrame(
            {
                "group_id": s["group_id"],
                "col_idx": cols,
                "row_idx": rows,
                "value": target.flatten("F"),
            }
        )

    return state.groupBy("group_id").applyInPandas(_explode, schema=out_schema)
