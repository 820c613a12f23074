"""Pure-numpy linear-algebra primitives for the matrix-estimation kernels.

These reimplement the *semantics* of the reference's math (cited per
function) with our own vectorized structure. They run only inside Arrow
batches (``applyInPandas``) or in tests — never on the driver against
distributed data. Per-group matrices are small (e.g. 50×360); BLAS inside
an executor task is the right tool, Spark distributes *across* groups.

Conventions follow the reference: V is carried transposed (columns =
right singular vectors), page matrices fold column-major, donors stack
above the target series, and every reconstruction rescales by 1/p to
de-bias uniformly-missing entries.
"""

from __future__ import annotations

import numpy as np


def fold(series: np.ndarray, n_rows: int, n_cols: int) -> np.ndarray:
    """Column-major fold of a length N*M series into an N×M page matrix.

    Semantics of /root/reference/src/tsUtils.py:59-67 (arrayToMatrix):
    each column holds one contiguous stretch of N points.
    """
    if n_rows * n_cols != series.size:
        raise ValueError("n_rows * n_cols must equal series length")
    return series.reshape(n_cols, n_rows).T


def unfold(matrix: np.ndarray) -> np.ndarray:
    """Inverse of fold: column-major flatten (tsSVDModel.py:105-108)."""
    return matrix.flatten("F")


def svd_topk(matrix: np.ndarray, k: int):
    """Top-k singular triplets, clamped like svdWrapper.py:41-58.

    Returns (sk, Uk, Vk) with Vk column-oriented (transposed from numpy's).
    """
    if k < 1:
        return np.array([]), np.empty((matrix.shape[0], 0)), np.empty((matrix.shape[1], 0))
    k = min(k, min(matrix.shape))
    u, s, vt = np.linalg.svd(matrix, full_matrices=False)
    return s[:k], u[:, :k], vt[:k, :].T


def reconstruct(sk: np.ndarray, Uk: np.ndarray, Vk: np.ndarray, p: float = 1.0) -> np.ndarray:
    """(1/p) * Uk diag(sk) Vk^T — de-biased low-rank reconstruction
    (tsUtils.py:70-71)."""
    return (1.0 / p) * (Uk * sk) @ Vk.T


def pinv_from_svd(sk: np.ndarray, Uk: np.ndarray, Vk: np.ndarray, p: float = 1.0) -> np.ndarray:
    """Moore–Penrose pseudo-inverse from the truncated SVD (tsUtils.py:73-80).

    Inverts strictly-positive singular values and swaps U/V; note the
    reference's 1/p becomes a multiplication by p here (1/(1/p)).
    """
    s_inv = np.where(sk > 0.0, 1.0 / np.where(sk > 0.0, sk, 1.0), sk)
    return reconstruct(s_inv, Vk, Uk, 1.0 / p)


def hsvt(matrix: np.ndarray, k: int, p: float = 1.0) -> np.ndarray:
    """Hard singular-value thresholding: keep top-k, rebuild, rescale by 1/p."""
    sk, Uk, Vk = svd_topk(matrix, k)
    return reconstruct(sk, Uk, Vk, p)


def middle_value(arr: np.ndarray) -> float:
    """(nanmax + nanmin)/2 — the reference's "least informative" fill
    (tsSVDModel.py:142-148); 0.0 when everything is NaN (:196-203)."""
    if np.all(np.isnan(arr)):
        return 0.0
    return 0.5 * (np.nanmax(arr) + np.nanmin(arr))


def stack_series(
    series_by_key: dict[str, np.ndarray],
    target_key: str,
    donor_keys: list[str],
    N: int,
    M: int,
) -> np.ndarray:
    """Stack per-series page matrices vertically, target at the bottom
    (tsSVDModel.py:156-173). Uses the LAST N*M points of each series."""
    T = N * M
    blocks = []
    for key in list(donor_keys) + [target_key]:
        s = series_by_key[key]
        if s.size < T:
            raise ValueError(f"series {key!r} must have length >= {T}")
        blocks.append(fold(np.asarray(s, dtype=np.float64)[-T:], N, M))
    return np.vstack(blocks)


def past_only_submatrix(matrix: np.ndarray, n_series: int, N: int) -> np.ndarray:
    """Drop each series' N-th (last) row — the regression design matrix when
    donors may not peek at the current point (tsSVDModel.py:74-87)."""
    rows = [matrix[s * N : s * N + (N - 1), :] for s in range(n_series)]
    return np.vstack(rows) if rows else np.empty((0, matrix.shape[1]))


def regression_design(
    matrix: np.ndarray, n_donors: int, N: int, include_past_only: bool = True
) -> np.ndarray:
    """The rows the forecast weights regress on (tsSVDModel.py:74-87).

    Past-only: every series' first N-1 rows. Otherwise donors may include
    the current point: every donor row plus the target's first N-1 (for
    RSC's N=1, just the donor rows).
    """
    if include_past_only:
        return past_only_submatrix(matrix, n_donors + 1, N)
    return matrix[: n_donors * N + N - 1, :]


def svd_weights(
    skw: np.ndarray, Ukw: np.ndarray, Vkw: np.ndarray, p: float, last_row: np.ndarray
) -> np.ndarray:
    """SVD-path forecast weights from the design's truncated SVD:
    pinv(design)^T @ lastRow (tsSVDModel.py:89-93)."""
    return pinv_from_svd(skw, Ukw, Vkw, p).T @ last_row


def hsvt_fit(
    filled: np.ndarray, n_donors: int, N: int, k: int, p: float, include_past_only: bool = True
):
    """The HSVT model fit of a filled, stacked page matrix (tsSVDModel.py:54-93).

    Denoise by rank-k reconstruction, then regress the last row on the
    denoised design. Returns ``((sk, Uk, Vk), (skw, Ukw, Vkw), denoised,
    weights)``: the matrix factors, the design factors, the reconstruction
    and the forecast weights.
    """
    sk, Uk, Vk = svd_topk(filled, k)
    denoised = reconstruct(sk, Uk, Vk, p)
    skw, Ukw, Vkw = svd_topk(regression_design(denoised, n_donors, N, include_past_only), k)
    weights = svd_weights(skw, Ukw, Vkw, p, filled[-1, :])
    return (sk, Uk, Vk), (skw, Ukw, Vkw), denoised, weights


def als_weights(
    denoised: np.ndarray, last_row: np.ndarray, n_donors: int, N: int, include_past_only: bool = True
) -> np.ndarray:
    """ALS-path forecast weights: a direct numpy pinv of the design
    (tsALSModel.py:33-63)."""
    design = regression_design(denoised, n_donors, N, include_past_only)
    return np.linalg.pinv(design).T @ last_row


def rolling_forecast(
    weights: np.ndarray,
    train_tail: np.ndarray,
    test_actuals: np.ndarray,
    N: int,
    donor_train_tails: dict[str, np.ndarray] | None = None,
    donor_test_actuals: dict[str, np.ndarray] | None = None,
    donor_keys: list[str] | None = None,
    include_past_only: bool = True,
) -> np.ndarray:
    """Non-recursive rolling forecast over a horizon.

    Mirrors the reference driver loop (testScriptSingleTimeseries.py:176-192):
    each step's lag vector is built from *actual observed* values (train tail
    then realized test points), never from prior predictions. Vectorized with
    a strided sliding window instead of a per-step Python loop.
    """
    donor_keys = donor_keys or []
    horizon = len(test_actuals)
    need_t = N - 1
    full_target = np.concatenate([np.asarray(train_tail)[-need_t:], np.asarray(test_actuals)])
    tgt_windows = np.lib.stride_tricks.sliding_window_view(full_target, need_t)[:horizon]

    if not donor_keys:
        return tgt_windows @ weights

    need_d = N - 1 if include_past_only else N
    blocks = []
    for key in donor_keys:
        full_d = np.concatenate(
            [np.asarray(donor_train_tails[key])[-need_d:], np.asarray(donor_test_actuals[key])]
        )
        if include_past_only:
            dw = np.lib.stride_tricks.sliding_window_view(full_d, need_d)[:horizon]
        else:
            # donors may include the current point: window ends at step i
            dw = np.lib.stride_tricks.sliding_window_view(full_d, need_d)[1 : horizon + 1]
        blocks.append(dw)
    blocks.append(tgt_windows)
    X = np.hstack(blocks)
    return X @ weights


def weighted_als(
    matrix: np.ndarray,
    k: int,
    lam: float = 0.0,
    iterations: int = 1000,
    tol: float = 1e-6,
    seed: int = 0,
):
    """Weighted ridge ALS with a NaN mask (alsWrapper.py:21-83 semantics).

    W=0 at missing entries; alternate per-row/per-column ridge solves via
    pinv; stop when the masked-MSE improvement < tol. Differences vs the
    reference, by design: explicit seed (theirs uses the unseeded global
    RNG — untestable), no prints.
    """
    A = np.array(matrix, dtype=np.float64, copy=True)
    W = (~np.isnan(A)).astype(np.float64)
    A[np.isnan(A)] = 0.0
    n, m = A.shape

    rng = np.random.default_rng(seed)
    middle = 0.5 * (A.max() + A.min())
    U = middle * rng.random((n, k))
    V = middle * rng.random((k, m))

    past_err = np.inf
    for _ in range(iterations):
        for u in range(n):
            Wu = W[u]
            left = np.linalg.pinv(V @ (Wu[:, None] * V.T) + lam * np.eye(k))
            U[u] = left @ (V @ (Wu * A[u]))
        for i in range(m):
            Wi = W[:, i]
            left = np.linalg.pinv(U.T @ (Wi[:, None] * U) + lam * np.eye(k))
            V[:, i] = left @ (U.T @ (Wi * A[:, i]))
        err = np.mean((W * (A - U @ V)) ** 2)
        if abs(err - past_err) < tol:
            break
        past_err = err
    return U, V


def als_fit_matrix(matrix_with_nans: np.ndarray, k: int, seed: int = 0):
    """ALSModel.fit() semantics (tsALSModel.py:68-92): ALS-estimate, clip to
    observed [min, max], return (estimate, filled_last_row)."""
    vmax = np.nanmax(matrix_with_nans)
    vmin = np.nanmin(matrix_with_nans)
    U, V = weighted_als(matrix_with_nans, k, lam=0.0, iterations=1000, tol=1e-9, seed=seed)
    est = np.clip(U @ V, vmin, vmax)
    last = matrix_with_nans[-1, :].copy()
    nan_mask = np.isnan(last)
    last[nan_mask] = est[-1, nan_mask]
    return est, last


def update_svd_folding_in(D: np.ndarray, uk: np.ndarray, sk: np.ndarray, vk: np.ndarray):
    """Append new columns to Vk without touching Uk/sk (tsUtils.py:12-21):
    the projected coordinates of the new block in the existing basis."""
    new_rows = D.T @ uk @ np.diag(1.0 / sk)
    return uk, sk, np.vstack([vk, new_rows])


def update_svd_brand(D: np.ndarray, uk: np.ndarray, sk: np.ndarray, vk: np.ndarray):
    """Rank-preserving incremental SVD (Brand-style, tsUtils.py:24-57):
    project out the known subspace, QR the residual, re-SVD the small core."""
    k = sk.shape[0]
    n, p = D.shape
    m = vk.shape[0]

    resid = D - uk @ (uk.T @ D)
    Qd, Rd = np.linalg.qr(resid)

    core = np.zeros((p + k, p + k))
    core[:k, :k] = np.diag(sk)
    core[:k, k : k + p] = uk.T @ D
    core[k : k + p, k : k + p] = Rd
    ui, si, vit = np.linalg.svd(core, full_matrices=False)

    U_ext = np.hstack([uk, Qd])
    uk_new = U_ext @ ui[:, :k]
    sk_new = si[:k]

    V_ext = np.zeros((m + p, k + p))
    V_ext[:m, :k] = vk
    V_ext[m : m + p, k : k + p] = np.eye(p)
    vk_new = V_ext @ vit[:k, :].T
    return uk_new, sk_new, vk_new


def rmse(a: np.ndarray, b: np.ndarray) -> float:
    """sqrt(mean((a-b)^2)) — numpy-only (reference pulls sklearn for this,
    tsUtils.py:83-84; sklearn is deliberately not a dependency here)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    return float(np.sqrt(np.mean((a - b) ** 2)))
