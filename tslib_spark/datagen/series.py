"""Seeded numpy series generators mirroring the reference's test fixtures.

These produce the *statistical oracles* for kernel-parity tests (FIXTURES.md
F2/F3): a synthetic series = harmonics + trend + ARMA whose latent mean is
known, so imputation/forecast error can be measured against ground truth.

Semantics mirror the reference generators —
``/root/reference/src/data/generateHarmonics.py:8-28``,
``generateTrend.py:9-44``, ``generateARMA.py:8-39`` — including the ARMA
recurrence's quirks (the ``ar[0]`` term multiplies the not-yet-written
current point, i.e. contributes nothing; the final ``maxLags`` output
points remain zero), because the parity fixtures are defined by exactly
that process. All randomness flows through an explicit
``numpy.random.Generator`` (the reference uses the unseeded global RNG,
which is untestable — documented divergence, SURVEY.md §7(e)).

Everything here is driver-side numpy by design: these are small test
fixtures (≤ a few × 10^4 points per series), not the scale path.
"""

from __future__ import annotations

import numpy as np


def generate_harmonics(
    sine_coeffs, sine_periods, cosine_coeffs, cosine_periods, time_steps: int
) -> np.ndarray:
    """Sum of sin/cos components, vectorized (reference: generateHarmonics.py:8-28)."""
    t = np.arange(time_steps, dtype=np.float64)
    T = float(time_steps)
    out = np.zeros(time_steps)
    for c, p in zip(sine_coeffs, sine_periods):
        out += c * np.sin(t * p * 2.0 * np.pi / T)
    for c, p in zip(cosine_coeffs, cosine_periods):
        out += c * np.cos(t * p * 2.0 * np.pi / T)
    return out


def linear_trend(time_steps: int, power: float, displacement: float) -> np.ndarray:
    return np.power(np.arange(time_steps, dtype=np.float64), power) + displacement


def log_trend(time_steps: int, displacement: float) -> np.ndarray:
    return np.log(np.arange(1, time_steps + 1, dtype=np.float64)) + displacement


def generate_trend(time_steps: int, power: float = 0.35, displacement: float = -2.5) -> np.ndarray:
    """linear-power + log trend, matching testScriptSingleTimeseries.py:45-62."""
    return linear_trend(time_steps, power, displacement) + log_trend(time_steps, displacement)


def generate_arma(
    ar_lags,
    ma_lags,
    starting,
    time_steps: int,
    noise_mean: float,
    noise_sd: float,
    rng: np.random.Generator,
):
    """ARMA(p,q) with latent mean, mirroring generateARMA.py:8-39.

    Returns (observed, mean, noise). Mirrored quirks: the j=0 AR term reads
    the still-zero current slot, and the trailing ``maxLags`` outputs stay 0.
    """
    p, q = len(ar_lags), len(ma_lags)
    max_lags = max(p, q)
    if len(starting) < max_lags:
        raise ValueError("starting array must cover max(p, q) lags")
    n = time_steps + max_lags
    out = np.zeros(n)
    mean = np.zeros(n)
    out[:max_lags] = starting[:max_lags]
    noise = rng.normal(noise_mean, noise_sd, n)
    for i in range(max_lags, time_steps):
        v = 0.0
        for j in range(p):
            v += out[i - j] * ar_lags[j]
        for k in range(q):
            v += noise[i - k] * ma_lags[k]
        out[i] = v + noise[i]
        mean[i] = v
    return out[max_lags:], mean[max_lags:], noise[max_lags:]


def sigmoid_function_one(theta, rho, alpha: float = 0.7):
    """The reference's simpleFunctionOne (testScriptMultiSynthControlSVD.py:
    34-42): a saturating sigmoid plus an exponential-growth term. Vectorized
    over numpy arrays (broadcast theta against rho for a panel)."""
    exp_term = np.exp(-theta - rho - alpha * theta * rho)
    exp_term2 = np.exp(-alpha * theta * rho)
    return 10.0 / (1.0 + exp_term) + 10.0 / exp_term2


def sigmoid_function_two(theta, rho, alpha: float = 0.5):
    """The reference's simpleFunctionTwo (testScriptMultiSynthControlSVD.py:
    44-50): pure sigmoid, no growth term."""
    exp_term = np.exp(-theta - rho - alpha * theta * rho)
    return 10.0 / (1.0 + exp_term)


def sigmoid_params(
    n_units: int, n_times: int, row_rank: int, col_rank: int, rng: np.random.Generator
) -> tuple[np.ndarray, np.ndarray]:
    """One (theta, rho) parameter draw, shared across metric matrices:
    unit/time parameters drawn from finite pools of size row_rank/col_rank
    (the reference's parameter draws, testScriptMultiSynthControlSVD.py:
    52-58 and 186-193) — the pools bound the matrix's approximate rank."""
    theta = rng.choice(rng.uniform(0.0, 1.0, row_rank), n_units)
    rho = rng.choice(rng.uniform(0.0, 1.0, col_rank), n_times)
    return theta, rho


def hide_random(array: np.ndarray, p_observe: float, rng: np.random.Generator):
    """NaN-out entries u.a.r. with prob 1-p (reference: tsUtils.py:119-128)."""
    arr = array.copy()
    mask = rng.uniform(0.0, 1.0, len(arr)) > p_observe
    arr[mask] = np.nan
    return arr, 1.0 - mask.mean()


def hide_consecutive(
    array: np.ndarray,
    p_observe_row: float,
    longest_stretch: int,
    gap: int,
    rng: np.random.Generator,
):
    """Hide consecutive runs spaced >= gap apart (reference: tsUtils.py:133-167)."""
    arr = array.copy()
    n = len(arr)
    to_hide_budget = int((1.0 - p_observe_row) * n)
    hidden = 0
    i = 0
    while i < n:
        if rng.uniform(0.0, 1.0) > p_observe_row:
            run = longest_stretch
            start = i + int(rng.uniform(0.0, 1.0) * (gap - run))
            if start + run > i + gap:
                run = (i + gap) - start
            arr[start : start + run] = np.nan
            hidden += run
            to_hide_budget -= run
            if to_hide_budget <= 0:
                break
        i += gap
    return arr, 1.0 - hidden / float(n)


def normalize(array: np.ndarray, vmax: float, vmin: float) -> np.ndarray:
    """Affine map to [-1, 1] (reference: tsUtils.py:102-108)."""
    mid = 0.5 * (vmin + vmax)
    half = 0.5 * (vmax - vmin)
    return (array - mid) / half


def _mixture(time_steps: int, rng: np.random.Generator, harmonics_params=None):
    hp = harmonics_params or dict(
        sine_coeffs=[-2.0, 3.0],
        sine_periods=[26.0, 30.0],
        cosine_coeffs=[-2.5],
        cosine_periods=[16.0],
    )
    harmonics = generate_harmonics(
        hp["sine_coeffs"], hp["sine_periods"], hp["cosine_coeffs"], hp["cosine_periods"], time_steps
    )
    trend = generate_trend(time_steps)
    ar, ma = [0.4, 0.3, 0.2], [0.5, 0.1]
    observed_arma, mean_arma, _ = generate_arma(
        ar, ma, np.zeros(max(len(ar), len(ma))), time_steps, 0.0, 1.0, rng
    )
    observed = harmonics + trend + observed_arma
    mean = harmonics + trend + mean_arma
    return observed, mean


def single_ts_fixture(N: int = 50, M: int = 400, train_prop: float = 0.9, p: float = 0.7, seed: int = 42):
    """F2: the testScriptSingleTimeseries.py:80-158 setup.

    Returns a dict with train (hidden), train_master, mean_train, test,
    mean_test arrays (normalized to [-1,1]) plus the config.
    """
    rng = np.random.default_rng(seed)
    time_steps = N * M
    M1 = int(train_prop * M)
    train_points = N * M1
    test_points = N * (M - M1)

    observed, mean = _mixture(time_steps, rng)
    vmax = max(np.nanmax(observed), np.nanmax(mean))
    vmin = min(np.nanmin(observed), np.nanmin(mean))
    observed = normalize(observed, vmax, vmin)
    mean = normalize(mean, vmax, vmin)

    train_master = observed[:train_points].copy()
    train, _ = hide_random(train_master, p, rng)
    train, _ = hide_consecutive(train, 0.9, int(M1 * 0.25), M1, rng)

    return {
        "N": N,
        "M": M,
        "M1": M1,
        "k": 5,
        "train": train,
        "train_master": train_master,
        "mean_train": mean[:train_points].copy(),
        "test": observed[-test_points:].copy(),
        "mean_test": mean[-test_points:].copy(),
    }


def multi_ts_fixture(N: int = 50, M: int = 400, train_prop: float = 0.7, seed: int = 42):
    """F3: testScriptMultipleTimeseries.py:81-183 — t2 = 0.3*t1 + N(0, 0.5), t3 = -0.4*t1."""
    rng = np.random.default_rng(seed)
    time_steps = N * M
    M1 = int(train_prop * M)
    train_points = N * M1
    test_points = N * (M - M1)

    hp = dict(sine_coeffs=[-2.0, 3.0], sine_periods=[4.0, 10.0], cosine_coeffs=[-2.5], cosine_periods=[12.0])
    t1_obs, t1_mean = _mixture(time_steps, rng, hp)
    t2 = 0.3 * t1_obs + rng.normal(0.0, 0.5, time_steps)
    t3 = -0.4 * t1_obs

    allv = np.concatenate([t1_obs, t1_mean, t2, t3])
    vmax, vmin = np.nanmax(allv), np.nanmin(allv)
    series = {
        "t1": normalize(t1_obs, vmax, vmin),
        "t2": normalize(t2, vmax, vmin),
        "t3": normalize(t3, vmax, vmin),
    }
    mean_t1 = normalize(t1_mean, vmax, vmin)
    return {
        "N": N,
        "M": M,
        "M1": M1,
        "k": 5,
        "series_train": {k: v[:train_points].copy() for k, v in series.items()},
        "series_test": {k: v[-test_points:].copy() for k, v in series.items()},
        "mean_train": mean_t1[:train_points].copy(),
        "mean_test": mean_t1[-test_points:].copy(),
    }

