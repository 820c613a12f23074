"""Kernel parity: Spark applyInPandas HSVT/forecast vs an independent numpy oracle.

The oracle below is written directly against the reference's *semantics*
(tsSVDModel.fit/_computeWeights/predict), using different code paths than
tslib_spark.kernels.linalg (direct np.linalg.svd slicing and
np.linalg.pinv), so agreement is meaningful. Comparisons are on
reconstructions/predictions only — never on factors (sign indeterminacy).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tslib_spark.datagen.series import multi_ts_fixture, single_ts_fixture
from tslib_spark.kernels import linalg
from tslib_spark.kernels.svd_kernel import (
    ModelConfig,
    _fit_group,
    _forecast_group,
    fit_transform,
    forecast,
)
from tslib_spark.streaming.incremental import _fit_state_group, fit_state, update_state


# ---------- independent oracle (reference semantics, direct numpy) ----------

def oracle_fit(series_by_key, target, donors, N, M, k, p, include_past_only=True):
    T = N * M
    ordered = list(donors) + [target]
    clipped = {key: np.asarray(series_by_key[key], dtype=float)[-T:] for key in ordered}
    allv = np.concatenate(list(clipped.values()))
    mid = 0.5 * (np.nanmax(allv) + np.nanmin(allv))
    mat = np.vstack(
        [np.where(np.isnan(clipped[key]), mid, clipped[key]).reshape(M, N).T for key in ordered]
    )
    last_row = mat[-1].copy()
    U, S, Vt = np.linalg.svd(mat, full_matrices=False)
    denoised = (1.0 / p) * (U[:, :k] * S[:k]) @ Vt[:k]
    n_series = len(donors) + 1
    if include_past_only:
        design = np.vstack([denoised[s * N : s * N + N - 1] for s in range(n_series)])
    else:
        design = denoised[: len(donors) * N + N - 1]
    # reference: truncated-SVD pinv scaled by p (tsUtils.py:73-80 with prob=1/p);
    # design is rank<=k already, so full pinv * p is the same map.
    weights = p * np.linalg.pinv(design).T @ last_row
    return denoised, weights


def oracle_rolling_forecast(weights, train_tail, test, N, donors_train=None, donors_test=None, donor_keys=(), include_past_only=True):
    """Per-step loop exactly like testScriptSingleTimeseries.py:176-192."""
    preds = []
    need_d = N - 1 if include_past_only else N
    for i in range(len(test)):
        parts = []
        for key in donor_keys:
            full = np.concatenate([donors_train[key], donors_test[key]])
            end = len(donors_train[key]) + (i + 1 if not include_past_only else i)
            parts.append(full[end - need_d : end])
        full_t = np.concatenate([train_tail, test])
        end_t = len(train_tail) + i
        parts.append(full_t[end_t - (N - 1) : end_t])
        preds.append(float(np.dot(weights, np.concatenate(parts))))
    return np.array(preds)


def tidy_pdf(series_by_key, group_id="g0"):
    frames = []
    for key, vals in series_by_key.items():
        frames.append(
            pd.DataFrame(
                {
                    "group_id": group_id,
                    "series_key": key,
                    "bucket_idx": np.arange(len(vals), dtype=np.int64),
                    "value": np.asarray(vals, dtype=float),
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


# ---------------------------- pure numpy tests ----------------------------

def test_fold_unfold_column_major():
    s = np.arange(12, dtype=float)
    m = linalg.fold(s, 3, 4)
    assert m.shape == (3, 4)
    np.testing.assert_array_equal(m[:, 0], [0, 1, 2])  # col = contiguous stretch
    np.testing.assert_array_equal(linalg.unfold(m), s)


def test_hsvt_truncation_edges():
    rng = np.random.default_rng(0)
    m = rng.normal(size=(6, 8))
    # k beyond rank clamps; k big enough reproduces the matrix
    np.testing.assert_allclose(linalg.hsvt(m, 99), m, atol=1e-10)
    sk, Uk, Vk = linalg.svd_topk(m, 0)
    assert sk.size == 0 and Uk.shape == (6, 0) and Vk.shape == (8, 0)


def test_pinv_from_svd_matches_numpy():
    rng = np.random.default_rng(1)
    m = rng.normal(size=(5, 7))
    sk, Uk, Vk = linalg.svd_topk(m, 5)
    np.testing.assert_allclose(linalg.pinv_from_svd(sk, Uk, Vk), np.linalg.pinv(m), atol=1e-10)


def test_weighted_als_recovers_low_rank():
    rng = np.random.default_rng(2)
    truth = np.outer(rng.normal(size=30), rng.normal(size=20)) + np.outer(
        rng.normal(size=30), rng.normal(size=20)
    )
    noisy = truth.copy()
    mask = rng.random(truth.shape) < 0.3
    noisy[mask] = np.nan
    U, V = linalg.weighted_als(noisy, k=2, tol=1e-10, seed=3)
    est = U @ V
    obs = ~mask
    assert linalg.rmse(est[obs], truth[obs]) < 0.05


def test_incremental_updates_track_full_svd():
    rng = np.random.default_rng(4)
    base = rng.normal(size=(20, 3)) @ rng.normal(size=(3, 30))
    new = rng.normal(size=(20, 3)) @ rng.normal(size=(3, 2))
    k = 3
    sk, Uk, Vk = linalg.svd_topk(base, k)
    # folding-in: existing basis unchanged, new columns projected
    _, _, Vk2 = linalg.update_svd_folding_in(new, Uk, sk, Vk)
    assert Vk2.shape == (32, k)
    recon_new_cols = linalg.reconstruct(sk, Uk, Vk2)[:, 30:]
    np.testing.assert_allclose(recon_new_cols, Uk @ Uk.T @ new, atol=1e-8)
    # brand update: tracks the true top-k SVD of the concatenation
    uk_b, sk_b, vk_b = linalg.update_svd_brand(new, Uk, sk, Vk)
    full = np.hstack([base, new])
    sk_t, _, _ = linalg.svd_topk(full, k)
    np.testing.assert_allclose(sk_b, sk_t, rtol=1e-6)
    np.testing.assert_allclose(
        linalg.reconstruct(sk_b, uk_b, vk_b), linalg.hsvt(full, k), atol=1e-6
    )


# ------------------- one model core (pandas-level kernels) -------------------

def noisy_pdf(keys, n_points, seed=0, nan_frac=0.2):
    rng = np.random.default_rng(seed)
    series = {}
    for key in keys:
        v = np.sin(np.arange(n_points) / 5 + rng.random()) + rng.normal(0, 0.1, n_points)
        v[rng.random(n_points) < nan_frac] = np.nan
        series[key] = v
    return tidy_pdf(series)


CORE_CONFIGS = pytest.mark.parametrize(
    "donors,past_only",
    [((), True), ((), False), (("d1", "d2"), True), (("d1", "d2"), False)],
    ids=["target-past", "target-current", "donors-past", "donors-current"],
)


@CORE_CONFIGS
def test_fit_state_weights_are_fit_transform_weights(donors, past_only):
    cfg = ModelConfig(
        target_key="t", N=8, M=12, k=3, donor_keys=donors, include_past_only=past_only
    )
    pdf = noisy_pdf([*donors, "t"], 8 * 12)
    fit = _fit_group(pdf, cfg)
    want = fit[fit["kind"] == "weight"].sort_values("idx")["value"].to_numpy()
    got = np.asarray(_fit_state_group(pdf, cfg)["weights"].iloc[0])
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-12)


@CORE_CONFIGS
def test_absent_bucket_is_a_null_bucket(donors, past_only):
    cfg = ModelConfig(
        target_key="t", N=8, M=10, k=3, donor_keys=donors, include_past_only=past_only
    )
    pdf = noisy_pdf([*donors, "t"], 96, seed=1, nan_frac=0.1)
    weights = _fit_group(pdf[pdf["bucket_idx"] < 80], cfg).query("kind == 'weight'")[["group_id", "idx", "value"]]
    # a target row in the horizon, and a donor row (the target's without
    # donors) both in the horizon and in the fitted page matrix
    other = donors[-1] if donors else "t"
    gone = {("t", 83), (other, 85), (other, 40)}
    hit = [(k, i) in gone for k, i in zip(pdf["series_key"], pdf["bucket_idx"])]
    nulled = pdf.assign(value=pdf["value"].mask(hit))
    dropped = pdf[~np.asarray(hit)]

    pd.testing.assert_frame_equal(
        _fit_group(dropped[dropped["bucket_idx"] < 80], cfg),
        _fit_group(nulled[nulled["bucket_idx"] < 80], cfg),
    )
    want = _forecast_group(nulled, weights, cfg, train_end_idx=80)
    assert list(want["idx"]) == list(range(80, 96))
    pd.testing.assert_frame_equal(_forecast_group(dropped, weights, cfg, train_end_idx=80), want)


def test_duplicate_bucket_raises():
    cfg = ModelConfig(target_key="t", N=8, M=12, k=3, donor_keys=("d1",))
    pdf = noisy_pdf(["d1", "t"], 96)
    dup = pd.concat([pdf, pdf[(pdf["series_key"] == "d1") & (pdf["bucket_idx"] == 90)]])
    with pytest.raises(ValueError, match="'g0'"):
        _fit_group(dup, cfg)
    weights = _fit_group(pdf, cfg).query("kind == 'weight'")[["group_id", "idx", "value"]]
    with pytest.raises(ValueError, match="'g0'"):
        _forecast_group(dup, weights, cfg, train_end_idx=80)


def test_invalid_model_configs_raise(spark):
    with pytest.raises(ValueError, match="'hsvt'"):
        ModelConfig(target_key="t", N=8, M=12, k=3, method="hsvt")
    df = spark.createDataFrame(noisy_pdf(["t"], 96))
    als = ModelConfig(target_key="t", N=8, M=12, k=3, method="als")
    with pytest.raises(ValueError, match="'als'"):
        fit_state(df, als)
    state = fit_state(df, ModelConfig(target_key="t", N=8, M=12, k=3))
    with pytest.raises(ValueError, match="'fold'"):
        update_state(state, df.select("group_id", "bucket_idx", "value"), method="fold")


# ------------------------- Spark kernel parity ----------------------------

@pytest.fixture(scope="module")
def fx_single():
    return single_ts_fixture()


@pytest.fixture(scope="module")
def fx_multi():
    return multi_ts_fixture()


def test_single_ts_imputation_parity(spark, fx_single):
    fx = fx_single
    N, M1, k = fx["N"], fx["M1"], fx["k"]
    cfg = ModelConfig(target_key="t1", N=N, M=M1, k=k, p=1.0)
    sdf = spark.createDataFrame(tidy_pdf({"t1": fx["train"]}))
    out = fit_transform(sdf, cfg).toPandas()

    imputed = (
        out[out["kind"] == "imputed"].sort_values("idx")["value"].to_numpy()
    )
    oracle_den, oracle_w = oracle_fit({"t1": fx["train"]}, "t1", [], N, M1, k, 1.0)
    np.testing.assert_allclose(imputed, oracle_den.flatten("F"), atol=1e-8)

    # statistical sanity at the reference script's scale: denoising beats raw
    rmse_imp = linalg.rmse(imputed, fx["mean_train"])
    observed = np.where(np.isnan(fx["train"]), np.nanmean(fx["train"]), fx["train"])
    rmse_raw = linalg.rmse(observed, fx["mean_train"])
    assert rmse_imp < rmse_raw
    assert rmse_imp < 0.2

    weights = out[out["kind"] == "weight"].sort_values("idx")["value"].to_numpy()
    np.testing.assert_allclose(weights, oracle_w, atol=1e-6)


def test_single_ts_forecast_parity(spark, fx_single):
    fx = fx_single
    N, M1, k = fx["N"], fx["M1"], fx["k"]
    cfg = ModelConfig(target_key="t1", N=N, M=M1, k=k, p=1.0)
    train_pts = N * M1

    sdf = spark.createDataFrame(tidy_pdf({"t1": fx["train"]}))
    fit = fit_transform(sdf, cfg).cache()
    state = fit.filter("kind = 'weight'")

    # actuals = realized train master + realized test values
    full = np.concatenate([fx["train_master"], fx["test"]])
    actuals = spark.createDataFrame(tidy_pdf({"t1": full}))
    got = forecast(actuals, state, cfg, train_end_idx=train_pts).toPandas().sort_values("idx")

    _, oracle_w = oracle_fit({"t1": fx["train"]}, "t1", [], N, M1, k, 1.0)
    oracle_preds = oracle_rolling_forecast(
        oracle_w, fx["train_master"][-(N - 1) :], fx["test"], N
    )
    np.testing.assert_allclose(got["forecast"].to_numpy(), oracle_preds, atol=1e-6)

    # reference-script statistical check: forecast tracks the latent mean
    rmse_fc = linalg.rmse(got["forecast"].to_numpy(), fx["mean_test"])
    assert rmse_fc < 0.25


def test_multi_ts_parity(spark, fx_multi):
    fx = fx_multi
    N, M1, k = fx["N"], fx["M1"], fx["k"]
    donors = ["t2", "t3"]
    cfg = ModelConfig(target_key="t1", N=N, M=M1, k=k, donor_keys=tuple(donors), p=1.0)
    train_pts = N * M1

    sdf = spark.createDataFrame(tidy_pdf(fx["series_train"]))
    fit = fit_transform(sdf, cfg).cache()
    out = fit.toPandas()

    oracle_den, oracle_w = oracle_fit(fx["series_train"], "t1", donors, N, M1, k, 1.0)
    imputed_t1 = (
        out[(out["kind"] == "imputed") & (out["series_key"] == "t1")]
        .sort_values("idx")["value"]
        .to_numpy()
    )
    np.testing.assert_allclose(imputed_t1, oracle_den[2 * N : 3 * N, :].flatten("F"), atol=1e-8)

    weights = out[out["kind"] == "weight"].sort_values("idx")["value"].to_numpy()
    np.testing.assert_allclose(weights, oracle_w, atol=1e-6)

    # forecast with donors
    full = {
        key: np.concatenate([fx["series_train"][key], fx["series_test"][key]])
        for key in ["t1", "t2", "t3"]
    }
    actuals = spark.createDataFrame(tidy_pdf(full))
    got = (
        forecast(actuals, fit.filter("kind='weight'"), cfg, train_end_idx=train_pts)
        .toPandas()
        .sort_values("idx")
    )
    oracle_preds = oracle_rolling_forecast(
        oracle_w,
        fx["series_train"]["t1"][-(N - 1) :],
        fx["series_test"]["t1"],
        N,
        donors_train={d: fx["series_train"][d][-(N - 1) :] for d in donors},
        donors_test={d: fx["series_test"][d] for d in donors},
        donor_keys=donors,
        include_past_only=True,
    )
    np.testing.assert_allclose(got["forecast"].to_numpy(), oracle_preds, atol=1e-6)
    assert linalg.rmse(got["forecast"].to_numpy(), fx["mean_test"]) < 0.25


def test_multiple_groups_parallel(spark, fx_single):
    """Many independent series-groups in one kernel pass — the scale shape."""
    fx = fx_single
    N, M1, k = fx["N"], fx["M1"], fx["k"]
    cfg = ModelConfig(target_key="t1", N=N, M=M1, k=k, p=1.0)
    pdfs = []
    for g in range(4):
        pdf = tidy_pdf({"t1": fx["train"]}, group_id=f"g{g}")
        pdfs.append(pdf)
    sdf = spark.createDataFrame(pd.concat(pdfs, ignore_index=True)).repartition(8)
    out = fit_transform(sdf, cfg).filter("kind='imputed'")
    counts = out.groupBy("group_id").count().toPandas().set_index("group_id")["count"]
    assert sorted(counts.index) == [f"g{g}" for g in range(4)]
    assert (counts == N * M1).all()
    # identical inputs → identical outputs across groups
    first = out.filter("group_id='g0'").orderBy("idx").toPandas()["value"].to_numpy()
    last = out.filter("group_id='g3'").orderBy("idx").toPandas()["value"].to_numpy()
    np.testing.assert_array_equal(first, last)


def test_forecast_include_current_matches_oracle(spark, fx_multi):
    """include_past_only=False: donor windows include the current point
    (the reference's predict() when donors are observed at forecast time).
    Kernel == per-step oracle loop with identical synthetic weights."""
    fx = fx_multi
    N, M1 = fx["N"], fx["M1"]
    donors = ["t2", "t3"]
    cfg = ModelConfig(
        target_key="t1", N=N, M=M1, k=fx["k"], donor_keys=tuple(donors),
        include_past_only=False,
    )
    train_pts = N * M1
    full = {
        key: np.concatenate([fx["series_train"][key], fx["series_test"][key]])
        for key in ["t1", "t2", "t3"]
    }
    actuals = spark.createDataFrame(tidy_pdf(full))
    n_w = len(donors) * N + (N - 1)
    wvec = (np.arange(n_w, dtype=np.float64) % 5 - 2) / 10.0
    state = spark.createDataFrame(
        pd.DataFrame({"group_id": "g0", "kind": "weight", "series_key": "t1",
                      "idx": range(n_w), "value": wvec})
    )
    got = forecast(actuals, state, cfg, train_end_idx=train_pts).toPandas().sort_values("idx")
    want = oracle_rolling_forecast(
        wvec,
        fx["series_train"]["t1"][-(N - 1) :],
        fx["series_test"]["t1"],
        N,
        donors_train={d: fx["series_train"][d][-N:] for d in donors},
        donors_test={d: fx["series_test"][d] for d in donors},
        donor_keys=donors,
        include_past_only=False,
    )
    assert len(got) == len(want) > 0
    np.testing.assert_allclose(got["forecast"].to_numpy(), want, atol=1e-9)
