"""RSC / mRSC: parity vs an independent numpy oracle on the F4 low-rank panel.

Fixture mirrors testScriptMultiSynthControlSVD.py:53-114: a rank-limited
mean matrix f(rowParam_i, colParam_j) + N(0,1) noise, treated unit = convex
combination of donors. The synthetic-control fit on the pre-period should
recover the post-period combination.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tslib_spark.kernels import linalg
from tslib_spark.kernels.rsc import (
    control_weights,
    mrsc_predict,
    prepare_panel,
    rsc_fit,
    rsc_predict,
)


def make_panel(n_donors=20, n_times=40, rank=3, seed=11, n_metrics=1):
    rng = np.random.default_rng(seed)
    metrics = []
    combo = rng.dirichlet(np.ones(n_donors))
    for _ in range(n_metrics):
        row_p = rng.normal(size=(n_donors, rank))
        col_p = rng.normal(size=(rank, n_times))
        donors_mean = row_p @ col_p
        donors = donors_mean + rng.normal(0, 0.3, size=donors_mean.shape)
        treated_mean = combo @ donors_mean
        treated = treated_mean + rng.normal(0, 0.3, size=n_times)
        metrics.append((donors, treated, treated_mean))
    return metrics, combo


def to_tidy_panel(metrics, metric_names):
    rows = []
    for mi, (donors, treated, _) in enumerate(metrics):
        n_donors, n_times = donors.shape
        for d in range(n_donors):
            for t in range(n_times):
                rows.append((f"u{d}", t, metric_names[mi], float(donors[d, t])))
        for t in range(n_times):
            rows.append(("treated", t, metric_names[mi], float(treated[t])))
    return pd.DataFrame(rows, columns=["unit", "year", "metric", "value"])


def oracle_rsc(donors_pre, treated_pre, k, p=1.0):
    """Direct reference semantics: N=1 stacked matrix, HSVT, truncated pinv."""
    mat = np.vstack([donors_pre, treated_pre[None, :]])
    U, S, Vt = np.linalg.svd(mat, full_matrices=False)
    denoised = (1.0 / p) * (U[:, :k] * S[:k]) @ Vt[:k]
    design = denoised[:-1, :]
    return p * np.linalg.pinv(design).T @ mat[-1]


@pytest.fixture(scope="module")
def panel():
    metrics, combo = make_panel()
    return metrics, combo


def test_rsc_weights_parity_and_counterfactual(spark, panel):
    metrics, combo = panel
    donors, treated, treated_mean = metrics[0]
    n_donors, n_times = donors.shape
    pre = 30
    donor_units = [f"u{d}" for d in range(n_donors)]
    pdf = to_tidy_panel(metrics, ["m0"]).drop(columns=["metric"])

    panel_df = spark.createDataFrame(pdf)
    prepared = prepare_panel(
        panel_df.filter(f"year < {pre}"), "unit", "year", "value"
    )
    fit = rsc_fit(prepared, "treated", donor_units, singvals=3, M=pre).cache()

    got_w = (
        control_weights(fit, donor_units)
        .toPandas()
        .set_index("unit")
        .loc[donor_units]["weight"]
        .to_numpy()
    )
    want_w = oracle_rsc(donors[:, :pre], treated[:pre], k=3)
    np.testing.assert_allclose(got_w, want_w, atol=1e-8)

    # post-period counterfactual tracks the true treated mean
    post_panel = panel_df.filter(f"year >= {pre}")
    pred = (
        rsc_predict(post_panel, control_weights(fit, donor_units), "unit", "year", "value")
        .toPandas()["prediction"]
        .to_numpy()
    )
    assert linalg.rmse(pred, treated_mean[pre:]) < 0.5
    # and beats a naive flat forecast of the last pre value
    naive = np.full(n_times - pre, treated[pre - 1])
    assert linalg.rmse(pred, treated_mean[pre:]) < linalg.rmse(naive, treated_mean[pre:])


def test_mrsc_two_metrics(spark):
    metrics, combo = make_panel(n_metrics=2, seed=17)
    n_donors, n_times = metrics[0][0].shape
    pre = 30
    donor_units = [f"u{d}" for d in range(n_donors)]
    names = ["m0", "m1"]
    weights_arr = [1.0, 1.0]

    pdf = to_tidy_panel(metrics, names)
    panel_df = spark.createDataFrame(pdf)
    prepared = prepare_panel(
        panel_df.filter(f"year < {pre}"),
        "unit",
        "year",
        "value",
        metric_col="metric",
        metric_order=names,
        metric_weights=weights_arr,
        n_times=pre,
    )
    fit = rsc_fit(prepared, "treated", donor_units, singvals=4, M=2 * pre).cache()
    w_df = control_weights(fit, donor_units)

    # oracle: concat the two pre-period matrices horizontally
    donors_cat = np.hstack([m[0][:, :pre] for m in metrics])
    treated_cat = np.concatenate([m[1][:pre] for m in metrics])
    want_w = oracle_rsc(donors_cat, treated_cat, k=4)
    got_w = (
        w_df.toPandas().set_index("unit").loc[donor_units]["weight"].to_numpy()
    )
    np.testing.assert_allclose(got_w, want_w, atol=1e-8)

    post = panel_df.filter(f"year >= {pre}")
    pred = mrsc_predict(
        post, w_df, "unit", "year", "value", "metric", names, weights_arr
    ).toPandas()
    for mi, name in enumerate(names):
        sub = pred[pred["metric"] == name].sort_values("year")["prediction"].to_numpy()
        assert linalg.rmse(sub, metrics[mi][2][pre:]) < 0.5


def test_prepare_panel_ranks_without_single_partition(spark):
    """The time rank needs no unpartitioned window: the executed plan has
    no SinglePartition exchange, and ranks are still 0..T-1 in time order
    (input unsorted, gaps in the time axis)."""
    years = [2001, 1990, 1995, 2020, 1990, 2001]
    pdf = pd.DataFrame(
        {"unit": [f"u{i % 2}" for i in range(len(years))], "year": years,
         "value": np.arange(len(years), dtype=float)}
    )
    prepared = prepare_panel(spark.createDataFrame(pdf), "unit", "year", "value")
    plan = prepared._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    got = prepared.toPandas()
    rank_of = {1990: 0, 1995: 1, 2001: 2, 2020: 3}
    want = sorted((u, rank_of[y], v) for u, y, v in pdf.itertuples(index=False))
    assert sorted(got[["series_key", "bucket_idx", "value"]].itertuples(index=False, name=None)) == want
