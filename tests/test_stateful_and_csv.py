"""CSV-panel RSC end-to-end (SURVEY §5)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F


def test_csv_panel_rsc_end_to_end(spark, tmp_path):
    """The reference's RSC case-study pipeline shape: read_csv → filter →
    pivot → fit → predict (testScriptSynthControlSVD.py:29-74), on a
    synthetic Basque-shaped panel with a known donor combination."""
    from tslib_spark.kernels.rsc import control_weights, prepare_panel, rsc_fit, rsc_predict
    from tslib_spark.sources.readers import read_csv_panel

    rng = np.random.default_rng(23)
    units = [f"region_{i}" for i in range(17)]
    years = list(range(1955, 1998))
    combo = rng.dirichlet(np.ones(16))
    rank = 2
    rowp, colp = rng.normal(size=(16, rank)), rng.normal(size=(rank, len(years)))
    donors_mean = rowp @ colp
    rows = []
    for d, u in enumerate(units[1:]):
        for j, y in enumerate(years):
            rows.append((u, y, "gdp", donors_mean[d, j] + rng.normal(0, 0.2)))
    treated_mean = combo @ donors_mean
    for j, y in enumerate(years):
        rows.append((units[0], y, "gdp", treated_mean[j] + rng.normal(0, 0.2)))
    pdf = pd.DataFrame(rows, columns=["regionname", "year", "metric", "gdpcap"])
    csv_path = str(tmp_path / "basque_shape.csv")
    pdf.to_csv(csv_path, index=False)

    panel = read_csv_panel(
        spark, csv_path, "regionname string, year int, metric string, gdpcap double"
    ).filter(F.col("metric") == "gdp")
    train_end = 1970
    prepared = prepare_panel(
        panel.filter(F.col("year") <= train_end), "regionname", "year", "gdpcap"
    )
    n_train = len([y for y in years if y <= train_end])
    fit = rsc_fit(prepared, units[0], units[1:], singvals=2, M=n_train)
    w = control_weights(fit, units[1:])
    pred = rsc_predict(
        panel.filter(F.col("year") > train_end), w, "regionname", "year", "gdpcap"
    ).toPandas()
    post_mean = treated_mean[len([y for y in years if y <= train_end]):]
    rmse = float(np.sqrt(np.mean((pred["prediction"].to_numpy() - post_mean) ** 2)))
    assert rmse < 0.3

