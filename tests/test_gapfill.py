from __future__ import annotations

import numpy as np
import pandas as pd

from tslib_spark.operators.gapfill import densify_grid, interpolate_linear, middle_fill


def _tidy(spark, values_by_key):
    rows = []
    for key, vals in values_by_key.items():
        for i, v in enumerate(vals):
            rows.append(
                (
                    key,
                    i,
                    (pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i)).to_pydatetime(),
                    None if v is None else float(v),
                )
            )
    return spark.createDataFrame(rows, "series_key string, bucket_idx long, bucket_ts timestamp, value double")


def test_densify_inserts_null_rows(spark):
    df = _tidy(spark, {"a": [1.0, 2.0]})
    # drop the middle bucket then densify over a 5-minute span
    sparse = spark.createDataFrame(
        [
            ("a", pd.Timestamp("2024-01-01 00:00").to_pydatetime(), 1.0),
            ("a", pd.Timestamp("2024-01-01 00:04").to_pydatetime(), 5.0),
        ],
        "series_key string, bucket_ts timestamp, value double",
    )
    dense = densify_grid(sparse, ["series_key"], "bucket_ts").orderBy("bucket_ts").toPandas()
    assert len(dense) == 5
    assert dense["value"].isna().sum() == 3


def test_densify_passes_unaligned_input_through(spark):
    """Off the documented precondition (on-grid, unique (keys, ts)) the
    operator checks nothing: an off-grid row keeps its timestamp and the
    gaps after it are counted from it, and a duplicate (keys, ts) row stays
    a second row. Pinned so a change in that behaviour shows."""
    t = lambda hms: pd.Timestamp("2024-01-01 " + hms).to_pydatetime()  # noqa: E731

    def dense(rows):
        df = spark.createDataFrame(rows, "series_key string, bucket_ts timestamp, value double")
        out = densify_grid(df, ["series_key"]).orderBy("bucket_ts", "value").collect()
        return [(r["bucket_ts"].strftime("%H:%M:%S"), r["value"]) for r in out]

    off_grid = [("a", t("00:00"), 1.0), ("a", t("00:02:30"), 2.5), ("a", t("00:05:30"), 4.0)]
    assert dense(off_grid) == [
        ("00:00:00", 1.0), ("00:01:00", None), ("00:02:30", 2.5),
        ("00:03:30", None), ("00:04:30", None), ("00:05:30", 4.0),
    ]
    duplicate = [("a", t("00:00"), 1.0), ("a", t("00:00"), 9.0), ("a", t("00:03"), 3.0)]
    assert dense(duplicate) == [
        ("00:00:00", 1.0), ("00:00:00", 9.0), ("00:01:00", None),
        ("00:02:00", None), ("00:03:00", 3.0),
    ]


def test_middle_fill_matches_reference_semantics(spark):
    # reference fills with (nanmax + nanmin)/2 across the WHOLE group
    df = _tidy(spark, {"a": [1.0, None, 3.0], "b": [None, 10.0, None]})
    out = middle_fill(df, ["series_key"], group_cols=[]).orderBy("series_key", "bucket_idx").toPandas()
    mid = (10.0 + 1.0) / 2
    assert out["value"].tolist() == [1.0, mid, 3.0, mid, 10.0, mid]
    # per-series scoping
    out2 = middle_fill(df, ["series_key"]).orderBy("series_key", "bucket_idx").toPandas()
    assert out2["value"].tolist() == [1.0, 2.0, 3.0, 10.0, 10.0, 10.0]


def test_interpolate_linear_matches_np_interp(spark):
    rng = np.random.default_rng(7)
    vals = rng.normal(size=200)
    hidden = vals.copy()
    nan_idx = rng.choice(200, 60, replace=False)
    hidden[nan_idx] = np.nan
    # np.interp oracle (same as reference nanInterpolateHelper, tsUtils.py:171-187)
    nans = np.isnan(hidden)
    x = lambda z: z.nonzero()[0]  # noqa: E731
    oracle = hidden.copy()
    oracle[nans] = np.interp(x(nans), x(~nans), hidden[~nans])

    df = _tidy(spark, {"s": [None if np.isnan(v) else v for v in hidden]})
    out = (
        interpolate_linear(df, ["series_key"]).orderBy("bucket_idx").toPandas()["value"].to_numpy()
    )
    np.testing.assert_allclose(out, oracle, rtol=1e-12, atol=1e-12)


def test_interpolate_edges_clamp(spark):
    df = _tidy(spark, {"s": [None, None, 5.0, None, 7.0, None]})
    out = interpolate_linear(df, ["series_key"]).orderBy("bucket_idx").toPandas()["value"].tolist()
    assert out == [5.0, 5.0, 5.0, 6.0, 7.0, 7.0]
