"""Self-tests for the benchmark's measurement helpers (no Spark needed)."""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import run  # noqa: E402


def test_summarize_small_sample_gives_median_and_max_only():
    s = harness.summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "median": 2.0, "max": 3.0}


def test_summarize_tail_needs_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 100)]  # 99 samples: p90 has 9.9 beyond
    assert "tail" not in harness.summarize(xs)
    xs = [float(i) for i in range(1, 101)]  # 100 samples: p90 has 10 beyond
    s = harness.summarize(xs)
    assert s["tail"] == "p90" and s["p90"] == 90.0 and s["median"] == 50.5
    s = harness.summarize([float(i) for i in range(1, 1001)])
    assert s["tail"] == "p99" and s["p99"] == 990.0
    s = harness.summarize([float(i) for i in range(1, 10001)])
    assert s["tail"] == "p999" and s["p999"] == 9990.0


def test_summarize_rejects_empty():
    with pytest.raises(ValueError):
        harness.summarize([])


@pytest.mark.parametrize(
    "name", ["pass_s", "setup_s", "codec.decode_s", "spark.task-skew", "9lives", "a" * 64]
)
def test_valid_metric_names(name):
    assert harness.check_metric_name(name) == name


@pytest.mark.parametrize(
    "name", ["", "_lead", ".dot", "has space", "slash/x", "a" * 65, "ümlaut", None]
)
def test_invalid_metric_names(name):
    with pytest.raises(ValueError):
        harness.check_metric_name(name)


def test_units():
    for u in ("s", "ms", "1/s", "count", "MB", "%", "bytes"):
        assert harness.check_unit(u) == u
    for u in ("", "per second", "x" * 17):
        with pytest.raises(ValueError):
            harness.check_unit(u)


def test_tracer_spans_nest():
    t = harness.Tracer("wl", enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == 0 and outer["parent"] is None
    assert inner["group"] == "wl/inner"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert t.total("inner") == inner["end"] - inner["start"]


def test_disabled_tracer_records_nothing():
    t = harness.Tracer("wl", enabled=False)
    with t.span("x"):
        pass
    assert t.spans == [] and t.total("x") == 0


def test_ops_counts_failures_and_wrong_results():
    ops = harness.Ops(harness.Tracer("wl", enabled=False))
    ops.begin_pass()
    assert ops.run("ok", lambda: 1, lambda r: r == 1) == 1
    ops.run("wrong", lambda: 2, lambda r: r == 1)
    ops.run("boom", lambda: 1 / 0)
    ops.check("ok", False)
    ops.end_pass()
    assert ops.attempted == 3
    assert ops.n_failed == 3
    assert len(ops.pass_times) == 1 and set(ops.op_times) == {"ok", "wrong"}


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    sys.path.insert(0, os.path.dirname(BENCH))
    import corpus

    assert [f"corpus.{q}_s" for q in corpus.QUERIES] == list(run.CORPUS_LAYER)
    for m in spec["end_to_end"] + spec["per_layer"]:
        harness.check_metric_name(m["name"])
        harness.check_unit(m["unit"])


def test_hsvt_reference_matches_the_kernel_functions():
    import numpy as np
    import pandas as pd

    sys.path.insert(0, os.path.dirname(BENCH))
    from crawl import hsvt_reference
    from tslib_spark.kernels.svd_kernel import ModelConfig, _fit_group, _forecast_group

    rng = np.random.default_rng(0)
    n, m, k = 8, 12, 3
    values = np.sin(np.arange(n * m) / 5) + rng.normal(0, 0.1, n * m)
    values[rng.random(n * m) < 0.3] = np.nan
    pdf = pd.DataFrame(
        {"group_id": "g", "series_key": "s", "bucket_idx": np.arange(n * m), "value": values}
    )
    cfg = ModelConfig(target_key="s", N=n, M=m, k=k)
    fit = _fit_group(pdf, cfg)
    train_end = n * (m - 2)
    imputed, predicted = hsvt_reference(values, n, m, k, train_end)
    got = fit[fit["kind"] == "imputed"].sort_values("idx")["value"].to_numpy()
    np.testing.assert_allclose(got, imputed, rtol=0, atol=1e-8)
    weights = fit[fit["kind"] == "weight"][["group_id", "idx", "value"]]
    fc = _forecast_group(pdf, weights, cfg, train_end)["forecast"].to_numpy()
    np.testing.assert_allclose(fc, predicted, rtol=0, atol=1e-6)
