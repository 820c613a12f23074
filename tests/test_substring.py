"""Substring-run dedup: hand-computed overlaps, caps, and run arithmetic."""

import pytest

from tslib_spark.operators.substring import (
    doc_windows,
    substring_dup_pairs,
)

W = ["w%d" % i for i in range(60)]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shared_run_detected_and_measured(spark):
    # docs 1/2 share tokens 10..29 verbatim (20 tokens) at different offsets
    shared = W[10:30]
    d1 = " ".join(W[0:10] + shared + W[40:50])
    d2 = " ".join(["x1", "x2", "x3"] + shared + ["y1", "y2"])
    docs = _docs(spark, [(1, d1), (2, d2)])
    out = substring_dup_pairs(docs, "doc_id", "text", window_tokens=8, min_run_tokens=16).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    # 20 shared tokens at window 8 → 13 consecutive windows → run = 13+7 = 20
    assert r["max_run_tokens"] == 20
    assert r["shared_windows"] == 13


def test_below_threshold_invisible(spark):
    # only 10 shared tokens: max certified run 10 < min_run_tokens 16
    shared = W[10:20]
    docs = _docs(spark, [
        (1, " ".join(W[0:10] + shared + W[40:50])),
        (2, " ".join(["a", "b"] + shared + ["c", "d"])),
    ])
    assert substring_dup_pairs(docs, "doc_id", "text", 8, 16).count() == 0


def test_two_separate_runs_sum_but_max_is_per_run(spark):
    # two disjoint shared runs of 12 tokens each (5 windows @ w=8 → 12 tokens)
    r1, r2 = W[0:12], W[20:32]
    docs = _docs(spark, [
        (1, " ".join(r1 + ["q1", "q2", "q3"] + r2)),
        (2, " ".join(["z1"] + r1 + ["z2", "z3", "z4", "z5"] + r2 + ["z6"])),
    ])
    out = substring_dup_pairs(docs, "doc_id", "text", 8, 10).collect()
    assert len(out) == 1
    assert out[0]["max_run_tokens"] == 12
    assert out[0]["shared_windows"] == 10  # 5 windows per run × 2 runs


def test_bucket_cap_drops_boilerplate(spark):
    # one 8-token boilerplate block shared by ALL docs; cap at 3 docs kills it
    boiler = W[0:8]
    rows = [(i, " ".join(boiler + [f"u{i}a", f"u{i}b"])) for i in range(1, 6)]
    docs = _docs(spark, rows)
    assert substring_dup_pairs(docs, "doc_id", "text", 8, 8, max_bucket=3).count() == 0
    # without the cap the clique appears
    assert substring_dup_pairs(docs, "doc_id", "text", 8, 8, max_bucket=1000).count() == 10


def test_window_positions(spark):
    docs = _docs(spark, [(1, " ".join(W[0:10]))])
    rows = doc_windows(docs, "doc_id", "text", 8).collect()
    assert sorted(r["pos"] for r in rows) == [0, 1, 2]  # 10 tokens, w=8 → 3 windows


def test_min_run_validation(spark):
    docs = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError):
        substring_dup_pairs(docs, "doc_id", "text", window_tokens=8, min_run_tokens=4)
