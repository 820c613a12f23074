"""hash_split / hash_sample vs the pure-Python xxh64 replica."""

from __future__ import annotations

import pytest

from tslib_spark.operators.sampling import _threshold, hash_sample, hash_split
from tslib_spark.oracle.xxh64 import spark_xxhash64


def _py_hash(seed: int, vid: int) -> int:
    return spark_xxhash64(seed, vid)


def test_split_bit_equal_to_python_replica(spark):
    ids = list(range(400))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    weights = {"train": 8.0, "val": 1.0, "test": 1.0}
    got = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id", weights, seed=7).collect()}

    cut_train = _threshold(0.8)
    cut_val = _threshold(0.9)
    for i in ids:
        h = _py_hash(7, i)
        want = "train" if h < cut_train else ("val" if h < cut_val else "test")
        assert got[i] == want, i
    # sanity: proportions roughly honored
    n = len(ids)
    assert 0.7 < sum(v == "train" for v in got.values()) / n < 0.9


def test_split_stable_under_corpus_growth(spark):
    w = {"train": 98, "val": 1, "test": 1}
    small = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    big = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    a = {r["doc_id"]: r["split"] for r in hash_split(small, "doc_id", w).collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(big, "doc_id", w).collect()}
    assert all(b[i] == a[i] for i in a)


def test_split_bad_weights(spark):
    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError):
        hash_split(df, "doc_id", {})
    with pytest.raises(ValueError):
        hash_split(df, "doc_id", {"a": -1.0, "b": 2.0})


def test_sample_plain_and_seed_sensitivity(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    kept = {r["doc_id"] for r in hash_sample(df, "doc_id", rate=0.25, seed=3).collect()}
    cut = _threshold(0.25)
    want = {i for i in range(1000) if _py_hash(3, i) < cut}
    assert kept == want
    assert 0.18 < len(kept) / 1000 < 0.32
    other = {r["doc_id"] for r in hash_sample(df, "doc_id", rate=0.25, seed=4).collect()}
    assert other != kept  # a new seed re-deals


def test_stratified_sample(spark):
    rows = [(i, "en" if i % 3 == 0 else ("de" if i % 3 == 1 else "fr")) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = hash_sample(
        df, "doc_id", rate=0.1, seed=11, strata_col="lang", rates={"en": 0.5, "de": 1.0}
    ).collect()
    got = {(r["doc_id"], r["lang"]) for r in out}
    cuts = {"en": _threshold(0.5), "de": _threshold(1.0)}
    want = {
        (i, l) for i, l in rows if _py_hash(11, i) < cuts.get(l, _threshold(0.1))
    }
    assert got == want
    langs = {l for _, l in got}
    assert "de" in langs  # rate 1.0 keeps every de row
    assert sum(1 for _, l in got if l == "de") == sum(1 for _, l in rows if l == "de")


def test_sample_arg_validation(spark):
    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="rate"):
        hash_sample(df, "doc_id")
    with pytest.raises(ValueError, match="strata_col"):
        hash_sample(df, "doc_id", rates={"en": 0.5})
