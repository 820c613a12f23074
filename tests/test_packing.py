"""Sequence packing: distributed prefix sum vs a plain Python scan."""

from __future__ import annotations

import random

import pytest

from tslib_spark.operators.packing import pack_sequences


def _oracle(rows: list[tuple[int, int]], budget: int) -> dict[int, tuple[int, int]]:
    out, acc = {}, 0
    for oid, n in sorted(rows):
        out[oid] = (acc // budget, acc % budget)
        acc += n
    return out


def _run(spark, rows, budget, **kw):
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = pack_sequences(df, "n_tokens", "doc_id", budget, **kw).collect()
    return {r["doc_id"]: (r["bin_id"], r["bin_offset"]) for r in got}


def test_matches_python_scan(spark):
    rng = random.Random(3)
    rows = [(i, rng.randrange(0, 900)) for i in range(500)]
    assert _run(spark, rows, budget=2048) == _oracle(rows, 2048)


def test_partition_count_invariant(spark):
    rng = random.Random(9)
    rows = [(i, rng.randrange(1, 300)) for i in range(400)]
    want = _oracle(rows, 1000)
    for parts in (1, 3, 16):
        assert _run(spark, rows, 1000, num_partitions=parts) == want


def test_doc_straddles_bins_and_zero_tokens(spark):
    rows = [(0, 700), (1, 700), (2, 0), (3, 700)]
    got = _run(spark, rows, budget=1000)
    # doc1 starts at 700 (straddles into bin 1), doc2 is empty at 1400,
    # doc3 starts at 1400
    assert got == {0: (0, 0), 1: (0, 700), 2: (1, 400), 3: (1, 400)}


def test_packs_a_derived_token_count(spark):
    """Tokenize -> count -> pack in one plan: the offsets over the int
    ``token_count(text)`` column equal a Python scan over ``tokens_ref``."""
    from pyspark.sql import functions as F

    from tslib_spark.functions.text import token_count
    from tslib_spark.oracle.textdedup import tokens_ref

    rng = random.Random(5)
    words = ["the", "cat", "sat", "on", "a", "mat", "zebra"]
    texts = [
        rng.choice([" ", "  ", "\t"]).join(rng.choices(words, k=rng.randrange(0, 40)))
        + rng.choice(["", "\n"])
        for _ in range(120)
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    counted = df.withColumn("n_tok", token_count(F.col("text")))
    got = pack_sequences(counted, "n_tok", "doc_id", budget=64).collect()
    want = _oracle([(i, len(tokens_ref(t))) for i, t in enumerate(texts)], 64)
    assert {r["doc_id"]: (r["bin_id"], r["bin_offset"]) for r in got} == want


def test_bad_budget_raises(spark):
    df = spark.createDataFrame([(1, 5)], "doc_id long, n_tokens long")
    with pytest.raises(ValueError, match="budget"):
        pack_sequences(df, "n_tokens", "doc_id", 0)


def test_range_sampling_scale_consistency(spark):
    """r4 regression for the two-job boundary bug: offsets are now computed
    IN the one returned plan (the totals subtree reuses the range exchange
    — verified as a ReusedQueryStage at runtime), so the _pid→offset map
    can never see different sampled range boundaries than the _pid
    assignment. Exercised at a scale where the RangePartitioner actually
    samples (100k shuffled rows, 13 input → 16 range partitions) against
    the exact global prefix oracle."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(0)
    n = 100_000
    pdf = pd.DataFrame(
        {"doc_id": rng.permutation(n), "n_tok": rng.integers(1, 50, n)}
    )
    df = spark.createDataFrame(pdf).repartition(13)
    got = (
        pack_sequences(df, "n_tok", "doc_id", budget=1000, num_partitions=16)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    o = pdf.sort_values("doc_id").reset_index(drop=True)
    excl = o["n_tok"].cumsum().shift(fill_value=0)
    assert (got["bin_id"].to_numpy() == (excl // 1000).to_numpy()).all()
    assert (got["bin_offset"].to_numpy() == (excl % 1000).to_numpy()).all()
