"""Self-tests for the corpus workload's input generator and its memoised
oracle hash (no Spark session needed)."""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import corpus  # noqa: E402
from tslib_spark.oracle.xxh64 import Int32, spark_xxhash64  # noqa: E402


def test_memo_hash_matches_the_plain_hash():
    memo = corpus._MemoHash(spark_xxhash64)
    calls = [(5, Int32(3)), ("a b c", Int32(0)), (5,), (Int32(5),), ("5",), (1, 2, "x")]
    for _ in range(2):  # the second round is served from the cache
        for fields in calls:
            assert memo(*fields) == spark_xxhash64(*fields)
            assert memo(*fields, seed=7) == spark_xxhash64(*fields, seed=7)
    # an int and an Int32 of the same value hash differently in Spark
    assert memo(5) != memo(Int32(5))


def test_documents_have_the_contract_shape():
    n = 400
    docs = corpus.make_documents(3, n)
    assert docs["doc_id"].tolist() == list(range(n))
    toks = docs["text"].str.split()
    dup = docs["text"].str.endswith(" dup")
    assert dup.sum() == n // 20
    assert toks[~dup].str.len().between(10, 99).all()
    assert set(t for ts in toks[~dup] for t in ts) <= set(corpus.VOCAB)
    bases = set(docs["text"][~dup])
    # a copy whose source was itself replaced by a copy has no base left
    assert docs["text"][dup].str[: -len(" dup")].isin(bases).mean() > 0.8
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    assert set(docs["lang"]) <= set(corpus.LANGS)
    assert docs.equals(corpus.make_documents(3, n))


def test_embeddings_are_unit_vectors():
    import numpy as np

    emb = corpus.make_embeddings(3, 50).to_pandas()
    x = np.stack(emb["embedding"].to_numpy())
    assert x.shape == (50, corpus.DIM) and x.dtype == np.float32
    np.testing.assert_allclose(np.linalg.norm(x, axis=1), 1.0, rtol=1e-5)
    assert emb["label"].between(0, 9).all()
