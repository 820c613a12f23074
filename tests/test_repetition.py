"""Repetition quality signals: hand-computed oracles + edge cases."""

import pytest
from pyspark.sql import functions as F

from tslib_spark.operators.repetition import (
    dup_token_frac,
    repetition_signals,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "a b a b c"),       # bigrams: ab, ba, ab, bc → top ab 2/4, dup 2/4
        (2, "x"),               # 1 token, no bigrams
        (3, ""),                # empty
        (4, "w w w w"),         # all same: bigrams ww×3 → top 1.0, dup 1.0
        (5, "p q r s"),         # all distinct
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_repetition_hand_oracle(docs):
    out = {
        r["doc_id"]: r
        for r in repetition_signals(docs, "doc_id", "text", n=2).collect()
    }
    assert out[1]["ngram_total"] == 4
    assert out[1]["top_ngram_share"] == pytest.approx(0.5)
    assert out[1]["dup_ngram_frac"] == pytest.approx(0.5)
    assert out[2]["ngram_total"] == 0 and out[2]["top_ngram_share"] == 0.0
    assert out[3]["ngram_total"] == 0 and out[3]["dup_ngram_frac"] == 0.0
    assert out[4]["top_ngram_share"] == pytest.approx(1.0)
    assert out[4]["dup_ngram_frac"] == pytest.approx(1.0)
    assert out[5]["top_ngram_share"] == pytest.approx(1 / 3)
    assert out[5]["dup_ngram_frac"] == 0.0


def test_dup_token_frac(docs, spark):
    out = {
        r["doc_id"]: r["f"]
        for r in docs.select("doc_id", dup_token_frac(F.col("text")).alias("f")).collect()
    }
    assert out[1] == pytest.approx(1 - 3 / 5)
    assert out[2] == 0.0
    assert out[3] == 0.0
    assert out[4] == pytest.approx(0.75)
    assert out[5] == 0.0


def test_repetition_signals_joins_all(docs):
    out = repetition_signals(docs, "doc_id", "text", n=2)
    assert out.count() == 5
    row = {r["doc_id"]: r for r in out.collect()}
    assert row[3]["total_tokens"] == 0
    assert row[1]["total_tokens"] == 5
    assert set(out.columns) == {
        "doc_id", "total_tokens", "dup_token_frac",
        "ngram_total", "top_ngram_share", "dup_ngram_frac",
    }


def test_trigram_variant(docs):
    out = {
        r["doc_id"]: r
        for r in repetition_signals(docs, "doc_id", "text", n=3).collect()
    }
    # doc 1 trigrams: "a b a", "b a b", "a b c" — all distinct
    assert out[1]["ngram_total"] == 3
    assert out[1]["dup_ngram_frac"] == 0.0
    # doc 4 trigrams: "w w w" ×2
    assert out[4]["top_ngram_share"] == pytest.approx(1.0)
