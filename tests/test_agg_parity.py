"""r7 optimization parity pins: the aggregate-form signature kernels must
stay bit-identical to the (slower) higher-order-expression forms they
replaced in the hot paths, including the degenerate inputs; and the one
whitespace tokenizer must agree with its pure-Python reference."""

import pytest
from pyspark.sql import functions as F

from tslib_spark.functions.text import _PUNCT_CHARS, digit_ratio, punct_ratio, token_count, tokens
from tslib_spark.operators.dedup import minhash_signature_agg, shingles, simhash_agg
from tslib_spark.oracle.folds import minhash_signature, simhash
from tslib_spark.oracle.textdedup import simhash_ref, tokens_ref

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again"),
    (3, "completely different content with numbers 123 456 and, punct!"),
    (4, "short"),
    (5, ""),
    (6, "   "),
    (7, None),
    (8, "unicode tökens 暑い夏 mixed in 42.5% of cases"),
    (9, "\nhello world"),
    (10, "a\tb\n"),
    (11, "\t"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_minhash_agg_matches_fold(docs):
    sh = shingles(docs, "text", 3)
    old = minhash_signature(sh, num_hashes=16, seed=7).select(
        "doc_id", F.col("minhash").alias("old")
    )
    new = minhash_signature_agg(sh, "doc_id", num_hashes=16, seed=7).select(
        "doc_id", F.col("minhash").alias("new")
    )
    rows = old.join(new, "doc_id").collect()
    assert len(rows) == len(DOCS)
    for r in rows:
        assert r["old"] == r["new"], f"doc {r['doc_id']}: {r['old']} != {r['new']}"


def test_simhash_agg_matches_fold(docs):
    old = simhash(docs, "text").select("doc_id", F.col("simhash").alias("old"))
    new = simhash_agg(docs, "doc_id", "text").select(
        "doc_id", F.col("simhash").alias("new")
    )
    rows = old.join(new, "doc_id").collect()
    assert len(rows) == len(DOCS)
    for r in rows:
        assert r["old"] == r["new"], f"doc {r['doc_id']}: {r['old']} != {r['new']}"


def test_tokens_match_reference(docs):
    rows = docs.select(
        "doc_id", "text", tokens(F.col("text")).alias("toks"),
        token_count(F.col("text")).alias("n"),
    ).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert [by_id[i]["n"] for i in (9, 10, 11)] == [2, 2, 0]
    for r in rows:
        want = None if r["text"] is None else tokens_ref(r["text"])
        assert r["toks"] == want, f"doc {r['doc_id']}: {r['toks']} != {want}"


def test_simhash_agg_matches_reference(docs):
    got = {r["doc_id"]: r["simhash"] for r in simhash_agg(docs, "doc_id", "text").collect()}
    for i, text in DOCS:
        want = None if text is None else simhash_ref(text)
        assert got[i] == want, f"doc {i}: {got[i]} != {want}"
    # documents with no tokens have no votes: every bit is 0
    assert got[5] == got[6] == got[11] == 0


def test_translate_ratios_match_regex(docs):
    # the translate forms must count exactly what the old regex forms did
    re_punct = F.length(F.regexp_replace("text", r"[^\p{Punct}]", ""))
    tr_punct = F.length("text") - F.length(F.translate("text", _PUNCT_CHARS, ""))
    re_digit = F.length(F.regexp_replace("text", r"[^0-9]", ""))
    tr_digit = F.length("text") - F.length(F.translate("text", "0123456789", ""))
    bad = docs.filter(
        ~(re_punct.eqNullSafe(tr_punct)) | ~(re_digit.eqNullSafe(tr_digit))
    ).count()
    assert bad == 0
    # and the public ratio functions still yield values / NULLs consistently
    out = docs.select(
        "doc_id", punct_ratio(F.col("text")).alias("p"), digit_ratio(F.col("text")).alias("d")
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[7]["p"] is None and by_id[7]["d"] is None  # NULL text stays NULL
    assert by_id[3]["d"] > 0 and by_id[3]["p"] > 0
