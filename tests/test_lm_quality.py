"""N-gram LM perplexity scoring + DSIR importance resampling vs independent
pure-Python oracles.

The LM oracle re-implements stupid backoff over Counter-based n-gram counts;
the DSIR oracle reuses the in-repo ``spark_xxhash64`` replica (bit-equal to
the Spark expression, proven in test_oracle_xxh64.py) so bucket ids and
Gumbel keys are reproduced exactly, and the multinomial/weight math is plain
``math.log``. Fixtures plant clear margins (weight gaps, perplexity gaps) so
1-ulp libm-vs-JVM log differences cannot flip a selection.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from tslib_spark.functions.text import tokens
from tslib_spark.operators.lm_quality import (
    _buckets_from_toks,
    dsir_log_ratio,
    dsir_resample,
    dsir_weights,
    lm_score,
    ngram_lm_train,
)
from tslib_spark.oracle.xxh64 import spark_xxhash64

_TWO63P = 2.0**63 + 0.5  # rounds to 2^63; mirrors the Spark literal exactly
_TWO64 = 2.0**64


def _py_tokens(text: str) -> list[str]:
    return text.lower().split()


def _py_lm_counts(texts, order, min_count=1):
    c: Counter = Counter()
    for t in texts:
        toks = _py_tokens(t)
        for k in range(1, order + 1):
            for i in range(k - 1, len(toks)):
                c[(k, " ".join(toks[i - k + 1 : i + 1]))] += 1
    return {g: n for g, n in c.items() if n >= min_count}


def _py_lm_score(text, counts, order, alpha, n_total, unk):
    toks = _py_tokens(text)
    logs = []
    for i, w in enumerate(toks):
        c1 = counts.get((1, w))
        s = c1 / n_total if c1 else unk
        for k in range(2, order + 1):
            if i >= k - 1:
                ck = counts.get((k, " ".join(toks[i - k + 1 : i + 1])))
                ctx = counts.get((k - 1, " ".join(toks[i - k + 1 : i])))
                s = ck / ctx if (ck and ctx) else alpha * s
        logs.append(math.log(s))
    return (sum(logs) / len(logs), len(logs)) if logs else (None, 0)


def _py_buckets(text, buckets, n, seed):
    toks = _py_tokens(text)
    out = []
    for k in range(1, n + 1):
        for i in range(k - 1, len(toks)):
            out.append(spark_xxhash64(seed, " ".join(toks[i - k + 1 : i + 1])) % buckets)
    return out


def _corpus(seed=5, n_docs=60, doc_len=30):
    """Deterministic two-register corpus: 'clean' docs draw from a narrow
    high-frequency vocabulary, 'noisy' docs from a wide rare one."""
    rng = np.random.default_rng(seed)
    clean_vocab = [f"w{i}" for i in range(12)]
    noisy_vocab = [f"z{i}" for i in range(200)]
    docs = []
    for d in range(n_docs):
        vocab = clean_vocab if d % 3 != 0 else noisy_vocab
        words = rng.choice(vocab, size=doc_len)
        docs.append((d, " ".join(words)))
    return docs


@pytest.fixture(scope="module")
def corpus(spark):
    rows = _corpus()
    return rows, spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_counts_exact(spark, corpus):
    rows, df = corpus
    lm = ngram_lm_train(df, order=2, min_count=2)
    got = {(r["order"], r["gram"]): r["count"] for r in lm.collect()}
    want = _py_lm_counts([t for _, t in rows], order=2, min_count=2)
    assert got == want


@pytest.mark.parametrize("order,min_count", [(2, 1), (3, 2)])
def test_lm_score_matches_oracle(spark, corpus, order, min_count):
    rows, df = corpus
    train = df.filter(F.col("doc_id") % 3 != 0)
    lm = ngram_lm_train(train, order=order, min_count=min_count)
    scored = lm_score(df, lm, order=order).collect()
    counts = _py_lm_counts([t for d, t in rows if d % 3 != 0], order, min_count)
    n_total = sum(v for (k, _), v in counts.items() if k == 1)
    unk = 1.0 / (n_total + 1.0)
    got = {r["doc_id"]: (r["logprob_per_token"], r["n_tokens"], r["perplexity"]) for r in scored}
    assert set(got) == {d for d, _ in rows}
    for d, t in rows:
        lp, n_tok = _py_lm_score(t, counts, order, 0.4, n_total, unk)
        assert got[d][1] == n_tok
        assert got[d][0] == pytest.approx(lp, rel=1e-12)
        assert got[d][2] == pytest.approx(math.exp(-lp), rel=1e-12)


def test_lm_score_edge_docs(spark):
    train = spark.createDataFrame(
        [(0, "a b a b c"), (1, "a b c a b")], "doc_id long, text string"
    )
    lm = ngram_lm_train(train, order=2)
    docs = spark.createDataFrame(
        [(10, ""), (11, "   "), (12, "a"), (13, "q q q"), (14, "b A")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in lm_score(docs, lm, order=2).collect()}
    assert got[10]["n_tokens"] == 0 and got[10]["perplexity"] is None
    assert got[11]["n_tokens"] == 0
    # single known token: pure unigram prob 4/10
    assert got[12]["logprob_per_token"] == pytest.approx(math.log(4 / 10), rel=1e-12)
    # OOV-only doc: first token at the unk floor 1/11; tokens 2-3 have a
    # full (unseen) bigram context so they pay the alpha backoff penalty
    want = math.log(1 / 11) + (2 / 3) * math.log(0.4)
    assert got[13]["logprob_per_token"] == pytest.approx(want, rel=1e-12)
    # lowercase folding: "b A" scores as bigram "b a" (count 2 / ctx b=4)
    assert got[14]["n_tokens"] == 2


def test_perplexity_filter_keeps_clean_register(spark, corpus):
    """The CCNet head/middle cut on lm_score's perplexity keeps exactly
    the oracle's low-perplexity docs, and the clean register dominates."""
    rows, df = corpus
    train = df.filter(F.col("doc_id") % 3 != 0)
    lm = ngram_lm_train(train, order=2)
    counts = _py_lm_counts([t for d, t in rows if d % 3 != 0], 2, 1)
    n_total = sum(v for (k, _), v in counts.items() if k == 1)
    ppl = {}
    for d, t in rows:
        lp, _ = _py_lm_score(t, counts, 2, 0.4, n_total, 1.0 / (n_total + 1.0))
        ppl[d] = math.exp(-lp)
    cut = float(np.median(sorted(ppl.values())))
    # margin guard: no oracle perplexity within 1e-6 rel of the cut
    assert all(abs(p - cut) / cut > 1e-6 for p in ppl.values() if p != cut)
    scores = lm_score(df, lm, order=2).filter(F.col("perplexity") <= cut)
    kept = {r["doc_id"] for r in scores.collect()}
    want = {d for d, p in ppl.items() if p <= cut}
    assert kept == want
    # the clean register dominates the kept set
    assert all(d % 3 != 0 for d in kept)


def test_hashed_buckets_exact(spark, corpus):
    rows, df = corpus
    got = {
        r["doc_id"]: r["b"]
        for r in df.select(
            "doc_id",
            _buckets_from_toks(tokens(F.lower(F.col("text"))), 512, 2, 7).alias("b"),
        ).collect()
    }
    for d, t in rows[:10]:
        assert got[d] == _py_buckets(t, 512, 2, 7)


def test_dsir_log_ratio_and_weights_match_oracle(spark, corpus):
    rows, df = corpus
    buckets, n, seed, s = 256, 2, 7, 1.0
    target = df.filter(F.col("doc_id") % 3 != 0)
    ratio = dsir_log_ratio(target, df, buckets=buckets, n=n, seed=seed, smoothing=s)
    got_ratio = {r["bucket"]: r["log_ratio"] for r in ratio.collect()}
    assert set(got_ratio) == set(range(buckets))

    t_counts: Counter = Counter()
    r_counts: Counter = Counter()
    for d, t in rows:
        bs = _py_buckets(t, buckets, n, seed)
        r_counts.update(bs)
        if d % 3 != 0:
            t_counts.update(bs)
    t_total, r_total = sum(t_counts.values()), sum(r_counts.values())
    want_ratio = {
        b: math.log((t_counts.get(b, 0) + s) / (t_total + s * buckets))
        - math.log((r_counts.get(b, 0) + s) / (r_total + s * buckets))
        for b in range(buckets)
    }
    for b in range(buckets):
        assert got_ratio[b] == pytest.approx(want_ratio[b], rel=1e-12)

    w = dsir_weights(df, ratio, buckets=buckets, n=n, seed=seed)
    got_w = {r["doc_id"]: r["log_weight"] for r in w.collect()}
    for d, t in rows:
        want = sum(want_ratio[b] for b in _py_buckets(t, buckets, n, seed))
        assert got_w[d] == pytest.approx(want, rel=1e-9)
    # target-register docs must carry higher importance than noisy ones
    assert min(got_w[d] for d in got_w if d % 3 != 0) > max(got_w[d] for d in got_w if d % 3 == 0)


def test_dsir_resample_deterministic_and_partition_invariant(spark, corpus):
    rows, df = corpus
    ratio = dsir_log_ratio(df.filter(F.col("doc_id") % 3 != 0), df, buckets=256)
    w = dsir_weights(df, ratio, buckets=256)
    got = dsir_resample(w, k=20, seed=101).collect()
    assert len(got) == 20

    # oracle keys with the identical double pipeline
    keys = {}
    got_w = {r["doc_id"]: r["log_weight"] for r in w.collect()}
    for d in got_w:
        h = spark_xxhash64(101, d)
        u = (float(h) + _TWO63P) / _TWO64
        u = min(max(u, 5e-324), 0.9999999999999999)
        keys[d] = got_w[d] + (-math.log(-math.log(u)))
    want = sorted(keys, key=lambda d: (-keys[d], d))[:20]
    # margin guard: boundary gap wide enough that 1-ulp log drift can't flip
    assert keys[want[-1]] - max(keys[d] for d in keys if d not in want) > 1e-9
    assert sorted(r["doc_id"] for r in got) == sorted(want)
    for r in got:
        assert r["gumbel_key"] == pytest.approx(keys[r["doc_id"]], rel=1e-12)

    again = dsir_resample(w.repartition(7), k=20, seed=101).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(want)

    frac = dsir_resample(w, frac=0.25, seed=101).collect()
    assert len(frac) == 15  # ceil(0.25 * 60)

    with pytest.raises(ValueError):
        dsir_resample(w)
    with pytest.raises(ValueError):
        dsir_resample(w, k=5, frac=0.1)


def test_plan_shapes(spark, corpus):
    """Plan discipline: lm_score's window is partitioned per document
    (never the single-partition WindowExec trap), and the only nested-loop
    join in the DSIR plans is the intended 1-row broadcast totals
    cross-join in dsir_log_ratio — no real cartesian products anywhere."""
    rows, df = corpus
    lm = ngram_lm_train(df, order=2)
    plan = lm_score(df, lm, order=2)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the lag window rides a per-document partitioning
    assert "Window" in plan and "doc_id" in plan.split("Window", 1)[1][:400]

    ratio = dsir_log_ratio(df.limit(20), df, buckets=64)
    rplan = ratio._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in rplan  # totals ride a broadcast NLJ, not a cartesian
    w = dsir_weights(df, ratio, buckets=64)
    wplan = w._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in wplan
    sel = dsir_resample(w, k=5)
    splan = sel._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in splan  # top-k, never a full global sort
