"""The Python xxh64 oracle must match Spark's xxhash64 exactly, and the
pure-Python dedup reference pipelines must match the Spark operators
bit-for-bit (they are integer-exact by construction)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from tslib_spark.operators.dedup import near_dup_minhash, simhash_agg
from tslib_spark.oracle.textdedup import near_dup_minhash_ref, simhash_ref
from tslib_spark.oracle.xxh64 import Int32, spark_xxhash64

CASES = [
    (1, "hello"),
    (2, ""),
    (3, "a" * 100),
    (4, "chunk boundary test spanning more than thirty-two bytes of input"),
    (-5, "x,y,z"),
    (2**62, "tab\tand  runs"),
]


def test_xxh64_matches_spark(spark):
    df = spark.createDataFrame(CASES, "l long, s string")
    got = df.select(
        F.xxhash64("s").alias("hs"),
        F.xxhash64("l").alias("hl"),
        F.xxhash64("s", "l").alias("hsl"),
        F.xxhash64("l", F.lit(7)).alias("hl_i32"),  # int literal → hashInt
    ).collect()
    for (l, s), r in zip(CASES, got):
        assert r.hs == spark_xxhash64(s)
        assert r.hl == spark_xxhash64(l)
        assert r.hsl == spark_xxhash64(s, l)
        assert r.hl_i32 == spark_xxhash64(l, Int32(7))


def test_dedup_reference_pipelines_bitexact(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pdf = docs.select("doc_id", "text").toPandas()
    doc_list = [(int(i), t) for i, t in pdf.itertuples(index=False)]

    got_sim = simhash_agg(docs, "doc_id", "text").toPandas()
    want_sim = {i: simhash_ref(t) for i, t in doc_list}
    assert all(want_sim[int(r.doc_id)] == int(r.simhash) for r in got_sim.itertuples())

    got_pairs = near_dup_minhash(
        docs, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.5
    ).toPandas()
    got = sorted(map(tuple, got_pairs[["id_a", "id_b", "jaccard"]].to_numpy()))
    want = near_dup_minhash_ref(doc_list, n=3, num_hashes=32, bands=8, threshold=0.5)
    assert [(int(a), int(b), j) for a, b, j in got] == want
