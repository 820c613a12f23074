"""Driver-contract smoke + source/extraction invariants at sf0.001."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

import __spark_entry__ as em
from tslib_spark.datagen.crawl import generate_pages
from tslib_spark.sources.extract import extract_text, verify_text_identity

SF = "/root/testdata/sf0.001"


def test_entry_runs_with_stable_schema(spark):
    df = em.entry(spark)
    assert df.count() > 0
    assert df.columns == ["event_type", "bucket_ts", "cnt", "val_sum", "val_mean", "rank"]


def test_contract_registration_is_exactly_50_and_fully_oracled(spark):
    """The driver's correctness harness records at most 50 verdict rows
    (round 4: 51 registered → exactly the first 50 in dict order recorded,
    the 51st silently absent). Pin the registration at exactly 50 and
    require every query to have an oracle, so no registered query can ever
    lack a verdict row again."""
    qs = em.queries()
    osql = em.oracle_sql()
    assert len(qs) == 50, f"{len(qs)} queries registered; driver caps verdict rows at 50"
    assert set(osql) == set(qs), (
        f"oracle/query key mismatch: only-in-queries={sorted(set(qs) - set(osql))} "
        f"only-in-oracle={sorted(set(osql) - set(qs))}"
    )


def test_every_query_is_runnable_and_oracles_are_subset(spark):
    qs = em.queries()
    osql = em.oracle_sql()
    assert set(osql) <= set(qs)
    # spot-run a representative sample end-to-end at the smallest SF
    for name in ["rollup_minute", "topk_users", "dedup_exact", "asof_join", "gorilla_roundtrip"]:
        assert qs[name](spark, SF).count() >= 0


def test_extract_text_identity_holds_and_detects_violation(spark):
    pages = generate_pages(spark, n_events=5000, n_urls=100)
    ext = extract_text(pages)
    assert verify_text_identity(ext).count() == 0
    # plant a violation: one row of an existing url gets different text
    one = pages.limit(1).withColumn("text", F.lit("TAMPERED"))
    assert verify_text_identity(extract_text(pages.unionByName(one))).count() == 1


def test_extraction_matches_frozen_pandas_oracle(spark):
    """Byte identity vs a pure-pandas re-implementation on the same rows."""
    import re

    pages = generate_pages(spark, n_events=2000, n_urls=50)
    got = extract_text(pages).select("url", "extracted_text").toPandas()
    raw = pages.select("url", "text").toPandas()
    oracle = raw["text"].map(lambda s: re.sub(r"\s+", " ", s.strip()))
    assert (got["extracted_text"].to_numpy() == oracle.to_numpy()).all()


def test_encode_state_chunks_spreads_head_keys(spark):
    """The north rule's skew salting: the chunk encode partitions on
    (series id, time window), so a Zipf head url's windows spread over the
    shuffle partitions instead of pinning one task at the head's share."""
    from tslib_spark.codec.statechunks import encode_state_chunks
    from tslib_spark.operators import rollup_pages

    minute = rollup_pages(generate_pages(spark, n_events=30_000, n_urls=50)).cache()
    total = minute.count()
    head_share = (
        minute.groupBy("url").count().orderBy(F.desc("count")).first()["count"] / total
    )
    # 32 shuffle partitions, not coalesced: adaptive execution would fold
    # this small input into one partition and hide the spread
    conf = {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    before = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        sizes = (
            encode_state_chunks(minute, ["url", "lang"])
            .withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(F.sum("n_points").alias("points"))
            .toPandas()["points"]
        )
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
        minute.unpersist()
    # unsalted, the head url would pin one partition at head_share of all
    # points; windowed, the largest partition is far below that and close
    # to the typical one
    assert head_share > 0.15
    assert sizes.sum() == total
    assert sizes.max() < 0.6 * head_share * total
    assert sizes.max() / sizes.median() <= 2
