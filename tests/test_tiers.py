"""Rollup + downsample tier tests: correctness and bit-exact parity.

The load-bearing invariants (SURVEY.md §4.2.4 / BASELINE.json north_rule):

1. downsample(rollup(raw, minute), hour) == rollup(raw, hour) bit-for-bit
2. tier state is invariant under partition count (1 vs 4 vs 16)
"""

from __future__ import annotations

import pandas as pd
import pytest

from tslib_spark.datagen.crawl import generate_pages
from tslib_spark.operators.downsample import downsample, tier_chain, tier_state_checksum
from tslib_spark.operators.rollup import rollup, rollup_pages

KEYS = ["url", "lang"]


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_pages(spark, n_events=20_000, n_urls=200, n_minutes=60 * 24 * 16).cache()
    df.count()
    return df


def test_pages_generator_deterministic_and_gappy(spark, pages):
    again = generate_pages(spark, n_events=20_000, n_urls=200, n_minutes=60 * 24 * 16)
    assert pages.exceptAll(again).count() == 0
    assert again.exceptAll(pages).count() == 0
    # byte-identical text per url
    bad = pages.groupBy("url").agg({"text": "approx_count_distinct"}).filter("`approx_count_distinct(text)` > 1")
    assert bad.count() == 0
    # skew: head url should dominate
    counts = pages.groupBy("url").count().orderBy("count", ascending=False).limit(50).toPandas()
    assert counts["count"].iloc[0] > 20 * counts["count"].iloc[49]


def test_rollup_counts_match_raw(spark, pages):
    tier = rollup_pages(pages)
    assert tier.agg({"cnt": "sum"}).collect()[0][0] == pages.count()
    # minute tier never has duplicate (url, lang, bucket_ts)
    assert tier.count() == tier.select("url", "lang", "bucket_ts").distinct().count()


def test_downsample_equals_direct_rollup_bitexact(spark, pages):
    minute = rollup_pages(pages, "minute")
    hourly_via_tier = downsample(minute, "hour", KEYS)
    hourly_direct = rollup_pages(pages, "hour")
    assert hourly_via_tier.exceptAll(hourly_direct).count() == 0
    assert hourly_direct.exceptAll(hourly_via_tier).count() == 0


def test_tier_chain_partition_invariance(spark, pages):
    minute = rollup_pages(pages)
    chks = {}
    for nparts in (1, 4, 16):
        tiers = tier_chain(minute.repartition(nparts), KEYS)
        chks[nparts] = {t: tier_state_checksum(df, KEYS) for t, df in tiers.items()}
    assert chks[1] == chks[4] == chks[16]
    # four non-trivial tiers
    tiers = tier_chain(minute, KEYS)
    sizes = {t: df.count() for t, df in tiers.items()}
    assert sizes["minute"] > sizes["hour"] > sizes["day"] > sizes["week"] > 0


def test_generic_rollup_on_events(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    tier = rollup(events, ["event_type"], "ts", "value", "hour")
    pdf = tier.toPandas()
    raw = events.toPandas()
    raw["bucket_ts"] = raw["ts"].dt.floor("h")
    expect = raw.groupby(["event_type", "bucket_ts"])["value"].agg(["count", "sum", "min", "max"]).reset_index()
    merged = pdf.merge(expect, on=["event_type", "bucket_ts"])
    assert len(merged) == len(pdf) == len(expect)
    assert (merged["cnt"] == merged["count"]).all()
    assert (merged["val_sum"].astype(float) - merged["sum"]).abs().max() < 1e-6
    pd.testing.assert_series_equal(
        merged["val_min"], merged["min"], check_names=False, check_exact=False
    )
