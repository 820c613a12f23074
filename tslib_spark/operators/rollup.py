"""Raw-event → 1-minute bucket rollup (the engine's first tier).

Bit-exactness design (SURVEY.md §4.2.4): the tier state is
``(cnt: long, val_sum: decimal(38,9), val_min: double, val_max: double)``.
Counts/min/max are exactly associative; the measure sum is carried as a
fixed-scale decimal, whose addition is exact and associative — so a rollup
(and every later re-aggregation) is bit-for-bit identical regardless of
partition count, task order, or AQE decisions. Doubles are derived at read
time (``val_sum / cnt``), never stored as running state. This is what makes the
north rule's "match at each tier" hold on a 1000-executor cluster.

Scale notes:
- ``groupBy`` here compiles to partial (map-side) + final hash aggregation;
  the shuffle carries only pre-combined per-(key, minute) state, so a head
  url with 10^9 raw events still ships ~minutes-per-window rows per mapper.
- Stages with no partial aggregation spread head keys by time window
  instead: the chunk encode (``codec/chunks.py`` ``encode_runs``)
  partitions on (series id, window), so a head url's windows land on
  many tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# decimal(38,9): 29 integer digits of headroom — a 10^12-row tier summing
# values up to 10^9 stays exact.
SUM_DECIMAL = "decimal(38,9)"

STATE_COLS = ["cnt", "val_sum", "val_min", "val_max"]


def rollup(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    measure_col: str,
    bucket: str = "minute",
) -> DataFrame:
    """Generic rollup: (keys..., date_trunc(bucket, ts) as bucket_ts, state).

    One shuffle on (keys, bucket_ts); Catalyst does map-side partial agg.
    """
    bucket_ts = F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts")
    measure = F.col(measure_col).cast(SUM_DECIMAL)
    return (
        df.groupBy(*[F.col(k) for k in keys], bucket_ts)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(measure).alias("val_sum"),
            F.min(F.col(measure_col).cast("double")).alias("val_min"),
            F.max(F.col(measure_col).cast("double")).alias("val_max"),
        )
    )


def rollup_pages(pages: DataFrame, bucket: str = "minute") -> DataFrame:
    """Crawl pages → per-(url, lang) 1-minute page-activity series.

    The measure is extracted-text length (bytes of crawl content seen in the
    bucket); ``cnt`` is the page-fetch count. This is the series that feeds
    gap-fill + SVD imputation downstream.
    """
    with_measure = pages.select(
        "url", "lang", "warc_ts", F.length("text").alias("text_len")
    )
    return rollup(with_measure, ["url", "lang"], "warc_ts", "text_len", bucket)

