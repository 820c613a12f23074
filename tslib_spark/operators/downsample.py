"""Tier downsampling: 1m → 1h → 1d → 1w continuous aggregates.

Each tier is a pure re-aggregation of the tier below over exactly-associative
state (see rollup.py), so:

  downsample(rollup(raw, "minute"), "hour") == rollup(raw, "hour")

bit-for-bit, at any partition count — the invariant the tier-parity tests
assert. Mean/rate metrics are *derived at read time* (``val_sum / cnt``),
never stored, because float division is where bit-drift would creep in.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tslib_spark.operators.rollup import STATE_COLS

# ordered fine → coarse; values are Spark/DuckDB date_trunc units
TIERS = ["minute", "hour", "day", "week"]


def downsample(tier_df: DataFrame, target_tier: str, keys: list[str]) -> DataFrame:
    """Re-aggregate a finer tier into ``target_tier`` buckets.

    cnt/val_sum re-sum exactly (long / decimal); min/max re-min/max.
    """
    return (
        tier_df.groupBy(
            *[F.col(k) for k in keys],
            F.date_trunc(target_tier, F.col("bucket_ts")).alias("bucket_ts"),
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("val_sum").cast("decimal(38,9)").alias("val_sum"),
            F.min("val_min").alias("val_min"),
            F.max("val_max").alias("val_max"),
        )
    )


def tier_chain(minute_tier: DataFrame, keys: list[str]) -> dict[str, DataFrame]:
    """Build every tier from the 1-minute tier, each derived from the previous.

    Deriving hour→day→week from the *adjacent* tier (not always from raw)
    is the continuous-aggregate shape: at 100 TB the daily job reads the
    hourly tier (~1/60th the data), not the raw events.
    """
    tiers = {"minute": minute_tier}
    prev = minute_tier
    for t in TIERS[1:]:
        prev = downsample(prev, t, keys)
        tiers[t] = prev
    return tiers


def state_row_hash(keys: list[str]) -> Column:
    """Per-row xxhash64 over the canonical string form of a tier-state row —
    the one row hash behind every tier checksum (parity tests, lineage).
    Decimal state is rendered at fixed scale so the hash is
    representation-stable; changing it invalidates stored checkpoints."""
    return F.xxhash64(
        *[F.col(k).cast("string") for k in keys],
        F.col("bucket_ts").cast("string"),
        F.col("cnt").cast("string"),
        F.col("val_sum").cast("string"),
        F.col("val_min").cast("string"),
        F.col("val_max").cast("string"),
    )


def tier_state_checksum(tier_df: DataFrame, keys: list[str]) -> int:
    """Order-insensitive checksum of a tier's full state: the sum of
    ``state_row_hash`` over all rows (unbounded, as a decimal)."""
    row_hash = state_row_hash(keys).cast("decimal(38,0)")
    out = tier_df.select(F.sum(row_hash).alias("chk")).collect()[0][0]
    return int(out) if out is not None else 0


__all__ = [
    "TIERS", "downsample", "tier_chain", "state_row_hash",
    "tier_state_checksum", "STATE_COLS",
]
