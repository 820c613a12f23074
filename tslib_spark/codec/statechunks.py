"""Gorilla-compressed storage for tier-STATE tables (the north-star
"raw 1-minute buckets compressed with Gorilla XOR value encoding +
delta-of-delta timestamps inside Arrow-backed binary columns").

A tier-state row is (keys..., bucket_ts, cnt, val_sum, val_min, val_max).
Storing the minute tier as chunks must be EXACT — the bit-for-bit tier
parity gate recomputes coarser tiers from the decoded read-back — so each
metric rides the codec that is lossless for its type:

- bucket_ts (unix minutes) and cnt (int64): delta-of-delta codec (exact
  for any int64; regular grids / smooth counts → ~1 bit/point);
- val_sum (decimal(38,9)): scaled to an int64 at the 1e-9 quantum JVM-side
  and dod-coded. Exact iff |val_sum| < 2^63/1e9 ≈ 9.2e9 — comfortably
  above any per-minute-bucket crawl measure; encode VALIDATES the bound
  and raises rather than round (fail-fast beats silent parity loss);
- val_min / val_max (float64): Gorilla XOR codec (bit-exact incl. NaN).

Chunk windows align to the retention partition granularity: chunk_id =
floor(unix_minute / window_minutes), so every chunk falls inside exactly
one part_key.

This module supplies only the state layout: its run encoder (one chunk
per (sid, window) run, with the scaled-sum guard) and its blob columns.
The sorted-stream encode and the checked batch decode are the shared
kernels of ``codec/chunks.py``. Minutes are unique per series, so the
encode carry holds at most one window of points (1,440 for day windows,
10,080 for week windows) whatever the Arrow batch size.
"""

from __future__ import annotations

from decimal import Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tslib_spark.codec.chunks import decode_blobs, encode_runs
from tslib_spark.codec.gorilla import encode_timestamps_multi, encode_values_multi

SUM_SCALE = 1_000_000_000  # decimal(38,9) quantum
DAY_MINUTES = 1440

_STATE_BLOBS = ("ts_blob", "cnt_blob", "sum_blob", "min_blob", "max_blob")


def _sum_scaled(pdf: pd.DataFrame) -> np.ndarray:
    """Scaled-sum column as int64, refusing silent corruption.

    Under ANSI mode (pinned in session._BASE_CONF) an overflowing long cast
    raises JVM-side and this is never reached with bad data. But a session
    built elsewhere with ansi=false (getOrCreate ignores confs on a live
    session) turns overflow into NULL, which a bare ``to_numpy(int64)``
    would quietly cast NaN → INT64_MIN — silent tier corruption. Guard
    explicitly."""
    raw = pdf["_sum_scaled"].to_numpy()
    if raw.dtype.kind == "f" and np.isnan(raw).any():
        raise ValueError(
            "val_sum overflowed the 1e-9-quantum int64 bound (|val_sum| must "
            "be < 2^63/1e9); refusing to encode a corrupted tier chunk"
        )
    return raw.astype(np.int64, copy=False)


def _encode_state_runs(pdf: pd.DataFrame, starts: np.ndarray):
    """Encode the sorted rows of ``pdf`` as one chunk per run; ``starts``
    are the first row of each (sid, window) run."""
    minutes = pdf["_ts"].to_numpy(dtype=np.int64)
    return starts, {
        "chunk_id": pdf["_win"].to_numpy()[starts].astype(np.int64),
        "n_points": np.diff(np.append(starts, len(pdf))).astype(np.int32),
        "ts_start": minutes[starts],
        "ts_blob": encode_timestamps_multi(minutes, starts),
        "cnt_blob": encode_timestamps_multi(pdf["cnt"].to_numpy(dtype=np.int64), starts),
        "sum_blob": encode_timestamps_multi(_sum_scaled(pdf), starts),
        "min_blob": encode_values_multi(pdf["val_min"].to_numpy(dtype=np.float64), starts),
        "max_blob": encode_values_multi(pdf["val_max"].to_numpy(dtype=np.float64), starts),
    }


def encode_state_chunks(
    tier: DataFrame,
    keys: list[str],
    window_minutes: int = DAY_MINUTES,
    window_offset_minutes: int = 0,
) -> DataFrame:
    """Tier-state rows → compressed chunk rows, one per (series, window).

    ``window_offset_minutes`` shifts the window grid so chunks align with
    a partition scheme whose origin isn't the epoch (e.g. Monday-start
    weeks: the epoch was a Thursday, offset +4320)."""
    minute = (F.unix_timestamp("bucket_ts") / 60).cast("long")
    win = F.floor((minute + F.lit(window_offset_minutes)) / F.lit(window_minutes))
    scaled = (F.col("val_sum") * SUM_SCALE).cast("decimal(38,0)")
    cols = [
        minute.alias("_ts"),
        win.alias("_win"),
        F.col("cnt").cast("long").alias("cnt"),
        # raise on overflow instead of silently wrapping: ANSI mode makes
        # the long cast throw when |val_sum| >= 2^63 / 1e9
        scaled.cast("long").alias("_sum_scaled"),
        F.col("val_min").cast("double"),
        F.col("val_max").cast("double"),
    ]
    return encode_runs(tier, keys, cols, _encode_state_runs, _STATE_BLOBS)


def decode_state_chunks(chunks: DataFrame, keys: list[str]) -> DataFrame:
    """Compressed chunk rows → tier-state rows (exact inverse).

    The Arrow kernel emits unix minutes and the 1e-9-quantum scaled int64;
    bucket_ts and the decimal(38,9) are rebuilt JVM-side — decimal(19,0) ×
    decimal literal 1E-9 is exact (result type decimal(29,9), no
    truncation) and avoids a per-point Python ``Decimal`` construction on
    the read path."""
    points = decode_blobs(
        chunks,
        keys,
        [
            ("ts_blob", "_minute", "long"),
            ("cnt_blob", "cnt", "long"),
            ("sum_blob", "_sum_scaled", "long"),
            ("min_blob", "val_min", "double"),
            ("max_blob", "val_max", "double"),
        ],
        "state chunk",
    )
    quantum = F.lit(Decimal("1E-9"))  # decimal(9,9) literal, exact
    return points.select(
        *keys,
        F.timestamp_seconds(F.col("_minute") * 60).alias("bucket_ts"),
        "cnt",
        (F.col("_sum_scaled").cast("decimal(19,0)") * quantum)
        .cast("decimal(38,9)")
        .alias("val_sum"),
        "val_min",
        "val_max",
    )
