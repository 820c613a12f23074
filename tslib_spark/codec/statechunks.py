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
one part_key. The shuffle and Arrow crossing carry an 8-byte sid; key
strings rejoin via a broadcast dictionary.

Encode is one streaming pass per sorted partition: rows are hash
partitioned on (sid, window) and sorted by (sid, window, minute), and the
kernel encodes every complete (sid, window) run of an Arrow batch with one
``encode_*_multi`` call per column, carrying only the trailing run into
the next batch. Minutes are unique per series, so the carry holds at most
one window of points (1,440 for day windows, 10,080 for week windows)
whatever the batch size. Skew: the largest unit of work is one
(sid, window) run, so a head series spreads its windows over the
shuffle partitions and no task holds a fixed fraction of the tier.

Decode costs five batch calls per Arrow batch (``decode_*_multi``, one
per blob column), not five calls per chunk row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tslib_spark.codec.gorilla import (
    decode_timestamps_multi,
    decode_values_multi,
    encode_timestamps_multi,
    encode_values_multi,
)

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


def _encode_runs(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
    """Encode the sorted rows of ``pdf`` as one chunk row per run; ``starts``
    are the first row of each (sid, window) run."""
    sid = pdf["_sid"].to_numpy()
    minutes = pdf["_minute"].to_numpy(dtype=np.int64)
    return pd.DataFrame(
        {
            "_sid": sid[starts],
            "chunk_id": pdf["_win"].to_numpy()[starts].astype(np.int64),
            "n_points": np.diff(np.append(starts, len(pdf))).astype(np.int32),
            "ts_start": minutes[starts],
            "ts_blob": encode_timestamps_multi(minutes, starts),
            "cnt_blob": encode_timestamps_multi(pdf["cnt"].to_numpy(dtype=np.int64), starts),
            "sum_blob": encode_timestamps_multi(_sum_scaled(pdf), starts),
            "min_blob": encode_values_multi(pdf["val_min"].to_numpy(dtype=np.float64), starts),
            "max_blob": encode_values_multi(pdf["val_max"].to_numpy(dtype=np.float64), starts),
        }
    )


def _encode_sorted(batches):
    """mapInPandas kernel over a partition sorted by (sid, window, minute):
    encodes each batch's complete runs and carries the trailing run, which
    may continue in the next batch, until the partition ends."""
    carry = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if not len(pdf):
            continue
        sid = pdf["_sid"].to_numpy()
        win = pdf["_win"].to_numpy()
        changed = np.zeros(len(pdf), dtype=bool)
        changed[0] = True
        changed[1:] = (sid[1:] != sid[:-1]) | (win[1:] != win[:-1])
        starts = np.flatnonzero(changed)
        last = int(starts[-1])
        if last:
            yield _encode_runs(pdf.iloc[:last], starts[:-1])
        carry = pdf.iloc[last:].reset_index(drop=True)
    if carry is not None and len(carry):
        yield _encode_runs(carry, np.zeros(1, dtype=np.int64))


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
    schema = (
        "_sid long, chunk_id long, n_points int, ts_start long, "
        + ", ".join(f"{b} binary" for b in _STATE_BLOBS)
    )
    minute = (F.unix_timestamp("bucket_ts") / 60).cast("long")
    win = F.floor((minute + F.lit(window_offset_minutes)) / F.lit(window_minutes))
    sid = F.xxhash64(*[F.col(k).cast("string") for k in keys])
    scaled = (F.col("val_sum") * SUM_SCALE).cast("decimal(38,0)")
    tidy = tier.select(
        sid.alias("_sid"),
        minute.alias("_minute"),
        win.alias("_win"),
        F.col("cnt").cast("long").alias("cnt"),
        # raise on overflow instead of silently wrapping: ANSI mode makes
        # the long cast throw when |val_sum| >= 2^63 / 1e9
        scaled.cast("long").alias("_sum_scaled"),
        F.col("val_min").cast("double"),
        F.col("val_max").cast("double"),
    )
    chunks = (
        tidy.repartition("_sid", "_win")
        .sortWithinPartitions("_sid", "_win", "_minute")
        .mapInPandas(_encode_sorted, schema=schema)
    )
    sid_dict = tier.select(*[F.col(k).cast("string") for k in keys]).distinct().withColumn(
        "_sid", sid
    )
    return chunks.join(F.broadcast(sid_dict), "_sid").select(
        *keys, "chunk_id", "n_points", "ts_start", *_STATE_BLOBS
    )


def decode_state_chunks(chunks: DataFrame, keys: list[str]) -> DataFrame:
    """Compressed chunk rows → tier-state rows (exact inverse).

    The Arrow kernel emits the 1e-9-quantum scaled int64; the decimal(38,9)
    is rebuilt JVM-side — decimal(19,0) × decimal literal 1E-9 is exact
    (result type decimal(29,9), no truncation) and avoids a per-point
    Python ``Decimal`` construction on the read path."""
    key_fields = ", ".join(f"`{k}` string" for k in keys)
    schema = (
        f"{key_fields}, bucket_ts timestamp, cnt long, "
        "_sum_scaled long, val_min double, val_max double"
    )

    def _decode(iterator):
        for pdf in iterator:
            minutes, lens = decode_timestamps_multi(pdf["ts_blob"].to_numpy())
            cnts, n_cnt = decode_timestamps_multi(pdf["cnt_blob"].to_numpy())
            sums, n_sum = decode_timestamps_multi(pdf["sum_blob"].to_numpy())
            mins, n_min = decode_values_multi(pdf["min_blob"].to_numpy())
            maxs, n_max = decode_values_multi(pdf["max_blob"].to_numpy())
            # a +1 in one row and a -1 in another would cancel in the
            # concatenated arrays and shift every later point: check per row
            n_points = pdf["n_points"].to_numpy()
            for n_other in (n_cnt, n_sum, n_min, n_max, n_points):
                if (n_other != lens).any():
                    i = int(np.argmax(n_other != lens))
                    raise ValueError(
                        f"corrupt state chunk (chunk_id {pdf['chunk_id'].iloc[i]}): "
                        f"n_points {n_points[i]}, blob point counts "
                        f"{[int(c[i]) for c in (lens, n_cnt, n_sum, n_min, n_max)]}"
                    )
            out = pd.DataFrame({k: np.repeat(pdf[k].to_numpy(), lens) for k in keys})
            out["bucket_ts"] = pd.to_datetime(minutes * 60, unit="s")
            out["cnt"] = cnts
            out["_sum_scaled"] = sums
            out["val_min"] = mins
            out["val_max"] = maxs
            yield out

    from decimal import Decimal

    quantum = F.lit(Decimal("1E-9"))  # decimal(9,9) literal, exact
    return chunks.mapInPandas(_decode, schema=schema).select(
        *keys,
        "bucket_ts",
        "cnt",
        (F.col("_sum_scaled").cast("decimal(19,0)") * quantum)
        .cast("decimal(38,9)")
        .alias("val_sum"),
        "val_min",
        "val_max",
    )
