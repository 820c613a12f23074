"""Gorilla chunk tables: compressed series storage on Spark.

A chunk table holds one row per (series, chunk):
``(<key cols...>, chunk_id long, n_points int, ts_start long, <blob cols>
binary)`` — the storage format of the 1-minute tier per the north star
("raw 1-minute buckets compressed with Gorilla XOR value encoding +
delta-of-delta timestamps inside Arrow-backed binary columns").

Two layouts share one codec:

- generic ``(keys, ts, value)`` series: ``encode_chunks`` /
  ``decode_chunks`` here, blobs ``ts_blob`` and ``val_blob``;
- tier state: ``codec/statechunks.py``, five blobs per chunk.

Each layout supplies only its run encoder and its column layout; the two
kernels are this module's ``encode_runs`` and ``decode_blobs``.

Encode is one streaming pass per sorted partition: rows are hash
partitioned on (sid, window) and sorted by (sid, window, ts), and the
kernel hands every complete (sid, window) run of an Arrow batch to the
layout's run encoder (one ``encode_*_multi`` call per blob column),
carrying only the trailing run into the next batch. Skew: the largest
unit of work is one (sid, window) run, so a head series spreads its
windows over the shuffle partitions and no task holds a fixed fraction
of the table.

``sid = xxhash64(keys)``: the shuffle and the encode-side Arrow crossing
carry an 8-byte series id instead of the key strings, which rejoin the
chunk rows through a broadcast of the distinct key→sid dictionary (chunk
rows are far rarer than input rows). A 64-bit collision would merge two
series' chunks (birthday bound ~1e-9 at 10^7 series per job).

Decode is one ``decode_*_multi`` call per blob column per Arrow batch;
the key columns ride through Arrow, and a row whose blob point counts
disagree with its ``n_points`` raises ``ValueError``.
"""

from __future__ import annotations

from functools import partial, update_wrapper

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tslib_spark.codec.gorilla import (
    CHUNK_SIZE,
    decode_timestamps_multi,
    decode_values_multi,
    encode_timestamps_multi,
    encode_values_multi,
)

ORDINAL_BITS = 20  # low bits of chunk_id reserved for the spill ordinal

# a blob's codec follows from the type it decodes to
_DECODERS = {"long": decode_timestamps_multi, "double": decode_values_multi}


def _kernel(fn, **kwargs):
    """``partial(fn, **kwargs)`` that keeps ``fn``'s name, which Spark
    shows in plans (perfbench counts minute-tier decodes by it)."""
    return update_wrapper(partial(fn, **kwargs), fn)


def _encode_sorted(batches, encode_run):
    """mapInPandas kernel over a partition sorted by (sid, window, ts):
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
            yield encode_run(pdf.iloc[:last], starts[:-1])
        carry = pdf.iloc[last:].reset_index(drop=True)
    if carry is not None and len(carry):
        yield encode_run(carry, np.zeros(1, dtype=np.int64))


def encode_runs(
    df: DataFrame, keys: list[str], cols: list, encode_run, blobs: tuple[str, ...]
) -> DataFrame:
    """``df`` rows → chunk rows ``(keys..., chunk_id, n_points, ts_start,
    blobs...)`` through the sorted-stream kernel.

    ``cols`` are the Columns selected beside the series id ``_sid``; they
    must include ``_win`` (the chunk window) and ``_ts`` (the in-run
    order). ``encode_run(pdf, starts)`` encodes the complete runs of
    ``pdf``, starting at rows ``starts``, as rows ``(_sid, chunk_id,
    n_points, ts_start, blobs...)``."""
    sid = F.xxhash64(*[F.col(k).cast("string") for k in keys])
    schema = "_sid long, chunk_id long, n_points int, ts_start long, " + ", ".join(
        f"{b} binary" for b in blobs
    )
    chunks = (
        df.select(sid.alias("_sid"), *cols)
        .repartition("_sid", "_win")
        .sortWithinPartitions("_sid", "_win", "_ts")
        .mapInPandas(_kernel(_encode_sorted, encode_run=encode_run), schema=schema)
    )
    sid_dict = df.select(*[F.col(k).cast("string") for k in keys]).distinct().withColumn(
        "_sid", sid
    )
    return chunks.join(F.broadcast(sid_dict), "_sid").select(
        *keys, "chunk_id", "n_points", "ts_start", *blobs
    )


def _decode(batches, keys, columns, kind):
    """mapInPandas kernel: one batch decode per blob column per Arrow batch,
    each row's point count checked against its ``n_points``."""
    for pdf in batches:
        n_points = pdf["n_points"].to_numpy()
        out = {}
        for blob, col, typ in columns:
            out[col], counts = _DECODERS[typ](pdf[blob].to_numpy())
            # a +1 in one row and a -1 in another would cancel in the
            # concatenated arrays and shift every later point: check per row
            bad = counts != n_points
            if bad.any():
                i = int(np.argmax(bad))
                raise ValueError(
                    f"corrupt {kind} (chunk_id {pdf['chunk_id'].iloc[i]}): "
                    f"n_points {n_points[i]}, {blob} holds {counts[i]} points"
                )
        keyed = {k: np.repeat(pdf[k].to_numpy(), n_points) for k in keys}
        yield pd.DataFrame({**keyed, **out})


def decode_blobs(
    chunks: DataFrame, keys: list[str], columns: list[tuple[str, str, str]], kind: str
) -> DataFrame:
    """Chunk rows → point rows ``(keys..., one column per blob)``.

    ``columns`` holds ``(blob column, output column, "long" | "double")``;
    the type picks the codec (delta-of-delta for long, Gorilla XOR for
    double). Raises ``ValueError("corrupt <kind> ...")`` when any row's
    blob point count disagrees with its ``n_points``."""
    schema = ", ".join(
        [f"`{k}` {chunks.schema[k].dataType.simpleString()}" for k in keys]
        + [f"`{col}` {typ}" for _, col, typ in columns]
    )
    return chunks.select(*keys, "chunk_id", "n_points", *[b for b, _, _ in columns]).mapInPandas(
        _kernel(_decode, keys=keys, columns=columns, kind=kind), schema=schema
    )


def _encode_value_runs(pdf: pd.DataFrame, starts: np.ndarray, chunk_size: int) -> pd.DataFrame:
    """Run encoder of ``encode_chunks``: one chunk per run, except that a
    run longer than ``chunk_size`` (duplicate timestamps in one window)
    spills into chunks of ``chunk_size`` points with ordinals 1, 2, ..."""
    n = len(pdf)
    lens = np.diff(np.append(starts, n))
    chunk_starts = starts
    if (lens > chunk_size).any():
        extra = [
            np.arange(s + chunk_size, s + ln, chunk_size)
            for s, ln in zip(starts, lens)
            if ln > chunk_size
        ]
        chunk_starts = np.unique(np.concatenate([starts, *extra]))
    first_of_run = np.isin(chunk_starts, starts, assume_unique=True)
    pos = np.arange(chunk_starts.size)
    ordinal = pos - np.maximum.accumulate(np.where(first_of_run, pos, -1))
    wins = pdf["_win"].to_numpy()[chunk_starts]
    # chunk_id = (window << ORDINAL_BITS) | ordinal — UNCONDITIONALLY, so
    # ids stay globally time-ordered and spill ids can never collide with
    # a plain window id (win*2^20 + i == some other window). Validated,
    # not assumed: out-of-range windows (e.g. nanosecond tick units) or
    # pathological spill counts must fail fast, not alias.
    if ordinal.size and int(ordinal.max()) >= 1 << ORDINAL_BITS:
        raise ValueError(
            f"chunk spill ordinal >= 2^{ORDINAL_BITS} in one (series, window) "
            "— too many duplicate-timestamp points; raise chunk_size or "
            "pre-aggregate duplicates"
        )
    if wins.size and not (
        -(1 << (63 - ORDINAL_BITS)) <= int(wins.min())
        and int(wins.max()) < 1 << (63 - ORDINAL_BITS)
    ):
        raise ValueError(
            f"window index |win| >= 2^{63 - ORDINAL_BITS} would overflow "
            "chunk_id — timestamp tick unit too fine for this chunk_size; "
            "use coarser ticks or a larger chunk_size"
        )
    ts = pdf["_ts"].to_numpy(dtype=np.int64)
    return pd.DataFrame(
        {
            "_sid": pdf["_sid"].to_numpy()[chunk_starts],
            "chunk_id": ((wins << ORDINAL_BITS) | ordinal).astype(np.int64),
            "n_points": np.diff(np.append(chunk_starts, n)).astype(np.int32),
            "ts_start": ts[chunk_starts],
            "ts_blob": encode_timestamps_multi(ts, chunk_starts),
            "val_blob": encode_values_multi(pdf["_val"].to_numpy(dtype=np.float64), chunk_starts),
        }
    )


def encode_chunks(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "bucket_idx",
    value_col: str = "value",
    chunk_size: int = CHUNK_SIZE,
) -> DataFrame:
    """Tidy series rows → compressed chunk rows, one per (series, window).

    ``window = floor(ts / chunk_size)`` is explicit skew salting by time
    range, per the north rule: a head series splits into one bounded chunk
    per window spread across tasks. chunk_id = (window << 20) | ordinal
    (globally time-ordered; the ordinal occupies dedicated low bits on
    EVERY id — usually 0, >0 only for the rare window holding >
    chunk_size duplicate-ts points — so spill ids can never alias another
    window's id; encode validates |window| < 2^43 and ordinal < 2^20)."""
    ts = F.col(ts_col).cast("long")
    return encode_runs(
        df,
        keys,
        [
            ts.alias("_ts"),
            F.floor(ts / F.lit(chunk_size)).alias("_win"),
            F.col(value_col).cast("double").alias("_val"),
        ],
        partial(_encode_value_runs, chunk_size=chunk_size),
        ("ts_blob", "val_blob"),
    )


def decode_chunks(
    chunks: DataFrame,
    keys: list[str],
    ts_col: str = "bucket_idx",
    value_col: str = "value",
) -> DataFrame:
    """Compressed chunk rows → tidy series rows (inverse of encode_chunks)."""
    return decode_blobs(
        chunks, keys, [("ts_blob", ts_col, "long"), ("val_blob", value_col, "double")], "chunk"
    )


def chunk_stats(chunks: DataFrame) -> DataFrame:
    """Compression accounting: bytes per chunk vs raw 16 B/point."""
    return chunks.select(
        F.sum("n_points").alias("points"),
        F.sum(F.length("ts_blob") + F.length("val_blob")).alias("compressed_bytes"),
        (F.sum("n_points") * 16).alias("raw_bytes"),
    ).select(
        "points",
        "compressed_bytes",
        "raw_bytes",
        (F.col("raw_bytes") / F.col("compressed_bytes")).alias("compression_ratio"),
    )
