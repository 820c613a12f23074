"""Arrow-backed chunk tables: Gorilla-compressed series storage on Spark.

A compressed series table holds one row per (series, chunk):
``(<key cols...>, chunk_id long, n_points int, ts_start long,
ts_blob binary, val_blob binary)`` — the storage format of the 1-minute
tier per the north star ("raw 1-minute buckets compressed with Gorilla XOR
value encoding + delta-of-delta timestamps inside Arrow-backed binary
columns").

Encode is a grouped Arrow kernel over hash buckets of (series, window);
decode is one batch decode per blob column per Arrow batch. Chunks are
capped at CHUNK_SIZE points so a head-url series becomes many bounded
rows rather than one unbounded blob — the same skew-safety argument as
the kernel group-size assertion.
"""

from __future__ import annotations

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


def encode_chunks(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "bucket_idx",
    value_col: str = "value",
    chunk_size: int = CHUNK_SIZE,
    kernel_buckets: int = 256,
) -> DataFrame:
    """Tidy series rows → compressed chunk rows (one kernel pass).

    Kernel granularity matters at scale in both directions:

    - one applyInPandas group per *series* pays the JVM↔Python Arrow
      crossing (~ms) per series — with 10^5+ short series that fixed cost
      dominates the bit-packing — so many series ride one bucket;
    - one group per series also makes a HEAD series (zipf crawl data: the
      top url can be ~10% of all rows) a single straggler task that caps
      wall-clock at any parallelism.

    So the shuffle key is ``pmod(xxhash64(sid, window), kernel_buckets)``
    where ``window = floor(ts / chunk_size)`` — explicit skew salting by
    time range, per the north rule. A head series splits into one bounded
    chunk per window spread across tasks; short series still amortize the
    Python crossing through shared buckets. chunk_id = (window << 20) |
    ordinal (globally time-ordered; the ordinal occupies dedicated low bits
    on EVERY id — usually 0, >0 only for the rare window holding >
    chunk_size duplicate-ts points — so spill ids can never alias another
    window's id; encode validates |window| < 2^43 and ordinal < 2^20).

    ``sid = xxhash64(keys)``: the shuffle and the Arrow crossing carry an
    8-byte series id instead of repeating the key strings per row (~3×
    less transfer for url-keyed crawl series; int sorts in the kernel
    instead of string sorts). Key values rejoin the chunk rows afterwards
    via a broadcast of the distinct key→sid dictionary — chunk rows are
    ~points/chunk_size rarer than input rows, so the join is cheap. A
    64-bit collision would merge two series' chunks (birthday bound ~1e-9
    at 10^7 series per job — revisit with sha2 folding at 10^9+).
    """
    schema = (
        "_sid long, chunk_id long, n_points int, ts_start long, "
        "ts_blob binary, val_blob binary"
    )

    def _encode_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        # one vectorized encode pass over the whole bucket: sort by
        # (sid, window, ts), find group starts, batch-encode every chunk
        # at once (encode_*_multi) — per-chunk Python cost is one
        # packbits, not a full encode call
        pdf = pdf.sort_values(["_sid", "_win", ts_col], ignore_index=True)
        n = len(pdf)
        if n == 0:
            return pd.DataFrame(
                columns=["_sid", "chunk_id", "n_points", "ts_start", "ts_blob", "val_blob"]
            )
        changed = np.zeros(n, dtype=bool)
        changed[0] = True
        for c in ("_sid", "_win"):
            arr = pdf[c].to_numpy()
            changed[1:] |= arr[1:] != arr[:-1]
        group_starts = np.flatnonzero(changed)
        # split any group longer than chunk_size into bounded chunks
        glens = np.diff(np.append(group_starts, n))
        starts = group_starts
        if (glens > chunk_size).any():
            extra = [
                np.arange(s + chunk_size, s + ln, chunk_size)
                for s, ln in zip(group_starts, glens)
                if ln > chunk_size
            ]
            starts = np.unique(np.concatenate([group_starts, *extra]))

        ts = pdf[ts_col].to_numpy(dtype=np.int64)
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        ts_blobs = encode_timestamps_multi(ts, starts)
        val_blobs = encode_values_multi(vals, starts)

        lens = np.diff(np.append(starts, n))
        wins = pdf["_win"].to_numpy()[starts]
        # ordinal within (series, window) for the rare > chunk_size spill
        first_of_group = np.isin(starts, group_starts, assume_unique=True)
        ordinal = np.arange(starts.size) - np.maximum.accumulate(
            np.where(first_of_group, np.arange(starts.size), -1)
        )
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
        chunk_ids = (wins << ORDINAL_BITS) | ordinal
        out = pd.DataFrame({"_sid": pdf["_sid"].to_numpy()[starts]})
        out["chunk_id"] = chunk_ids.astype(np.int64)
        out["n_points"] = lens.astype(np.int32)
        out["ts_start"] = ts[starts]
        out["ts_blob"] = ts_blobs
        out["val_blob"] = val_blobs
        return out

    win = F.floor(F.col(ts_col).cast("long") / F.lit(chunk_size))
    sid = F.xxhash64(*[F.col(k).cast("string") for k in keys])
    tidy = df.select(
        sid.alias("_sid"),
        F.col(ts_col).cast("long").alias(ts_col),
        F.col(value_col).cast("double").alias(value_col),
        win.alias("_win"),
        F.pmod(F.xxhash64(sid, win), F.lit(kernel_buckets)).alias("_bucket"),
    )
    chunks = tidy.groupBy("_bucket").applyInPandas(_encode_bucket, schema=schema)
    sid_dict = df.select(*[F.col(k).cast("string") for k in keys]).distinct().withColumn(
        "_sid", sid
    )
    return chunks.join(F.broadcast(sid_dict), "_sid").select(
        *keys, "chunk_id", "n_points", "ts_start", "ts_blob", "val_blob"
    )


def decode_chunks(
    chunks: DataFrame,
    keys: list[str],
    ts_col: str = "bucket_idx",
    value_col: str = "value",
    key_dict: DataFrame | None = None,
) -> DataFrame:
    """Compressed chunk rows → tidy series rows (inverse of encode_chunks).

    The Python→JVM Arrow crossing carries ``(_sid long, ts, value)`` per
    decoded point — 8 bytes of series identity instead of the key strings
    repeated per point (a ~50-byte url × chunk_size points per chunk on
    crawl data). Key strings rejoin AFTER the crossing via a broadcast of
    the distinct key→sid dictionary (one row per series, same bound the
    encode side already relies on), as a codegen hash-join probe per row.

    ``key_dict``: optional DataFrame holding exactly the distinct key
    columns (the sid is derived in here). By default the dictionary is
    built from ``chunks`` itself — cheap when chunks come from storage (a
    pruned column scan), but if ``chunks`` is a still-lazy encode_chunks
    result the dictionary subtree re-runs the encode kernels; pass the
    source table's ``df.select(*keys).distinct()`` (a single-column
    pruned scan) to avoid that.
    """
    schema = f"_sid long, {ts_col} long, {value_col} double"
    sid = F.xxhash64(*[F.col(k).cast("string") for k in keys])
    base = key_dict if key_dict is not None else chunks.select(*keys).distinct()
    sid_dict = base.select(*keys).distinct().withColumn("_sid", sid)
    slim = chunks.select(sid.alias("_sid"), "ts_blob", "val_blob")

    def _decode(iterator):
        # one batch decode per blob column per Arrow batch; the sid column
        # is np.repeat-broadcast by the decoded lengths
        for pdf in iterator:
            ts, lens = decode_timestamps_multi(pdf["ts_blob"].to_numpy())
            vals, n_vals = decode_values_multi(pdf["val_blob"].to_numpy())
            if (n_vals != lens).any():
                raise ValueError("corrupt chunk: ts_blob and val_blob point counts differ")
            out = pd.DataFrame({"_sid": np.repeat(pdf["_sid"].to_numpy(), lens)})
            out[ts_col] = ts
            out[value_col] = vals
            yield out

    points = slim.mapInPandas(_decode, schema=schema)
    return points.join(F.broadcast(sid_dict), "_sid").select(*keys, ts_col, value_col)


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
