"""Gorilla codec: round-trip property tests + compression sanity (F6)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tslib_spark.codec.gorilla import (
    _VER_BITS,
    decode_timestamps_multi,
    decode_values_multi,
    encode_timestamps_multi,
    encode_values_multi,
)

_ONE = np.zeros(1, dtype=np.int64)  # the starts of a one-series batch


def encode_values(values) -> bytes:
    """One float series as one blob; the empty series is ``b""``."""
    arr = np.asarray(values, dtype=np.float64)
    return encode_values_multi(arr, _ONE)[0] if arr.size else b""


def encode_timestamps(ts) -> bytes:
    """One timestamp series as one blob; the empty series is the bare
    versioned header."""
    arr = np.asarray(ts, dtype=np.int64)
    return encode_timestamps_multi(arr, _ONE)[0] if arr.size else _VER_BITS.tobytes()


def decode_values(blob: bytes) -> np.ndarray:
    return decode_values_multi([blob])[0]


def decode_timestamps(blob: bytes) -> np.ndarray:
    return decode_timestamps_multi([blob])[0]


def rt_values(arr):
    out = decode_values(encode_values(np.asarray(arr, dtype=np.float64)))
    np.testing.assert_array_equal(
        np.asarray(arr, dtype=np.float64).view(np.uint64), out.view(np.uint64)
    )


def rt_ts(arr):
    out = decode_timestamps(encode_timestamps(np.asarray(arr, dtype=np.int64)))
    np.testing.assert_array_equal(np.asarray(arr, dtype=np.int64), out)


@pytest.mark.parametrize(
    "case",
    [
        [],
        [0.0],
        [-0.0],
        [0.0, -0.0, 0.0],
        [np.nan, np.nan, 1.0, np.nan],
        [1.0] * 100,
        [1.0, -1.0] * 50,
        [np.inf, -np.inf, np.nan, 0.0],
        list(np.linspace(-1e300, 1e300, 37)),
        [2.0**-1074, 2.0**1023, 5e-324],
    ],
)
def test_value_roundtrip_edge_cases(case):
    rt_values(case)


@pytest.mark.parametrize(
    "case",
    [
        [],
        [0],
        [1700000000],
        [0, 60],
        list(range(0, 60 * 512, 60)),  # regular 1-min grid
        [0, 60, 120, 300, 301, 302, 10**15],  # irregular with a huge jump
        [-(2**62), 0, 2**62],
        list(range(1024)),  # 2^k length
    ],
)
def test_ts_roundtrip_edge_cases(case):
    rt_ts(case)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        min_size=0,
        max_size=300,
    )
)
def test_value_roundtrip_property(xs):
    rt_values(xs)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**61), max_value=2**61),
        min_size=0,
        max_size=300,
    )
)
def test_ts_roundtrip_property(xs):
    rt_ts(xs)


def test_regular_grid_compresses_hard():
    # 1-min grid: dod == 0 everywhere → ~1 bit/point after the two raw 64s
    ts = np.arange(0, 60 * 4096, 60, dtype=np.int64)
    blob = encode_timestamps(ts)
    bits_per_point = (len(blob) - 4) * 8 / len(ts)
    assert bits_per_point < 1.2
    # constant values: ~1 bit/point after the raw first
    vals = np.full(4096, 3.25)
    vblob = encode_values(vals)
    assert (len(vblob) - 4) * 8 / len(vals) < 1.2


def test_noisy_values_still_beat_raw():
    rng = np.random.default_rng(0)
    # random walk (realistic metric series): should beat 64 bits/point
    vals = np.cumsum(rng.normal(0, 0.1, 4096)) + 100.0
    blob = encode_values(vals)
    assert (len(blob) - 4) * 8 / len(vals) < 64


def test_chunk_table_roundtrip(spark):
    import pandas as pd

    rng = np.random.default_rng(1)
    rows = []
    for key in ["a", "b"]:
        n = 5000  # spans two chunks
        idx = np.cumsum(rng.integers(1, 4, n)).astype(np.int64)
        vals = np.round(rng.normal(size=n), 3)
        rows.append(
            pd.DataFrame({"series_key": key, "bucket_idx": idx, "value": vals})
        )
    pdf = pd.concat(rows, ignore_index=True)
    df = spark.createDataFrame(pdf)

    from tslib_spark.codec.chunks import decode_chunks, encode_chunks

    chunks = encode_chunks(df, ["series_key"]).cache()
    # chunks are (series, time-window) bounded: one per occupied 4096-tick
    # window (skew salting — a head series spreads across tasks), each
    # within the point bound
    cpdf = chunks.toPandas()
    assert len(cpdf) >= 4 and (cpdf["n_points"] <= 4096).all()
    assert cpdf.groupby("series_key")["n_points"].sum().eq(5000).all()
    # compression: blob bytes under the raw 16 B/point (8 B ts + 8 B value)
    assert cpdf["n_points"].sum() == 10000
    blob_bytes = sum(len(t) + len(v) for t, v in zip(cpdf["ts_blob"], cpdf["val_blob"]))
    assert blob_bytes < 16 * 10000

    back = decode_chunks(chunks, ["series_key"]).toPandas()
    got = back.sort_values(["series_key", "bucket_idx"]).reset_index(drop=True)
    want = pdf.sort_values(["series_key", "bucket_idx"]).reset_index(drop=True)
    np.testing.assert_array_equal(got["bucket_idx"].to_numpy(), want["bucket_idx"].to_numpy())
    np.testing.assert_array_equal(got["value"].to_numpy(), want["value"].to_numpy())


@given(
    st.lists(
        st.lists(
            st.floats(allow_nan=True, allow_infinity=True, width=64), min_size=1, max_size=40
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=60, deadline=None)
def test_multi_encode_matches_single_property(series_list):
    """encode_*_multi must encode each series of an arbitrary batch
    bit-identically to a batch of that series alone (chain resets at every
    start)."""
    vals = [np.asarray(s, dtype=np.float64) for s in series_list]
    tss = [
        np.cumsum(np.abs(np.nan_to_num(v, posinf=3.0, neginf=-3.0)) * 100 + 1).astype(np.int64)
        for v in vals
    ]
    starts = np.cumsum([0] + [len(v) for v in vals[:-1]]).astype(np.int64)
    mv = encode_values_multi(np.concatenate(vals), starts)
    mt = encode_timestamps_multi(np.concatenate(tss), starts)
    for i, (v, t) in enumerate(zip(vals, tss)):
        assert mv[i] == encode_values(v)
        assert mt[i] == encode_timestamps(t)


def test_blob_version_marker_rejects_unversioned():
    """r4 layout hardening: the header carries explicit version bits, and a
    v1-era blob (top/version bits all zero — any plain uint32 count) is
    rejected with a clear error instead of silently decoding as a constant
    series / regular grid on the degenerate path."""
    # round-trip still exact with the marker present
    vals = np.array([1.5, 1.5, 2.25, float("nan"), -0.0])
    np.testing.assert_array_equal(
        np.nan_to_num(decode_values(encode_values(vals)), nan=9.9),
        np.nan_to_num(vals, nan=9.9),
    )
    ts = np.array([60, 120, 180, 240], dtype=np.int64)
    np.testing.assert_array_equal(decode_timestamps(encode_timestamps(ts)), ts)

    # a v1-style blob: plain count header (version bits 0) + payload bytes
    fake_v1 = np.uint32(5).tobytes() + b"\x00" * 16
    with pytest.raises(ValueError, match="version"):
        decode_values(fake_v1)
    with pytest.raises(ValueError, match="version"):
        decode_timestamps(fake_v1)

    # empty timestamp blob carries the marker too
    assert decode_timestamps(encode_timestamps(np.array([], dtype=np.int64))).size == 0


def _strip_version(blob: bytes) -> bytes:
    """What a pre-version-bits build persisted: identical payload, version
    field zero."""
    from tslib_spark.codec.gorilla import _VER_MASK

    hdr = np.frombuffer(blob[:4], dtype=np.uint32)[0]
    return (hdr & np.uint32(0xFFFFFFFF ^ _VER_MASK)).tobytes() + blob[4:]


# ---------------- batch decode ----------------

_F64 = st.floats(allow_nan=True, allow_infinity=True, width=64)
_SPECIAL = st.sampled_from([float("nan"), -0.0, 0.0, float("inf"), float("-inf"), 1.5])
_I61 = st.integers(min_value=-(2**61), max_value=2**61)

VALUE_SERIES = st.one_of(
    st.just([]),
    st.lists(_F64, min_size=1, max_size=2),
    st.builds(lambda v, n: [v] * n, _F64, st.integers(1, 40)),  # constant
    st.lists(_SPECIAL, min_size=1, max_size=30),
    st.lists(_F64, min_size=3, max_size=60),
)
TS_SERIES = st.one_of(
    st.just([]),
    st.lists(_I61, min_size=1, max_size=2),
    st.builds(  # regular grid
        lambda t0, step, n: [t0 + step * i for i in range(n)],
        st.integers(-(2**40), 2**40), st.integers(-(2**20), 2**20), st.integers(1, 40),
    ),
    st.lists(st.integers(0, 3), min_size=1, max_size=60).map(  # small dods
        lambda g: list(np.cumsum(g) * 60)
    ),
    st.lists(_I61, min_size=3, max_size=60),  # 64-bit delta-of-deltas
)


def _multi_roundtrip(series, dtype, encode_multi, encode_one, decode_multi, as_bits):
    """Encode the non-empty series with one ``encode_*_multi`` call (empty
    ones with the single-series encoder, as stored), batch-decode the whole
    list and compare bit-exactly."""
    arrs = [np.asarray(s, dtype=dtype) for s in series]
    full = [a for a in arrs if a.size]
    starts = np.cumsum([0] + [a.size for a in full[:-1]]).astype(np.int64)
    encoded = iter(encode_multi(np.concatenate(full), starts) if full else [])
    blobs = [next(encoded) if a.size else encode_one(a) for a in arrs]
    got, lens = decode_multi(blobs)
    np.testing.assert_array_equal(lens, [a.size for a in arrs])
    want = np.concatenate(arrs) if arrs else np.empty(0, dtype)
    np.testing.assert_array_equal(as_bits(got), as_bits(want))


@settings(max_examples=150, deadline=None)
@given(st.lists(VALUE_SERIES, min_size=0, max_size=12))
def test_values_multi_decode_roundtrip_property(series):
    _multi_roundtrip(
        series, np.float64, encode_values_multi, encode_values, decode_values_multi,
        lambda a: a.view(np.uint64),
    )


@settings(max_examples=150, deadline=None)
@given(st.lists(TS_SERIES, min_size=0, max_size=12))
def test_timestamps_multi_decode_roundtrip_property(series):
    _multi_roundtrip(
        series, np.int64, encode_timestamps_multi, encode_timestamps,
        decode_timestamps_multi, lambda a: a,
    )


def test_multi_decode_edge_blobs():
    """The empty values blob (b""), the bare-header empty timestamp blob and
    1- and 2-point timestamp blobs decode inside a batch."""
    ts = [[], [7], [5, -3], [], [0, 60, 120, 200]]
    blobs = [encode_timestamps(np.asarray(t, dtype=np.int64)) for t in ts]
    assert len(blobs[0]) == 4  # bare header
    got, lens = decode_timestamps_multi(blobs)
    assert lens.tolist() == [0, 1, 2, 0, 4]
    assert got.tolist() == [7, 5, -3, 0, 60, 120, 200]

    vblobs = [b"", encode_values(np.array([2.5])), b"", encode_values(np.array([1.0, -0.0]))]
    got, lens = decode_values_multi(vblobs)
    assert lens.tolist() == [0, 1, 0, 2]
    np.testing.assert_array_equal(
        got.view(np.uint64), np.array([2.5, 1.0, -0.0]).view(np.uint64)
    )
    assert decode_values_multi([])[0].size == 0
    assert decode_timestamps_multi([])[1].size == 0


def test_multi_decode_rejects_v1_blob_mid_batch():
    vals = [encode_values(np.array([1.0, 2.0, 2.0])) for _ in range(3)]
    vals[1] = _strip_version(vals[1])
    with pytest.raises(ValueError, match="version"):
        decode_values_multi(vals)
    ts = [encode_timestamps(np.array([0, 60, 90], dtype=np.int64)) for _ in range(3)]
    ts[1] = _strip_version(ts[1])
    with pytest.raises(ValueError, match="version"):
        decode_timestamps_multi(ts)


def test_multi_decode_rejects_truncated_blob():
    """A blob shorter than its header and sidecar say must raise, not read
    its neighbour's bytes."""
    good = encode_values(np.array([1.0, 3.0, -2.0]))
    with pytest.raises(ValueError, match="corrupt"):
        decode_values_multi([good[:-1], good])
    tgood = encode_timestamps(np.array([0, 60, 61, 500], dtype=np.int64))
    with pytest.raises(ValueError, match="corrupt"):
        decode_timestamps_multi([tgood[:-1], tgood])


# ---------------- state chunks ----------------

STATE_KEYS = ["url", "lang"]


@pytest.fixture(scope="module")
def minute_tier(spark):
    from tslib_spark.datagen import generate_pages
    from tslib_spark.operators import rollup_pages

    pages = generate_pages(spark, n_events=4000, n_urls=60, n_minutes=3 * 1440, seed=3)
    return rollup_pages(pages).cache()


def _chunk_rows(df):
    return sorted(
        (r["url"], r["lang"], r["chunk_id"], r["n_points"], r["ts_start"],
         *(bytes(r[b]) for b in ("ts_blob", "cnt_blob", "sum_blob", "min_blob", "max_blob")))
        for r in df.collect()
    )


def test_state_chunk_encode_independent_of_batch_size(spark, minute_tier):
    """The streaming encode carries a (sid, window) run across Arrow
    batches: 7-row batches give the same chunk rows as the default, one
    row per (keys, chunk_id), and the decoded tier is the input tier."""
    from tslib_spark.codec.statechunks import decode_state_chunks, encode_state_chunks
    from tslib_spark.operators.downsample import tier_state_checksum

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = _chunk_rows(encode_state_chunks(minute_tier, STATE_KEYS))
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        small_df = encode_state_chunks(minute_tier, STATE_KEYS)
        small = _chunk_rows(small_df)
        back = decode_state_chunks(small_df, STATE_KEYS)
        assert tier_state_checksum(back, STATE_KEYS) == tier_state_checksum(
            minute_tier, STATE_KEYS
        )
    finally:
        spark.conf.set(conf, old)
    assert small == default
    assert len({r[:3] for r in default}) == len(default)
    assert max(r[3] for r in default) > 7  # some run does span batches
    assert sum(r[3] for r in default) == minute_tier.count()


def test_decode_state_chunks_rejects_point_count_mismatch(spark):
    """A +1 in one row and a -1 in another must not cancel out."""
    from tslib_spark.codec.statechunks import decode_state_chunks

    def row(chunk_id, n, cnt_n, n_points=None):
        minutes = np.arange(n, dtype=np.int64) + chunk_id * 1440
        ones = np.ones(n)
        return {
            "url": "u", "lang": "en", "chunk_id": chunk_id,
            "n_points": n if n_points is None else n_points, "ts_start": int(minutes[0]),
            "ts_blob": encode_timestamps(minutes),
            "cnt_blob": encode_timestamps(np.ones(cnt_n, dtype=np.int64)),
            "sum_blob": encode_timestamps(ones.astype(np.int64)),
            "min_blob": encode_values(ones),
            "max_blob": encode_values(ones),
        }

    import pandas as pd

    ok = spark.createDataFrame(pd.DataFrame([row(0, 3, 3), row(1, 4, 4)]))
    assert decode_state_chunks(ok, ["url", "lang"]).count() == 7
    for rows in ([row(0, 3, 4), row(1, 4, 3)], [row(0, 3, 3, n_points=2)]):
        bad = spark.createDataFrame(pd.DataFrame(rows))
        with pytest.raises(Exception, match="corrupt state chunk"):
            decode_state_chunks(bad, ["url", "lang"]).collect()

    # a generic chunk row whose blobs agree with each other but not with
    # its n_points
    from tslib_spark.codec.chunks import decode_chunks

    generic = {
        "k": "u", "chunk_id": 0, "n_points": 2, "ts_start": 0,
        "ts_blob": encode_timestamps(np.arange(3, dtype=np.int64)),
        "val_blob": encode_values(np.ones(3)),
    }
    bad = spark.createDataFrame(pd.DataFrame([generic]))
    with pytest.raises(Exception, match="corrupt chunk"):
        decode_chunks(bad, ["k"]).collect()


def test_chunk_encode_independent_of_batch_size_with_spill(spark):
    """The generic encode carries a (sid, window) run across Arrow batches
    too, and splits a run longer than chunk_size (duplicate timestamps in
    one window) into chunks with ordinals 0..k: 7-row batches give the same
    chunk rows as the default, and decode returns the input multiset."""
    import pandas as pd

    from tslib_spark.codec.chunks import ORDINAL_BITS, decode_chunks, encode_chunks

    chunk_size = 64
    rng = np.random.default_rng(5)
    idx = np.cumsum(rng.integers(1, 4, 300)).astype(np.int64)
    dup = np.concatenate([np.sort(rng.integers(0, 10, 200)), np.arange(64, 74)])
    pdf = pd.concat(
        [
            pd.DataFrame({"k": "a", "bucket_idx": idx, "value": np.round(rng.normal(size=300), 3)}),
            # tied timestamps share a value, so the chunk bytes do not depend
            # on the (unspecified) order of ties
            pd.DataFrame({"k": "spill", "bucket_idx": dup, "value": dup * 0.5}),
        ],
        ignore_index=True,
    )
    df = spark.createDataFrame(pdf)

    def rows(chunks):
        return sorted(
            (r["k"], r["chunk_id"], r["n_points"], r["ts_start"], bytes(r["ts_blob"]),
             bytes(r["val_blob"]))
            for r in chunks.collect()
        )

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = rows(encode_chunks(df, ["k"], chunk_size=chunk_size))
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        small_df = encode_chunks(df, ["k"], chunk_size=chunk_size)
        small = rows(small_df)
        back = decode_chunks(small_df, ["k"]).toPandas()
    finally:
        spark.conf.set(conf, old)
    assert small == default
    spill = [(r[1] >> ORDINAL_BITS, r[1] & ((1 << ORDINAL_BITS) - 1), r[2])
             for r in default if r[0] == "spill"]
    assert spill == [(0, 0, 64), (0, 1, 64), (0, 2, 64), (0, 3, 8), (1, 0, 10)]
    assert all(r[2] <= chunk_size for r in default)
    order = ["k", "bucket_idx", "value"]
    got = back[order].sort_values(order, ignore_index=True)
    want = pdf[order].sort_values(order, ignore_index=True)
    pd.testing.assert_frame_equal(got, want)
