"""Incremental model updates (folding-in / Brand) and the TierStore-driven
update loop."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from tslib_spark.kernels import linalg
from tslib_spark.kernels.svd_kernel import ModelConfig
from tslib_spark.streaming.incremental import fit_state, impute_from_state, update_state


def tidy(series: np.ndarray, gid="g0", key="t1", start_idx=0):
    return pd.DataFrame(
        {
            "group_id": gid,
            "series_key": key,
            "bucket_idx": np.arange(start_idx, start_idx + len(series), dtype=np.int64),
            "value": series,
        }
    )


@pytest.fixture(scope="module")
def low_rank_series():
    rng = np.random.default_rng(5)
    N, M_total = 20, 40
    # rank-3 latent structure so folding-in tracks well
    U = rng.normal(size=(N, 3))
    V = rng.normal(size=(3, M_total))
    mat = U @ V
    return N, M_total, mat


def test_incremental_update_matches_oracle(spark, low_rank_series):
    N, M_total, mat = low_rank_series
    M0 = 35
    k = 3
    base = mat[:, :M0].flatten("F")
    new_block = mat[:, M0:].flatten("F")

    cfg = ModelConfig(target_key="t1", N=N, M=M0, k=k)
    state0 = fit_state(spark.createDataFrame(tidy(base)), cfg).cache()
    s0 = state0.toPandas().iloc[0]
    assert s0["times_updated"] == 0
    assert len(s0["weights"]) == N - 1

    new_df = spark.createDataFrame(tidy(new_block, start_idx=N * M0))
    state1 = update_state(state0, new_df, method="folding-in").cache()
    s1 = state1.toPandas().iloc[0]
    assert s1["times_updated"] == 1
    assert len(s1["last_row"]) == M_total
    assert len(s1["imputed_new"]) == N * (M_total - M0)

    # oracle: same update math straight from numpy primitives
    mid = linalg.middle_value(base)
    filled = np.where(np.isnan(base), mid, base)
    m0 = filled.reshape(M0, N).T
    sk, uk, vk = linalg.svd_topk(m0, k)
    skw, ukw, vkw = linalg.svd_topk(m0[:-1, :], k)
    D = new_block.reshape(M_total - M0, N).T
    uk2, sk2, vk2 = linalg.update_svd_folding_in(D, uk, sk, vk)
    want_new = linalg.reconstruct(sk2, uk2, vk2[-(M_total - M0):, :]).flatten("F")
    np.testing.assert_allclose(np.asarray(s1["imputed_new"]), want_new, atol=1e-8)

    ukw2, skw2, vkw2 = linalg.update_svd_folding_in(D[:-1, :], ukw, skw, vkw)
    want_w = linalg.pinv_from_svd(skw2, ukw2, vkw2).T @ np.append(m0[-1, :], D[-1, :])
    np.testing.assert_allclose(np.asarray(s1["weights"]), want_w, atol=1e-8)

    # on a truly low-rank series, folding-in imputation stays accurate
    assert linalg.rmse(np.asarray(s1["imputed_new"]), new_block) < 1e-6


def test_brand_update_tracks_full_refit(spark, low_rank_series):
    N, M_total, mat = low_rank_series
    M0, k = 35, 3
    base = mat[:, :M0].flatten("F")
    new_block = mat[:, M0:].flatten("F")
    cfg = ModelConfig(target_key="t1", N=N, M=M0, k=k)
    state0 = fit_state(spark.createDataFrame(tidy(base)), cfg)
    state1 = update_state(state0, spark.createDataFrame(tidy(new_block, start_idx=N * M0)), method="brand")
    # impute_from_state reconstructs the whole maintained series
    full = impute_from_state(state1).toPandas().sort_values(["col_idx", "row_idx"])
    got = full["value"].to_numpy()
    want = linalg.hsvt(mat, k).flatten("F")  # full refit on all data
    np.testing.assert_allclose(got, want, atol=1e-6)


def test_update_when_weights_rank_below_k(spark, low_rank_series):
    """cfg.k above the past-only design's row count: the weights SVD clamps
    to kw < k. State must carry kw separately so the update reshape works
    (regression: a single k column made reshape(-1, k) raise)."""
    N, M_total, mat = low_rank_series
    M0 = 35
    base = mat[:, :M0].flatten("F")
    new_block = mat[:, M0:].flatten("F")
    cfg = ModelConfig(target_key="t1", N=N, M=M0, k=N + 5)  # k > N-1 design rows
    state0 = fit_state(spark.createDataFrame(tidy(base)), cfg)
    s0 = state0.toPandas().iloc[0]
    assert s0["kw"] < s0["k"]
    s1 = (
        update_state(state0, spark.createDataFrame(tidy(new_block, start_idx=N * M0)))
        .toPandas()
        .iloc[0]
    )
    assert s1["times_updated"] == 1 and len(s1["last_row"]) == M_total


def test_state_passthrough_when_no_new_data(spark, low_rank_series):
    N, M_total, mat = low_rank_series
    cfg = ModelConfig(target_key="t1", N=N, M=35, k=3)
    base = mat[:, :35].flatten("F")
    state0 = fit_state(spark.createDataFrame(tidy(base)), cfg)
    empty = spark.createDataFrame([], "group_id string, bucket_idx long, value double")
    out = update_state(state0, empty).toPandas()
    assert len(out) == 1
    assert out.iloc[0]["times_updated"] == 0


# ---------------- update_from_store: the TierStore-driven updateSVD ----------------

ORIGIN = pd.Timestamp("2026-03-02 00:00:00")


def store_day(spark, store, day: int, values: np.ndarray) -> None:
    """Materialize one day of minute-tier state for series t1: one bucket
    per value, val_sum as the tier's decimal(38,9)."""
    ts = [
        (ORIGIN + pd.Timedelta(days=day, minutes=int(j))).to_pydatetime()
        for j in range(len(values))
    ]
    rows = pd.DataFrame(
        {
            "series_key": "t1",
            "bucket_ts": ts,
            "cnt": 1,
            "val_sum": values,
            "val_min": values,
            "val_max": values,
        }
    )
    tier = spark.createDataFrame(rows)
    store.materialize("minute", tier.withColumn("val_sum", F.col("val_sum").cast("decimal(38,9)")))


def day_blocks(start: int, per_day: int):
    """``to_blocks`` for update_from_store: a bucket's minute within its day
    → running bucket_idx after the ``start`` buckets of the base fit."""
    origin_min = int(ORIGIN.timestamp() // 60)

    def to_blocks(df):
        minute = (F.unix_timestamp("bucket_ts") / 60).cast("long")
        day = F.floor((minute - origin_min) / 1440)
        within = (minute - origin_min) % 1440
        return df.select(
            F.lit("g0").alias("group_id"),
            (F.lit(start) + day * per_day + within).cast("long").alias("bucket_idx"),
            F.col("val_sum").cast("double").alias("value"),
        )

    return to_blocks


def sequential_state(spark, cfg, base, blocks, start):
    """Oracle: ``blocks`` folded by one caller-supplied update_state each."""
    s = fit_state(spark.createDataFrame(tidy(base)), cfg)
    for i, blk in enumerate(blocks):
        nd = spark.createDataFrame(
            tidy(blk, start_idx=start + i * len(blk))[["group_id", "bucket_idx", "value"]]
        )
        s = update_state(s, nd)
    return s.toPandas().iloc[0]


def test_update_from_store_folds_manifest_delta(spark, tmp_path, low_rank_series):
    """Snapshot-driven incrementality: TierStore's checkpoint manifest is
    the snapshot log; update_from_store folds exactly the unapplied
    partition delta — no caller-supplied frames. Two materialized batches
    → two calls fold one day each; the state matches the sequential
    update_state oracle exactly, the reconstruction matches a full refit
    at 1e-8 (low-rank data at the tier's 1e-9 quantum), and a third call
    is a no-op. The same holds on a raw and on a Gorilla-compressed
    minute tier."""
    from tslib_spark.operators.retention import TierStore
    from tslib_spark.streaming.model_stream import update_from_store

    N, M_total, mat = low_rank_series
    M0 = 36
    cfg = ModelConfig(target_key="t1", N=N, M=M0, k=3)
    base = mat[:, :M0].flatten("F")
    # two "days" of new minute buckets, 2 columns (2N points) each, at the
    # decimal(38,9) quantum both stores keep exactly
    blocks = [np.round(mat[:, M0 + 2 * i : M0 + 2 * i + 2].flatten("F"), 9) for i in range(2)]
    to_blocks = day_blocks(N * M0, 2 * N)
    want = sequential_state(spark, cfg, base, blocks, N * M0)

    for name, compressed in (("raw", set()), ("compressed", {"minute"})):
        state_dir = str(tmp_path / f"state_{name}")
        fit_state(spark.createDataFrame(tidy(base)), cfg).write.parquet(state_dir)
        store = TierStore(
            spark, str(tmp_path / f"store_{name}"), keys=["series_key"],
            compressed_tiers=compressed,
        )

        store_day(spark, store, 0, blocks[0])
        assert update_from_store(spark, store, "minute", state_dir, to_blocks) == ["2026-03-02"]
        store_day(spark, store, 1, blocks[1])
        assert update_from_store(spark, store, "minute", state_dir, to_blocks) == ["2026-03-03"]
        assert update_from_store(spark, store, "minute", state_dir, to_blocks) == []

        got = spark.read.parquet(state_dir).toPandas().iloc[0]
        assert got["times_updated"] == 2, name
        np.testing.assert_allclose(got["sk"], want["sk"], atol=1e-12)
        np.testing.assert_allclose(got["weights"], want["weights"], atol=1e-12)
        np.testing.assert_allclose(got["last_row"], want["last_row"], atol=0)

        # and the incrementally-maintained reconstruction equals a full
        # refit on this low-rank panel
        rec = (
            impute_from_state(spark.read.parquet(state_dir))
            .toPandas()
            .sort_values(["col_idx", "row_idx"])["value"]
            .to_numpy()
        )
        full = np.column_stack([mat[:, :M0], *[b.reshape(2, N).T for b in blocks]])
        sk_f, uk_f, vk_f = linalg.svd_topk(full, 3)
        np.testing.assert_allclose(
            rec, linalg.reconstruct(sk_f, uk_f, vk_f).flatten("F"), atol=1e-8
        )


def test_stream_replay_and_kill_recovery(spark, tmp_path, low_rank_series):
    """Crash safety of update_from_store's state swap: (a) a replayed call
    after a committed fold is a no-op; (b) a kill between the two swap
    renames strands the state in ``.old`` — the next call restores it and
    folds the new delta exactly once; (c) a stale ``.next`` left by a kill
    before the swap is ignored and overwritten. Each fold matches the
    sequential update_state oracle."""
    import os

    from tslib_spark.operators.retention import TierStore
    from tslib_spark.streaming.model_stream import update_from_store

    N, M_total, mat = low_rank_series
    M0 = 34
    cfg = ModelConfig(target_key="t1", N=N, M=M0, k=3)
    base = mat[:, :M0].flatten("F")
    blocks = [np.round(mat[:, M0 + 2 * i : M0 + 2 * i + 2].flatten("F"), 9) for i in range(3)]
    to_blocks = day_blocks(N * M0, 2 * N)

    state_dir = str(tmp_path / "state")
    fit_state(spark.createDataFrame(tidy(base)), cfg).write.parquet(state_dir)
    store = TierStore(spark, str(tmp_path / "store"), keys=["series_key"])

    def fold() -> list[str]:
        return update_from_store(spark, store, "minute", state_dir, to_blocks)

    def times_updated() -> int:
        return int(spark.read.parquet(state_dir).toPandas().iloc[0]["times_updated"])

    store_day(spark, store, 0, blocks[0])
    assert fold() == ["2026-03-02"] and times_updated() == 1

    # (a) replay: nothing new in the manifest, state untouched
    assert fold() == [] and times_updated() == 1

    # (b) kill between the renames: state_dir moved to .old, not yet replaced
    store_day(spark, store, 1, blocks[1])
    os.rename(state_dir, state_dir + ".old")
    assert fold() == ["2026-03-03"]
    assert times_updated() == 2, "the stranded delta was not folded exactly once"
    assert not os.path.exists(state_dir + ".old")

    # (c) kill before the swap: a complete .next claiming every partition
    # folded, on top of an older state, must not be picked up
    store_day(spark, store, 2, blocks[2])
    stale = state_dir + ".next"
    fit_state(spark.createDataFrame(tidy(base)), cfg).write.parquet(stale)
    with open(os.path.join(stale, "_applied_source"), "w") as f:
        f.write('{"tier": "minute", "partitions": ["2026-03-02", "2026-03-03", "2026-03-04"]}')
    assert fold() == ["2026-03-04"]
    assert times_updated() == 3
    assert not os.path.exists(stale)

    got = spark.read.parquet(state_dir).toPandas().iloc[0]
    want = sequential_state(spark, cfg, base, blocks, N * M0)
    np.testing.assert_allclose(got["sk"], want["sk"], atol=1e-12)
    np.testing.assert_allclose(got["weights"], want["weights"], atol=1e-12)
    np.testing.assert_allclose(got["last_row"], want["last_row"], atol=0)


def test_update_from_store_refuses_partitions_expired_before_folding(spark, tmp_path):
    """A model that lags retention cannot fold past the gap: when
    ``retention_pass`` expires minute partitions the model never folded,
    update_from_store raises naming them and leaves state and marker
    as they were (folding the surviving day would splice it onto the
    wrong column). Expired partitions the model already folded do not
    block: fold → expire → fold of a new day works."""
    import os

    from tslib_spark.operators.downsample import downsample
    from tslib_spark.operators.retention import TierStore
    from tslib_spark.streaming.model_stream import update_from_store

    rng = np.random.default_rng(11)
    N, M0, days = 10, 20, 4
    mat = rng.normal(size=(N, 3)) @ rng.normal(size=(3, M0 + 2 * days))
    cfg = ModelConfig(target_key="t1", N=N, M=M0, k=3)
    base = mat[:, :M0].flatten("F")
    blocks = [np.round(mat[:, M0 + 2 * i : M0 + 2 * i + 2].flatten("F"), 9) for i in range(days)]
    to_blocks = day_blocks(N * M0, 2 * N)

    def new_model(name):
        state_dir = str(tmp_path / f"state_{name}")
        fit_state(spark.createDataFrame(tidy(base)), cfg).write.parquet(state_dir)
        store = TierStore(spark, str(tmp_path / f"store_{name}"), keys=["series_key"])
        for d in range(3):
            store_day(spark, store, d, blocks[d])
        return state_dir, store

    def expire(store):
        store.materialize("hour", downsample(store.read_tier("minute"), "hour", ["series_key"]))
        return store.retention_pass("minute", "2026-03-04")

    def state(state_dir):
        return spark.read.parquet(state_dir).toPandas().iloc[0]

    # the model lags: retention expires two days it never folded
    state_dir, store = new_model("lagging")
    assert expire(store) == ["2026-03-02", "2026-03-03"]
    files = sorted(os.listdir(state_dir))
    with pytest.raises(ValueError, match=r"\['2026-03-02', '2026-03-03'\]"):
        update_from_store(spark, store, "minute", state_dir, to_blocks)
    assert sorted(os.listdir(state_dir)) == files  # no marker written
    assert state(state_dir)["times_updated"] == 0
    assert len(state(state_dir)["last_row"]) == M0

    # the model is current: its folded days may expire
    state_dir, store = new_model("current")
    assert update_from_store(spark, store, "minute", state_dir, to_blocks) == [
        "2026-03-02", "2026-03-03", "2026-03-04",
    ]
    assert expire(store) == ["2026-03-02", "2026-03-03"]
    store_day(spark, store, 3, blocks[3])
    assert update_from_store(spark, store, "minute", state_dir, to_blocks) == ["2026-03-05"]
    got = state(state_dir)
    assert got["times_updated"] == 2
    assert len(got["last_row"]) == M0 + 2 * days
    np.testing.assert_allclose(got["last_row"][-2:], mat[-1, -2:], atol=1e-9)
