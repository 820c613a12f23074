"""TierStore: materialized continuous-aggregate tiers with retention.

Storage goes through the catalog seam (sources/catalog.py): the default
``ParquetManifestBackend`` gives the layout below (parquet + this class's
checkpoint manifest as the Iceberg-snapshot stand-in, SURVEY §1.3 — no
Iceberg runtime jar ships in this sandbox); ``IcebergBackend`` is the
one-constructor-argument drop-in when a catalog is configured:

    <root>/tiers/<tier>/part_key=<YYYY-MM-DD or week start>/*.parquet
    <root>/checkpoint.parquet            (lineage, see plans/lineage.py)

Materialization is **idempotent per partition**: missing partitions are
computed in ONE Spark job and written with dynamic partition overwrite, so
a partition half-written by a killed run is cleanly rewritten on resume;
the checkpoint rows (with content checksums) are recorded only after the
write commits. ``retention_pass`` expires raw partitions strictly after
verifying the covering coarser-tier partitions exist and checksum-match —
"delete the raw minutes only once the hourly rollup provably holds them".

``materialize`` is the only way a partition is written and recorded. It
skips every partition the manifest records as done or expired, so an
expired range is never written again: expiry is terminal.

Part keys come from the write itself. ``materialize`` filters the source
to the partitions the manifest records neither done nor expired, and the
written frame carries an ``Observation`` of ``collect_set(part_key)``, so
no separate ``distinct`` job runs and a ``part_key=`` directory the write
did not produce is never recorded. Exactly the observed partitions are
read back (decoded, for compressed tiers) and checksummed. A partition's
checksum is the decimal sum of ``state_row_hash`` over its rows, wrapped
to int64; ``_partition_checksums`` computes it for several frames in one
``groupBy(side, part_key)`` collect, so a parity gate checksums its
recomputed and stored sides together.

At cluster scale the same code shape holds: partition writes are
distributed, only the checkpoint bookkeeping is driver-side metadata.
"""

from __future__ import annotations

from functools import reduce
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from tslib_spark.operators.downsample import downsample, state_row_hash
from tslib_spark.plans.lineage import CheckpointStore

# partition granularity per tier: fine tiers partition daily, coarse weekly
PART_TRUNC = {"minute": "day", "hour": "day", "day": "week", "week": "week"}
SPAN_DAYS = {"day": 1, "week": 7}


class TierStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        keys: list[str],
        compressed_tiers: frozenset[str] | set[str] = frozenset(),
        backend=None,
    ):
        """``compressed_tiers``: tiers stored as Gorilla state chunks
        (codec/statechunks.py — the north star's compressed minute tier)
        instead of raw state rows. Reads decode transparently; the parity
        gate and checksums run on the decoded read-back, so compression
        sits INSIDE the bit-exactness contract, not beside it.

        ``backend``: the catalog seam (sources/catalog.py) — every byte
        touch (read / partition overwrite / partition drop / existence)
        goes through it, so swapping ParquetManifestBackend for
        IcebergBackend touches no TierStore logic. Default: parquet +
        this class's checkpoint manifest."""
        from tslib_spark.sources.catalog import ParquetManifestBackend

        self.spark = spark
        self.root = Path(root)
        self.keys = keys
        self.compressed_tiers = set(compressed_tiers)
        self.backend = backend if backend is not None else ParquetManifestBackend(root)
        self.checkpoint = CheckpointStore(str(self.root / "checkpoint.parquet"))
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # keep part_key a string on read-back (inference would parse it as a
        # DATE and break checkpoint-key equality)
        self.spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")

    # ---------------- paths ----------------
    def tier_path(self, tier: str) -> str:
        return self.backend.table_path(tier)

    def read_tier(self, tier: str, start_ts=None, end_ts=None) -> DataFrame:
        """Read a tier, optionally restricted to [start_ts, end_ts).

        Range reads prune at three levels — the point of the layout:
        1. partition pruning on ``part_key`` (directories never listed);
        2. for compressed tiers, CHUNK pruning on ``ts_start`` before any
           decode (a chunk spans at most its partition's time range, so
           chunks starting at/after ``end_ts`` or a full partition-span
           before ``start_ts`` can't contain in-range points);
        3. an exact row filter on the decoded/raw ``bucket_ts``.
        At 100 TB a day's read touches one part_key directory and decodes
        only that day's chunks, not the corpus.
        """
        raw = self.backend.read(self.spark, tier)
        span_days = SPAN_DAYS[PART_TRUNC[tier]]
        if start_ts is not None:
            pk_lo = (
                pd.Timestamp(start_ts) - pd.Timedelta(days=span_days)
            ).strftime("%Y-%m-%d")
            raw = raw.filter(F.col("part_key") > pk_lo)
        if end_ts is not None:
            raw = raw.filter(F.col("part_key") <= pd.Timestamp(end_ts).strftime("%Y-%m-%d"))
        raw = raw.drop("part_key")

        if tier in self.compressed_tiers:
            from tslib_spark.codec.statechunks import decode_state_chunks

            if start_ts is not None:
                lo_min = int(pd.Timestamp(start_ts).timestamp() // 60) - span_days * 1440
                raw = raw.filter(F.col("ts_start") > lo_min)
            if end_ts is not None:
                raw = raw.filter(
                    F.col("ts_start") < int(pd.Timestamp(end_ts).timestamp() // 60)
                )
            out = decode_state_chunks(raw, self.keys)
        else:
            out = raw
        if start_ts is not None:
            out = out.filter(F.col("bucket_ts") >= F.lit(pd.Timestamp(start_ts)))
        if end_ts is not None:
            out = out.filter(F.col("bucket_ts") < F.lit(pd.Timestamp(end_ts)))
        return out

    def read_partitions(self, tier: str, pks) -> DataFrame:
        """The stored rows of partitions ``pks`` of ``tier``, ``part_key``
        attached: the partition filter sits on the scan, so only those
        partitions are read and, for compressed tiers, decoded."""
        raw = self.backend.read(self.spark, tier).filter(F.col("part_key").isin(list(pks)))
        if tier not in self.compressed_tiers:
            return raw
        from tslib_spark.codec.statechunks import decode_state_chunks

        return self._with_part_key(decode_state_chunks(raw.drop("part_key"), self.keys), tier)

    # ---------------- checksums ----------------
    def _with_part_key(self, df: DataFrame, tier: str) -> DataFrame:
        return df.withColumn(
            "part_key", F.date_format(F.date_trunc(PART_TRUNC[tier], "bucket_ts"), "yyyy-MM-dd")
        )

    def _partition_checksums(self, *frames: DataFrame) -> tuple[dict[str, tuple[int, int]], ...]:
        """One {part_key: (rows, checksum)} per frame (each frame has a
        ``part_key`` column), all from one ``groupBy(side, part_key)``
        collect — an order-insensitive decimal hash sum."""
        tagged = [
            df.select(
                F.lit(side).alias("_side"),
                "part_key",
                state_row_hash(self.keys).cast("decimal(38,0)").alias("_h"),
            )
            for side, df in enumerate(frames)
        ]
        rows = (
            reduce(DataFrame.unionAll, tagged)
            .groupBy("_side", "part_key")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("_h").alias("chk"))
            .collect()
        )
        # wrap the (unbounded) decimal hash-sum into signed 64-bit so the
        # checkpoint parquet column stays an int64
        wrap = lambda v: ((int(v) + 2**63) % 2**64) - 2**63  # noqa: E731
        out = tuple({} for _ in frames)
        for r in rows:
            out[r["_side"]][r["part_key"]] = (int(r["n"]), wrap(r["chk"] or 0))
        return out

    # ---------------- materialization ----------------
    def materialize(self, tier: str, source: DataFrame) -> list[str]:
        """Write all not-yet-done partitions of ``tier`` from ``source``
        (a tier-state DataFrame: keys + bucket_ts + cnt/val_sum/min/max).

        Returns the partition keys written this run. Idempotent + resumable.
        """
        cp = self.checkpoint.read()
        # skip both completed AND expired partitions — retention is terminal,
        # an expired range must not silently rematerialize from a late source
        done = sorted(set(cp[cp["tier"] == tier]["partition_key"].astype(str)))
        todo = self._with_part_key(source, tier).filter(~F.col("part_key").isin(done))
        return self._write_partitions(tier, todo)

    def _write_partitions(self, tier: str, todo: DataFrame) -> list[str]:
        """``materialize``'s write tail: encode-if-compressed → dynamic
        partition overwrite → checksum the landed (decoded) bytes of the
        partitions the write produced → checkpoint. Returns those
        partition keys."""
        if tier in self.compressed_tiers:
            from tslib_spark.codec.statechunks import encode_state_chunks

            # chunk windows align to the partition granularity (day: 1440
            # from epoch; week: 10080 shifted to Monday starts — the epoch
            # was a Thursday), so each chunk falls in exactly one part_key
            window_minutes = 1440 if PART_TRUNC[tier] == "day" else 10080
            offset = 0 if PART_TRUNC[tier] == "day" else 4320
            enc = encode_state_chunks(
                todo.drop("part_key"), self.keys,
                window_minutes=window_minutes, window_offset_minutes=offset,
            )
            out = enc.withColumn(
                "part_key",
                F.date_format(
                    F.date_trunc(PART_TRUNC[tier], F.timestamp_seconds(F.col("ts_start") * 60)),
                    "yyyy-MM-dd",
                ),
            )
        else:
            out = todo
        # the write itself reports which partitions it produced: no separate
        # distinct job, and nothing on disk that this write did not produce
        # (a stray part_key= directory) is ever recorded. The observation
        # sits above the exchange: below it, an empty shuffle lets adaptive
        # execution prune the observed node and the metrics never arrive.
        written = Observation()
        self.backend.write_partitions(
            self.spark,
            tier,
            out.repartition(F.col("part_key"), *[F.col(k) for k in self.keys]).observe(
                written, F.collect_set("part_key").alias("pks")
            ),
        )
        pks = sorted(written.get["pks"])
        if not pks:
            return []
        # checksum what actually landed (decoded read-back for compressed
        # tiers — the checksum certifies the decodable bytes on disk)
        (sums,) = self._partition_checksums(self.read_partitions(tier, pks))
        self.checkpoint.mark_many(
            [
                {
                    "tier": tier,
                    "partition_key": pk,
                    "status": "done",
                    "rows_in": sums.get(pk, (0, 0))[0],
                    "rows_out": sums.get(pk, (0, 0))[0],
                    "checksum": sums.get(pk, (0, 0))[1],
                }
                for pk in pks
            ]
        )
        return pks

    def materialize_chain(self, minute_source: DataFrame) -> dict[str, list[str]]:
        """minute → hour → day → week, each tier read back from storage —
        the continuous-aggregate scan shape (coarser tiers never touch raw)."""
        written = {"minute": self.materialize("minute", minute_source)}
        prev = "minute"
        for tier in ("hour", "day", "week"):
            src = downsample(self.read_tier(prev), tier, self.keys)
            written[tier] = self.materialize(tier, src)
            prev = tier
        return written

    # ---------------- verification + retention ----------------
    def _coarse_part_key(self, fine_pk: str, coarse: str) -> str:
        """The coarse-tier partition that covers a fine partition key
        (week truncation = Monday start, matching date_trunc('week'))."""
        from datetime import date, timedelta

        d = date.fromisoformat(fine_pk)
        if PART_TRUNC[coarse] == "week":
            d = d - timedelta(days=d.weekday())
        return d.isoformat()

    def verify_tier_parity(self, fine: str, coarse: str, coarse_pks=None) -> bool:
        """Recompute ``coarse`` from stored ``fine`` and compare checksums
        partition-by-partition against the stored coarse tier; optionally
        restricted to ``coarse_pks`` (a collection of partition keys), in
        which case only the fine range covering them is read."""
        if coarse_pks is None:
            fine_rows = self.read_tier(fine)
            stored = self._with_part_key(self.read_tier(coarse), coarse)
        else:
            pks = sorted(coarse_pks)
            if not pks:
                return True
            end = pd.Timestamp(pks[-1]) + pd.Timedelta(days=SPAN_DAYS[PART_TRUNC[coarse]])
            fine_rows = self.read_tier(fine, pks[0], end)
            stored = self.read_partitions(coarse, pks)
        recomputed = self._with_part_key(downsample(fine_rows, coarse, self.keys), coarse)
        if coarse_pks is not None:
            recomputed = recomputed.filter(F.col("part_key").isin(pks))
        got, want = self._partition_checksums(recomputed, stored)
        return got == want

    def expire_snapshots(
        self, older_than_ts: float, retain_last: int = 8, tiers: list[str] | None = None
    ) -> list[str]:
        """Prune superseded metadata generations through the catalog seam:
        manifest ``.gen-*`` files for the parquet backend, table snapshots
        via ``CALL system.expire_snapshots`` for Iceberg. The live manifest
        and the newest ``retain_last`` generations always survive, so
        lineage audit depth is bounded instead of unbounded."""
        return self.backend.expire_snapshots(
            self.spark,
            tiers if tiers is not None else ["minute", "hour", "day", "week"],
            older_than_ts,
            retain_last,
        )

    def retention_pass(
        self, tier: str, expire_before: str, manifest_retain_last: int = 8
    ) -> list[str]:
        """Expire ``tier`` partitions with part_key < expire_before, gated on
        the covering coarser tier provably holding them; records 'expired'
        lineage (terminal — expired ranges never rematerialize).

        Works on every tier with a coarser neighbor (minute→hour, hour→day,
        day→week), and supports REPEATED passes: coarse partitions whose
        covering fine rows all survive are re-verified by full recompute;
        coarse partitions already missing some fine rows from an earlier
        pass can't be recomputed, so they are integrity-checked against the
        checksum recorded in the checkpoint when they were materialized.

        All expiries land in one manifest write, after every drop: an
        'expired' row always means the bytes are gone. A pass killed between
        the drops and that write leaves dropped partitions recorded as
        'done', and the parity gate then blocks the next pass over them.

        After the parity-gated expiry commits, superseded metadata
        generations are pruned down to ``manifest_retain_last`` via the
        backend's ``expire_snapshots`` (Iceberg snapshot-expiry semantics;
        the parity gate has just re-certified the LIVE state, so history
        beyond the retained tail is provably redundant). Pass
        ``manifest_retain_last=0`` with care — the newest generations are
        the audit trail for the pass itself.
        """
        import time as _time
        order = ["minute", "hour", "day", "week"]
        coarse = order[order.index(tier) + 1]
        cp = self.checkpoint.read()
        mine = cp[cp["tier"] == tier]
        already_expired = set(mine[mine["status"] == "expired"]["partition_key"].astype(str))
        candidates = sorted(
            pk for pk in self.checkpoint.done_partitions(tier) if pk < expire_before
        )
        if not candidates:
            return []

        affected = {self._coarse_part_key(pk, coarse) for pk in candidates}
        tainted = {self._coarse_part_key(pk, coarse) for pk in already_expired}
        recomputable = sorted(affected - tainted)
        integrity_only = sorted(affected & tainted)

        if recomputable and not self.verify_tier_parity(tier, coarse, recomputable):
            raise RuntimeError(
                f"retention blocked: {coarse} tier does not match {tier} rollup "
                f"for partitions {recomputable}"
            )
        if integrity_only:
            (got,) = self._partition_checksums(self.read_partitions(coarse, integrity_only))
            recorded = cp[(cp["tier"] == coarse) & (cp["status"] == "done")]
            want = dict(zip(recorded["partition_key"].astype(str), recorded["checksum"]))
            for pk in integrity_only:
                if pk not in want or got.get(pk, (0, None))[1] != int(want[pk]):
                    raise RuntimeError(
                        f"retention blocked: stored {coarse} partition {pk} no "
                        f"longer matches its recorded checksum"
                    )

        for pk in candidates:
            self.backend.drop_partition(self.spark, tier, pk)
        self.checkpoint.mark_many(
            [{"tier": tier, "partition_key": pk, "status": "expired"} for pk in candidates]
        )
        self.backend.expire_snapshots(
            self.spark, [tier], _time.time(), manifest_retain_last
        )
        return candidates
