"""Per-partition checkpoint + lineage table.

The resumability contract (BASELINE.json north_rule): every tier
materialization records one row per (tier, partition_key) with status,
row counts, an order-insensitive content checksum, and a monotonically
increasing ``times_updated`` counter (the reference's ``TimesUpdated``
state, tsSVDModel.py:33-35, promoted to per-partition lineage). A killed
run leaves some partitions unrecorded; the re-run recomputes exactly
those (writes are idempotent per-partition), so any retention pass is
resumable mid-tier.

The table itself is tiny metadata (like Iceberg's metadata layer), kept as
a single parquet file rewritten atomically (tmp + rename) from the driver.
"""

from __future__ import annotations

import os
import time

import pandas as pd

COLUMNS = [
    "tier",
    "partition_key",
    "status",  # done | expired
    "rows_in",
    "rows_out",
    "checksum",
    "times_updated",
    "updated_at",
]


class CheckpointStore:
    def __init__(self, path: str):
        """Each write snapshots the full manifest as a ``.gen-*`` file, so
        callers batch their rows into one ``mark_many`` per pass: one write
        per partition costs O(P²) generation bytes over P partitions.
        ``expire_snapshots`` (sources/catalog.py) prunes old generations."""
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def read(self) -> pd.DataFrame:
        if os.path.exists(self.path):
            return pd.read_parquet(self.path)
        # crash recovery: if a writer died between materializing a
        # generation snapshot and installing the new live manifest, the
        # newest generation IS the last durable state — forgetting it would
        # let 'expired' ranges rematerialize (terminal-state invariant)
        gens = self.generation_paths()
        if gens:
            return pd.read_parquet(gens[-1])
        return pd.DataFrame(columns=COLUMNS)

    def _write(self, df: pd.DataFrame) -> None:
        """Atomic replace, retaining the superseded manifest as a
        GENERATION file (``<path>.gen-<time_ns>``) — the parquet stand-in
        for Iceberg's snapshot history: every state of the lineage table
        stays auditable until an ``expire_snapshots`` pass prunes it
        (sources/catalog.py ParquetManifestBackend.expire_snapshots).

        Crash-atomic: the live manifest is LINKED (or copied) to the
        generation path and the ONLY rename is the atomic
        ``os.replace(tmp, live)`` — at every instant a live manifest
        exists. (The previous rename-then-rename left a window with no
        live file; a crash there silently emptied the lineage table.)"""
        tmp = f"{self.path}.tmp-{os.getpid()}"
        df.to_parquet(tmp, index=False)
        if os.path.exists(self.path):
            gen = f"{self.path}.gen-{time.time_ns():020d}"
            try:
                os.link(self.path, gen)
            except OSError:  # filesystem without hardlinks
                import shutil

                shutil.copy2(self.path, gen)
        os.replace(tmp, self.path)

    def generation_paths(self) -> list[str]:
        """Superseded manifest generations, oldest first."""
        import glob

        return sorted(glob.glob(f"{self.path}.gen-*"))

    def done_partitions(self, tier: str) -> set[str]:
        df = self.read()
        sel = df[(df["tier"] == tier) & (df["status"] == "done")]
        return set(sel["partition_key"].astype(str))

    def mark(
        self,
        tier: str,
        partition_key: str,
        status: str,
        rows_in: int,
        rows_out: int,
        checksum: int,
    ) -> None:
        """One-row ``mark_many``."""
        self.mark_many(
            [
                {
                    "tier": tier,
                    "partition_key": partition_key,
                    "status": status,
                    "rows_in": rows_in,
                    "rows_out": rows_out,
                    "checksum": checksum,
                }
            ]
        )

    def mark_many(self, rows: list[dict]) -> None:
        """Record many (tier, partition_key) rows in one read/rewrite; a
        row replaces that key's previous row and bumps ``times_updated``."""
        df = self.read()
        out_rows = []
        for r in rows:
            mask = (df["tier"] == r["tier"]) & (df["partition_key"] == str(r["partition_key"]))
            prev = int(df.loc[mask, "times_updated"].max()) if mask.any() else 0
            df = df[~mask]
            out_rows.append(
                {
                    "tier": r["tier"],
                    "partition_key": str(r["partition_key"]),
                    "status": r.get("status", "done"),
                    "rows_in": int(r.get("rows_in", 0)),
                    "rows_out": int(r.get("rows_out", 0)),
                    "checksum": int(r.get("checksum", 0)),
                    "times_updated": prev + 1,
                    "updated_at": time.time(),
                }
            )
        new = pd.DataFrame(out_rows)
        self._write(new if df.empty else pd.concat([df, new], ignore_index=True))

    def checksum_of(self, tier: str, partition_key: str) -> int | None:
        df = self.read()
        sel = df[
            (df["tier"] == tier)
            & (df["partition_key"] == str(partition_key))
            & (df["status"] == "done")
        ]
        return int(sel["checksum"].iloc[0]) if len(sel) else None
