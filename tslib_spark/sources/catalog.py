"""Storage backends for TierStore: the catalog seam.

TierStore's behavior (idempotent partition materialization, checksums,
retention gating) is storage-agnostic; everything that actually touches
bytes goes through a backend with four operations:

    read(spark, tier)                — DataFrame over the stored tier
                                       (the parquet backend reads with
                                       the tier's recorded schema)
    write_partitions(spark, tier, df)— dynamic-overwrite the df's
                                       part_key partitions
    drop_partition(spark, tier, pk)  — physically remove one partition
    expire_snapshots(spark, tiers, older_than_ts, retain_last)
                                     — prune superseded metadata
                                       generations / table snapshots

``ParquetManifestBackend`` is the default and the only one exercisable in
this sandbox (no Iceberg runtime jar ships here): a parquet directory per
tier with hive-style ``part_key=`` partitions, plus TierStore's own
checkpoint manifest as the metadata layer (the Iceberg-snapshot stand-in,
SURVEY §1.3).

``IcebergBackend`` is the drop-in for a configured Iceberg catalog: the
same four operations expressed as ``spark.table`` / ``writeTo(...)
.overwritePartitions()`` / ``DELETE WHERE``. Its constructor *verifies*
the catalog is actually configured and fails with instructions otherwise
— the jar's absence must be a loud error, never silently-degraded
behavior. When the jar is available, swapping backends is the only
change; no TierStore logic moves.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType


class ParquetManifestBackend:
    """Hive-partitioned parquet directories under ``<root>/tiers/<tier>``.

    ``read`` passes each tier's recorded schema to ``spark.read.schema``,
    so a read starts no schema-inference job. The schema is recorded from
    the frame ``write_partitions`` writes, or from the first (inferred)
    read of a tier this instance has not written: every field nullable,
    as a parquet scan reports it, and ``part_key`` last as a string."""

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self._schemas: dict[str, StructType] = {}

    def _record(self, tier: str, schema: StructType) -> None:
        self._schemas[tier] = StructType(
            [StructField(f.name, f.dataType, True) for f in schema if f.name != "part_key"]
            + [StructField("part_key", StringType(), True)]
        )

    def table_path(self, tier: str) -> str:
        return str(self.root / "tiers" / tier)

    def read(self, spark: SparkSession, tier: str) -> DataFrame:
        schema = self._schemas.get(tier)
        if schema is not None:
            return spark.read.schema(schema).parquet(self.table_path(tier))
        df = spark.read.parquet(self.table_path(tier))
        self._record(tier, df.schema)
        return df

    def write_partitions(self, spark: SparkSession, tier: str, df: DataFrame) -> None:
        """Dynamic partition overwrite (TierStore sets the session conf):
        only the part_key values present in ``df`` are replaced."""
        df.write.mode("overwrite").partitionBy("part_key").parquet(
            self.table_path(tier)
        )
        self._record(tier, df.schema)

    def drop_partition(self, spark: SparkSession, tier: str, part_key: str) -> None:
        part_dir = Path(self.table_path(tier)) / f"part_key={part_key}"
        if part_dir.exists():
            shutil.rmtree(part_dir)

    def expire_snapshots(
        self,
        spark: SparkSession,
        tiers: list[str],
        older_than_ts: float,
        retain_last: int = 3,
    ) -> list[str]:
        """Prune superseded checkpoint-manifest generations — this
        backend's metadata layer is the TierStore checkpoint (the
        Iceberg-snapshot stand-in), and every manifest rewrite retains its
        predecessor as ``checkpoint.parquet.gen-<time_ns>``
        (plans/lineage.py). Generations written before ``older_than_ts``
        are removed, always keeping the newest ``retain_last`` plus the
        live manifest — the exact contract of Iceberg's
        ``expire_snapshots(older_than, retain_last)``. The manifest is
        store-wide, so ``tiers`` is ignored here (one metadata tree serves
        every tier). Returns removed file names."""
        gens = sorted((self.root).glob("checkpoint.parquet.gen-*"))
        keep = set(gens[len(gens) - retain_last :]) if retain_last > 0 else set()
        removed: list[str] = []
        for p in gens:
            if p in keep:
                continue
            written_ns = int(p.name.rsplit("gen-", 1)[1])
            if written_ns / 1e9 < older_than_ts:
                p.unlink()
                removed.append(p.name)
        return removed


class IcebergBackend:
    """Iceberg-catalog tiers: ``<catalog>.<namespace>.tier_<tier>`` tables.

    Requires a configured Iceberg catalog (``spark.sql.catalog.<name>``
    set and the iceberg-spark-runtime jar on the classpath). This sandbox
    ships neither, so the constructor raising is the expected path here —
    the class documents exactly what the drop-in looks like and keeps the
    call sites honest (no pretend-Iceberg behavior behind the seam)."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str = "tslib"):
        try:
            impl = spark.conf.get(f"spark.sql.catalog.{catalog}")
        except Exception:
            impl = None
        if not impl:
            raise RuntimeError(
                f"Iceberg catalog {catalog!r} is not configured "
                f"(spark.sql.catalog.{catalog} unset). Add the "
                "iceberg-spark-runtime jar and catalog conf, or use the "
                "default ParquetManifestBackend."
            )
        self.catalog = catalog
        self.namespace = namespace

    def _table(self, tier: str) -> str:
        return f"{self.catalog}.{self.namespace}.tier_{tier}"

    def table_path(self, tier: str) -> str:
        return self._table(tier)

    def read(self, spark: SparkSession, tier: str) -> DataFrame:
        return spark.table(self._table(tier))

    def write_partitions(self, spark: SparkSession, tier: str, df: DataFrame) -> None:
        name = self._table(tier)
        if not spark.catalog.tableExists(name):
            df.writeTo(name).partitionedBy("part_key").create()
        else:
            df.writeTo(name).overwritePartitions()

    def drop_partition(self, spark: SparkSession, tier: str, part_key: str) -> None:
        # parameter marker, not interpolation: part_key is internally a
        # YYYY-MM-DD string today, but a future caller passing arbitrary
        # keys must not be able to inject into the DELETE
        spark.sql(
            f"DELETE FROM {self._table(tier)} WHERE part_key = :pk",
            args={"pk": part_key},
        )

    def expire_snapshots(
        self,
        spark: SparkSession,
        tiers: list[str],
        older_than_ts: float,
        retain_last: int = 3,
    ) -> list[str]:
        """Iceberg snapshot expiry via the catalog's stored procedure —
        one ``CALL <catalog>.system.expire_snapshots`` per tier table.
        Every interpolated piece is engine-validated, never caller text:
        the table identifier is built from this backend's own fields, the
        timestamp is formatted from a float epoch, retain_last is int()."""
        import datetime
        import zoneinfo

        # A plain TIMESTAMP literal is interpreted in the SESSION timezone —
        # formatting it in UTC on a non-UTC session would shift the cutoff
        # by the UTC offset (expiring more or less history than requested),
        # so format the epoch in the session's own zone (r6 advice).
        session_tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
        ts = datetime.datetime.fromtimestamp(
            float(older_than_ts), zoneinfo.ZoneInfo(session_tz)
        ).strftime("%Y-%m-%d %H:%M:%S")
        out: list[str] = []
        for tier in tiers:
            spark.sql(
                f"CALL {self.catalog}.system.expire_snapshots("
                f"table => '{self.namespace}.tier_{tier}', "
                f"older_than => TIMESTAMP '{ts}', "
                f"retain_last => {int(retain_last)})"
            )
            out.append(self._table(tier))
        return out
