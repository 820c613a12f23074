"""SparkSession construction with scale-appropriate defaults.

Centralizes every config that matters for the 100 TB design point so tests,
bench, and the driver contract all run the same plan shapes:

- AQE on (runtime coalescing, skew-join splitting) — head-domain skew in
  crawl data is handled by salting + AQE, per SURVEY.md §4.2.1.
- Arrow enabled + bounded ``maxRecordsPerBatch`` so grouped-kernel batches
  (applyInPandas) stay memory-safe when a hot series-group is large.
- Session timezone pinned UTC so DuckDB oracle comparisons are stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Quarter of machine RAM, clamped to [4, 32] GiB.

    In local mode the driver JVM hosts every executor thread, so its heap
    IS the cluster memory. A fixed 8g on a 128 GiB / 32-core box
    GC-thrashes once inputs grow: the 10× scale-evidence run (BENCH.md
    r5) measured the rollup→Gorilla-encode job at 137 s under 8g vs 22 s
    under 32g — same plan, pure GC. Sizing to the machine keeps the
    measured stages linear in data size; SPARK_GRAFT_DRIVER_MEM still
    overrides."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
        return f"{max(4, min(32, kb // (4 * 1024 * 1024)))}g"
    except Exception:
        return "8g"

# At 100 TB these become cluster-level knobs (spark-submit --conf); the values
# here are the local[32] test shape. shuffle.partitions ~ cores locally; on a
# real cluster AQE coalesces from a high initial count, so we set the initial
# partition number high and let AQE shrink.
_BASE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    # Pinned, not assumed: the state-chunk codec's overflow fail-fast
    # (statechunks.py — scaled-sum long cast must RAISE, never wrap/NULL)
    # relies on ANSI semantics. Spark 4 defaults to true, but a session
    # built elsewhere with ansi=false would turn tier overflow into silent
    # NULL → INT64_MIN corruption.
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Join strategy (guide §3.1/§9): size estimates after aggregates/UDFs
    # are routinely wrong, so the 10 MB broadcast default strands
    # broadcastable dimension/vector sides into sort-merge joins (measured:
    # the 11 MB embedding side of the near-dup verify join). 64 MB is safe
    # for executors with GBs of memory — a cluster-level knob, same value
    # locally and at scale. preferSortMergeJoin=false lets the planner use
    # shuffled-hash when its size checks pass (no sort of either side).
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # applyInPandas groups must arrive whole; this caps per-batch memory only
    # for mapInPandas/scalar pandas UDFs.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
    "spark.ui.enabled": "false",
    # The recording harness keeps only the tail of bench.py's stdout; the
    # r5 official artifact was 100% console-progress bars (BENCH_r05.json
    # tail). Nothing but the one contract line may reach stdout.
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(
    app_name: str = "tslib_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the two-parallelism scaling bench can run the same code at local[8] and
    local[32].
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

