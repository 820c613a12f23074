"""spark-submit entrypoint: the full rollup→gap-fill→downsample→retention job.

Cluster launch (north rule):

    cd /path/to/repo && zip -r /tmp/tslib_spark.zip tslib_spark
    spark-submit --py-files /tmp/tslib_spark.zip scripts/run_pipeline.py \
        --pages /data/pages_parquet --store /data/tier_store \
        --retain-days 14

Local smoke (what the sandbox runs):

    python scripts/run_pipeline.py --pages /tmp/tslib_spark_bench_pages \
        --store /tmp/tier_store_run --synthesize 200000

The job: read pages → byte-identity text extraction audit → 1-minute
rollup → materialize 1m/1h/1d/1w tiers (checkpointed, resumable) →
Gorilla-compress the minute tier → verify tier parity → retention pass.
Exit code 0 only if every stage (incl. the identity audit and parity
gate) holds. The JSON report gives each stage's wall seconds in
``stage_secs``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, ".")  # repo-root invocation; --py-files covers cluster mode

from pyspark.sql import SparkSession, functions as F  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--store", required=True)
    ap.add_argument("--retain-days", type=int, default=0, help="expire minute partitions older than this many days from the max; 0 = no retention")
    ap.add_argument("--retain-hour-days", type=int, default=0, help="expire hour-tier partitions older than this many days from the max; 0 = keep")
    ap.add_argument("--retain-day-weeks", type=int, default=0, help="expire day-tier (week-partitioned) partitions older than this many weeks from the max; 0 = keep")
    ap.add_argument("--synthesize", type=int, default=0, help="generate N synthetic events at --pages first")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from tslib_spark.operators.retention import TierStore
    from tslib_spark.operators.rollup import rollup_pages
    from tslib_spark.session import get_spark
    from tslib_spark.sources.extract import extract_text, verify_text_identity
    from tslib_spark.sources.readers import read_pages

    spark: SparkSession = get_spark("tslib_spark-pipeline", master=args.master)
    t0 = time.time()
    report: dict = {"stage_secs": {}}

    @contextmanager
    def stage(name: str):
        start = time.time()
        yield
        report["stage_secs"][name] = round(time.time() - start, 2)

    if args.synthesize:
        from tslib_spark.datagen.crawl import generate_pages

        with stage("synthesize"):
            pages_df = generate_pages(spark, n_events=args.synthesize)
            pages_df.write.mode("overwrite").parquet(args.pages)

    pages = read_pages(spark, args.pages)

    # 1. byte-identity audit
    with stage("text_identity"):
        bad = verify_text_identity(extract_text(pages)).count()
    report["text_identity_violations"] = bad
    if bad:
        print(json.dumps({"status": "failed", "stage": "text_identity", **report}))
        return 2

    # 2. rollup + tier materialization (checkpointed, resumable); the
    # minute tier is STORED Gorilla-compressed (state chunks) — the north
    # star's "raw 1-minute buckets compressed with Gorilla ... inside
    # Arrow-backed binary columns" — and decodes transparently for the
    # tier chain, parity gate, and retention below
    store = TierStore(spark, args.store, ["url", "lang"], compressed_tiers={"minute"})
    minute = rollup_pages(pages)
    with stage("materialize_chain"):
        written = store.materialize_chain(minute)
    report["partitions_written"] = {k: len(v) for k, v in written.items()}
    with stage("minute_readback"):
        report["minute_rows"] = store.read_tier("minute").count()

    # 3. compression accounting from the stored chunk blobs
    with stage("compression_stats"):
        chunks = spark.read.parquet(store.tier_path("minute"))
        blob_cols = ["ts_blob", "cnt_blob", "sum_blob", "min_blob", "max_blob"]
        stats = chunks.select(
            F.sum("n_points").alias("pts"),
            F.sum(sum(F.length(c) for c in blob_cols)).alias("bytes"),
        ).collect()[0]
    report["compression_ratio"] = round(stats["pts"] * 40 / stats["bytes"], 2)

    # 4. parity gate + retention
    with stage("parity"):
        report["parity_minute_hour"] = store.verify_tier_parity("minute", "hour")
    if not report["parity_minute_hour"]:
        print(json.dumps({"status": "failed", "stage": "parity", **report}))
        return 3
    # fine-to-coarse expiry order; every pass re-verifies (or integrity-
    # checks) the covering tier before deleting — see retention_pass
    for tier, keep in (
        ("minute", args.retain_days),
        ("hour", args.retain_hour_days),
        ("day", args.retain_day_weeks),
    ):
        if not keep:
            continue
        done = sorted(store.checkpoint.done_partitions(tier))
        if len(done) > keep:
            cutoff = done[-keep]
            with stage(f"retention_{tier}"):
                report[f"expired_{tier}_partitions"] = len(store.retention_pass(tier, cutoff))

    report["status"] = "ok"
    report["wall_secs"] = round(time.time() - t0, 1)
    print(json.dumps(report))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
