"""``crawl_pipeline``: the BASELINE path, crawl pages -> identity audit ->
1-minute rollup -> ``TierStore.materialize_chain`` (minute tier
Gorilla-compressed) -> tier parity -> retention on minute and hour, into a
cold store every pass.

The input is a sparse Zipf crawl (many urls, few points per url-day), so
per-chunk codec cost, checksum jobs and manifest rewrites dominate.
"""

from __future__ import annotations

import inspect
import os
import shutil

import numpy as np

from pyspark.sql import Window
from pyspark.sql import functions as F

import eventlog
import storage
from tslib_spark.codec.statechunks import decode_state_chunks, encode_state_chunks
from tslib_spark.datagen.crawl import generate_pages
from tslib_spark.kernels.svd_kernel import ModelConfig, fit_transform, forecast
from tslib_spark.operators.downsample import downsample, tier_chain, tier_state_checksum
from tslib_spark.operators.gapfill import densify_grid
from tslib_spark.operators.retention import TierStore
from tslib_spark.operators.rollup import rollup_pages
from tslib_spark.sources.extract import extract_text, verify_text_identity
from tslib_spark.sources.readers import read_pages

KEYS = ["url", "lang"]
N_EVENTS = 10_000
N_URLS = 1_000
DAYS = 8
KEEP_MINUTE_DAYS = 4
KEEP_HOUR_DAYS = 6
# HSVT shape for the traced kernel layer: 8 x 12 hourly page matrix
KERNEL_N, KERNEL_M, KERNEL_K = 8, 12, 3
KERNEL_CHECKED_GROUPS = 3
# tolerances of tests/test_svd_kernel.py
IMPUTE_ATOL, FORECAST_ATOL = 1e-8, 1e-6


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def full_minute_decode(plans: list[str]) -> bool:
    """A plan that runs the state-chunk decoder over the whole minute tier
    (its minute-tier scan carries no partition filter)."""
    for plan in plans:
        if "_decode(" not in plan:
            continue
        # formatted plans describe each node in its own blank-line block
        for block in plan.split("\n\n"):
            if "Scan parquet" not in block or "tiers/minute]" not in block:
                continue
            filters = [ln for ln in block.splitlines() if ln.startswith("PartitionFilters:")]
            if not filters or filters[0].strip() == "PartitionFilters: []":
                return True
    return False


def hsvt_reference(values: np.ndarray, n: int, m: int, k: int, train_end: int):
    """Independent numpy HSVT for one target-only series (NaN = missing):
    middle-value fill, n x m page matrix, rank-k SVD reconstruction, the
    least-squares weights on the first n-1 rows, and the rolling one-step
    forecast from realized values. Returns (imputed, forecast)."""
    mid = 0.5 * (np.nanmax(values) + np.nanmin(values))
    filled = np.where(np.isnan(values), mid, values)
    mat = filled.reshape(m, n).T
    u, s, vt = np.linalg.svd(mat, full_matrices=False)
    denoised = (u[:, :k] * s[:k]) @ vt[:k]
    weights = np.linalg.pinv(denoised[: n - 1]).T @ mat[-1]
    predicted = [filled[i - (n - 1) : i] @ weights for i in range(train_end, len(values))]
    return denoised.flatten("F"), np.array(predicted)


class CrawlPipeline:
    name = "crawl_pipeline"
    # a cold first pass varies ~17% run to run (JIT, codegen and Python
    # worker start-up), a warm one a few percent
    warmup_passes = 1

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.pages_path = os.path.join(work, "pages")
        self.n_points = 0
        self.ref_week = None
        self.counters: dict = {}

    # ---------------- set-up ----------------
    def setup(self) -> None:
        generate_pages(
            self.spark,
            n_events=N_EVENTS,
            n_urls=N_URLS,
            n_minutes=DAYS * 1440,
            seed=self.seed,
        ).write.mode("overwrite").parquet(self.pages_path)

    def reference(self) -> None:
        """Expected values, computed once from the pages with the
        in-memory tier chain (no TierStore, no codec)."""
        minute = rollup_pages(read_pages(self.spark, self.pages_path))
        self.n_points = minute.count()
        self.ref_week = tier_state_checksum(tier_chain(minute, KEYS)["week"], KEYS)

    def items(self) -> int:
        return self.n_points

    # ---------------- one pass ----------------
    def _install_wrappers(self, store: TierStore) -> None:
        """Spans around each tier's materialize and counters on every
        manifest write, by wrapping the store's public methods."""
        tracer = self.tracer
        materialize = store.materialize

        def traced_materialize(tier, source):
            with tracer.span(f"materialize_{tier}"):
                return materialize(tier, source)

        store.materialize = traced_materialize
        cp = store.checkpoint
        self.counters.update(manifest_writes=0, manifest_bytes_written=0)

        def counted(fn):
            def inner(*a, **kw):
                out = fn(*a, **kw)
                self.counters["manifest_writes"] += 1
                self.counters["manifest_bytes_written"] += os.path.getsize(cp.path)
                return out

            return inner

        cp.mark = counted(cp.mark)
        cp.mark_many = counted(cp.mark_many)

    def run_pass(self, ops) -> None:
        """One cold-store pipeline pass; ``ops.run(name, fn, check)`` times
        each step and counts it."""
        root = os.path.join(self.work, "store")
        shutil.rmtree(root, ignore_errors=True)
        pages = read_pages(self.spark, self.pages_path)
        store = TierStore(self.spark, root, KEYS, compressed_tiers={"minute"})
        if self.tracer.enabled:
            self._install_wrappers(store)

        ops.run(
            "audit",
            lambda: verify_text_identity(extract_text(pages)).count(),
            lambda bad: bad == 0,
        )
        ops.run("materialize", lambda: store.materialize_chain(rollup_pages(pages)), None)
        # between steps, untimed: compressed minute-tier shape on disk
        chunks = storage.chunk_counters(store.tier_path("minute"))
        tiers = storage.tier_counters(root)
        self.counters.update(
            chunks=chunks["chunks"],
            points_per_chunk=chunks["points_per_chunk"],
            minute_bytes_per_point=tiers.get("minute", {"bytes": 0})["bytes"] / max(chunks["points"], 1),
        )
        ops.check("materialize", chunks["points"] == self.n_points)
        ops.run("parity", lambda: store.verify_tier_parity("minute", "hour"), lambda ok: ok is True)
        for tier, keep in (("minute", KEEP_MINUTE_DAYS), ("hour", KEEP_HOUR_DAYS)):
            done = sorted(store.checkpoint.done_partitions(tier))
            want = max(len(done) - keep, 0)
            ops.run(
                f"retention_{tier}",
                lambda: store.retention_pass(tier, done[-keep]),
                lambda expired, want=want: len(expired) == want,
            )
        self.counters.update(storage.manifest_counters(root))
        self.counters["tiers"] = storage.tier_counters(root)
        ops.check(
            "materialize",
            tier_state_checksum(store.read_tier("week"), KEYS) == self.ref_week,
        )
        shutil.rmtree(root, ignore_errors=True)

    # ---------------- traced run: layers forced one by one ----------------
    def force_layers(self, ops) -> dict:
        """Force each lazily evaluated layer once with a ``noop`` sink over
        a persisted input, so each time is the layer's own."""
        t = self.tracer
        span, out = t.span, {}
        pages = read_pages(self.spark, self.pages_path).persist()
        pages.count()
        with span("layer_rollup"):
            _noop(rollup_pages(pages))
        minute = rollup_pages(pages).persist()
        out["rollup_rows"] = minute.count()
        prev = minute
        persisted = [pages, minute]
        for tier in ("hour", "day", "week"):
            with span(f"layer_downsample_{tier}"):
                _noop(downsample(prev, tier, KEYS))
            prev = downsample(prev, tier, KEYS).persist()
            prev.count()
            persisted.append(prev)
            if tier == "hour":
                hour = prev
        with span("layer_encode"):
            _noop(encode_state_chunks(minute, KEYS))
        chunks = encode_state_chunks(minute, KEYS).persist()
        chunks.count()
        persisted.append(chunks)
        with span("layer_decode"):
            _noop(decode_state_chunks(chunks, KEYS))

        state = ["cnt", "val_sum", "val_min", "val_max"]
        with span("layer_densify"):
            _noop(densify_grid(hour, KEYS, "bucket_ts", step="1 hour", value_cols=state))
        dense = densify_grid(hour, KEYS, "bucket_ts", step="1 hour", value_cols=state).persist()
        out["densify_rows_in"] = hour.count()
        out["densify_rows_out"] = dense.count()
        persisted.append(dense)

        n_pts = KERNEL_N * KERNEL_M
        w = Window.partitionBy(*KEYS).orderBy("bucket_ts")
        tidy = dense.select(
            F.concat_ws("|", *KEYS).alias("group_id"),
            F.lit("activity").alias("series_key"),
            (F.row_number().over(w) - 1).cast("long").alias("bucket_idx"),
            F.col("cnt").cast("double").alias("value"),
        ).filter(F.col("bucket_idx") < n_pts)
        full = tidy.groupBy("group_id").count().filter(F.col("count") >= n_pts).select("group_id")
        tidy = tidy.join(full, "group_id").persist()
        out["kernel_groups"] = tidy.select("group_id").distinct().count()
        persisted.append(tidy)
        cfg = ModelConfig(target_key="activity", N=KERNEL_N, M=KERNEL_M, k=KERNEL_K)
        train_end = KERNEL_N * (KERNEL_M - 2)
        with span("layer_fit"):
            fit = fit_transform(tidy, cfg).persist()
            fit.count()
        with span("layer_forecast"):
            _noop(forecast(tidy, fit.filter("kind = 'weight'"), cfg, train_end_idx=train_end))
        persisted.append(fit)
        self._check_kernels(ops, tidy, fit, cfg, train_end)
        for df in persisted:
            df.unpersist()
        out.update({name: t.total(name) for name in {s["name"] for s in t.spans if s["name"].startswith("layer_")}})
        return out


    def _check_kernels(self, ops, tidy, fit, cfg, train_end: int) -> None:
        """Sampled groups' imputation and forecast against the numpy
        reference, within the kernel tests' tolerances. The sample is the
        most-observed groups: a mostly-missing series fills to a rank-1
        page matrix whose forecast weights are numerically ill-posed."""
        groups = [
            r[0]
            for r in tidy.groupBy("group_id").agg(F.count("value").alias("obs"))
            .orderBy(F.desc("obs"), "group_id").limit(KERNEL_CHECKED_GROUPS).collect()
        ]
        sample = F.col("group_id").isin(groups)
        series = tidy.filter(sample).toPandas()
        fitted = fit.filter(sample & (F.col("kind") == "imputed")).toPandas()
        fc = forecast(
            tidy.filter(sample), fit.filter(sample & (F.col("kind") == "weight")), cfg,
            train_end_idx=train_end,
        ).toPandas()
        for g in groups:
            values = series[series.group_id == g].sort_values("bucket_idx")["value"].to_numpy(dtype=float)
            imputed, predicted = hsvt_reference(values, cfg.N, cfg.M, cfg.k, train_end)
            got_imp = fitted[fitted.group_id == g].sort_values("idx")["value"].to_numpy()
            got_fc = fc[fc.group_id == g].sort_values("idx")["forecast"].to_numpy()
            ops.verify(
                f"kernel_reference[{g}]",
                got_imp.shape == imputed.shape
                and np.allclose(got_imp, imputed, rtol=0, atol=IMPUTE_ATOL)
                and got_fc.shape == predicted.shape
                and np.allclose(got_fc, predicted, rtol=0, atol=FORECAST_ATOL),
            )


    def layer_metrics(self, log, pass_groups: set, per_group: dict, forced: dict) -> dict:
        """This workload's per-layer metrics from the traced pass (spans,
        event log, storage counters) and the forced layers."""
        t, c = self.tracer, self.counters
        empty = eventlog.total(log, set())

        def grp(span):
            return per_group.get(f"{self.name}/{span}", empty)

        files = sum(v["files"] for v in c["tiers"].values())
        parts = sum(v["partitions"] for v in c["tiers"].values())
        ck_file, ck_lines = checksum_lines()
        m = {
            "sources.audit_s": t.total("audit"),
            "catalog.files_per_partition": files / parts if parts else 0.0,
            "rollup.s": forced["layer_rollup"],
            "rollup.shuffle_write_bytes": grp("layer_rollup")["shuffle_write_bytes"],
            "rollup.rows_out": forced["rollup_rows"],
            "codec.encode_s": forced["layer_encode"],
            "codec.decode_s": forced["layer_decode"],
            "codec.chunks": c["chunks"],
            "codec.points_per_chunk": c["points_per_chunk"],
            "codec.decode_points_per_s": forced["rollup_rows"] / forced["layer_decode"],
            "codec.full_decodes": eventlog.executions_matching(log, full_minute_decode, pass_groups),
            "codec.bytes_per_point": c["minute_bytes_per_point"],
            "retention.parity_s": t.total("parity"),
            "retention.expire_s": t.total("retention_minute") + t.total("retention_hour"),
            "retention.jobs": eventlog.total(log, pass_groups - {f"{self.name}/audit"})["jobs"],
            "retention.checksum_jobs": eventlog.jobs_at(log, ck_file, ck_lines, pass_groups),
            "lineage.manifest_writes": c["manifest_writes"],
            "lineage.manifest_bytes_written": c["manifest_bytes_written"],
            "lineage.generations": c["generations"],
            "gapfill.densify_s": forced["layer_densify"],
            "gapfill.rows_out_per_row_in": forced["densify_rows_out"] / max(forced["densify_rows_in"], 1),
            "kernels.fit_s": forced["layer_fit"],
            "kernels.forecast_s": forced["layer_forecast"],
            "kernels.groups": forced["kernel_groups"],
            "kernels.python_bytes_sent": grp("layer_fit")["python_bytes_sent"]
            + grp("layer_forecast")["python_bytes_sent"],
        }
        for tier in ("hour", "day", "week"):
            m[f"downsample.{tier}_s"] = forced[f"layer_downsample_{tier}"]
        for tier in ("minute", "hour", "day", "week"):
            m[f"retention.materialize_{tier}_s"] = t.total(f"materialize_{tier}")
        return m


def checksum_lines() -> tuple[str, range]:
    """Source lines of ``TierStore._partition_checksums``: jobs whose call
    site falls inside are the checksum collects."""
    src, start = inspect.getsourcelines(TierStore._partition_checksums)
    path = inspect.getsourcefile(TierStore)
    return os.path.basename(path), range(start, start + len(src))

