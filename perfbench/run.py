"""The repository benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload crawl_pipeline --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout (any working directory works: paths are
resolved from this file). Starts one SparkSession on ``local[4]``, sets up
the workload's seeded input several times, runs the workload's untimed
warm-up passes, then closed-loop passes (one client) until ``--seconds``
have elapsed, at least one. Every pass is checked against a reference
computed at set-up.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}`` —
the end-to-end metrics with ``--trace 0``; with ``--trace 1`` the per-layer
metrics of one traced pass (Spark event log, job groups, spans, and each
lazy layer forced once). The line before it is a detailed report
(percentiles with sample counts, environment, per-job-group and per-call-
site Spark aggregates). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[4]"
SETUP_REPS = 3

WORKLOADS = ("crawl_pipeline", "corpus_queries")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "items_per_s": "1/s",
}

CORPUS_LAYER = {f"corpus.{q}_s": "s" for q in (
    "corpus_prepare_full",
    "cosine_near_dup",
    "minhash_near_dup",
    "embedding_dup_clusters",
    "knn_graph",
    "doc_components",
    "substring_dups",
    "contamination",
)}
# per-layer name -> (unit, counter of eventlog.aggregate)
SPARK_LAYER = {
    "spark.jobs": ("count", "jobs"),
    "spark.stages": ("count", "stages"),
    "spark.tasks": ("count", "tasks"),
    "spark.shuffle_read_bytes": ("bytes", "shuffle_read_bytes"),
    "spark.shuffle_write_bytes": ("bytes", "shuffle_write_bytes"),
    "spark.spill_bytes": ("bytes", "spill_bytes"),
    "spark.gc_s": ("s", "gc_s"),
    "spark.executor_cpu_s": ("s", "cpu_s"),
    "spark.executor_run_s": ("s", "run_s"),
    "spark.task_skew": ("ratio", "task_skew"),
}
PER_LAYER = {
    "sources.audit_s": "s",
    "sources.scan_bytes": "bytes",
    "catalog.files_written": "count",
    "catalog.bytes_written": "bytes",
    "catalog.files_per_partition": "count",
    "rollup.s": "s",
    "rollup.shuffle_write_bytes": "bytes",
    "rollup.rows_out": "count",
    "downsample.hour_s": "s",
    "downsample.day_s": "s",
    "downsample.week_s": "s",
    "codec.encode_s": "s",
    "codec.decode_s": "s",
    "codec.chunks": "count",
    "codec.points_per_chunk": "count",
    "codec.decode_points_per_s": "1/s",
    "codec.full_decodes": "count",
    "codec.bytes_per_point": "bytes",
    "retention.materialize_minute_s": "s",
    "retention.materialize_hour_s": "s",
    "retention.materialize_day_s": "s",
    "retention.materialize_week_s": "s",
    "retention.parity_s": "s",
    "retention.expire_s": "s",
    "retention.jobs": "count",
    "retention.checksum_jobs": "count",
    "lineage.manifest_writes": "count",
    "lineage.manifest_bytes_written": "bytes",
    "lineage.generations": "count",
    "gapfill.densify_s": "s",
    "gapfill.rows_out_per_row_in": "ratio",
    "kernels.fit_s": "s",
    "kernels.forecast_s": "s",
    "kernels.groups": "count",
    "kernels.python_bytes_sent": "bytes",
    **CORPUS_LAYER,
    **{k: unit for k, (unit, _) in SPARK_LAYER.items()},
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait for it and every process
    it started (the Python workers) to exit."""
    from harness import descendants
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    _wait_gone(started)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_gone(pids: list[int]) -> None:
    """Wait up to 20 s for the processes to exit, then kill the rest."""
    deadline = time.monotonic() + 20
    while any(map(_alive, pids)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(_alive, pids):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(map(_alive, pids)) and time.monotonic() < deadline:
        time.sleep(0.1)


def layer_metrics(wl, tracer, log, plain_pass_s: float, traced_pass_s: float, forced: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the traced run, zero where the workload does
    not exercise a layer; plus per-group / per-call-site detail."""
    import eventlog

    pass_groups = {s["group"] for s in tracer.spans if not s["name"].startswith("layer_")}
    per_group = eventlog.aggregate(log, "group")
    tot = eventlog.total(log, pass_groups)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["sources.scan_bytes"] = tot["input_bytes"]
    m["catalog.files_written"] = eventlog.driver_metric(log, "number of written files", pass_groups)
    m["catalog.bytes_written"] = eventlog.driver_metric(log, "written output", pass_groups)
    for k, (_, counter) in SPARK_LAYER.items():
        m[k] = tot[counter]
    m["trace.pass_s"] = traced_pass_s
    m["trace.overhead_s"] = traced_pass_s - plain_pass_s
    own = wl.layer_metrics(log, pass_groups, per_group, forced)
    unknown = set(own) - set(PER_LAYER)
    if unknown:
        raise ValueError(f"undeclared per-layer metrics: {sorted(unknown)}")
    m.update(own)

    callsites = eventlog.aggregate(log, "callsite")
    detail = {
        "per_group": per_group,
        "top_callsites": dict(
            sorted(callsites.items(), key=lambda kv: -kv[1]["wall_s"])[:25]
        ),
        "spans": tracer.spans,
    }
    return m, detail


def run(args, work: str) -> tuple[dict, dict]:
    from harness import Ops, RssSampler, Tracer, check_metric_name, check_unit, environment, summarize
    from tslib_spark.session import get_spark

    report: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=MASTER, extra_conf=_spark_conf(work, bool(args.trace)))
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(args.workload, enabled=False, spark=spark)
            if args.workload == "crawl_pipeline":
                from crawl import CrawlPipeline

                wl = CrawlPipeline(spark, work, args.seed, tracer)
            else:
                from corpus import CorpusQueries

                wl = CorpusQueries(spark, work, args.seed, tracer, ROOT)

            setup_reps = []
            for _ in range(SETUP_REPS):
                t = time.perf_counter()
                wl.setup()
                setup_reps.append(time.perf_counter() - t)
            t = time.perf_counter()
            wl.reference()
            report["reference_s"] = time.perf_counter() - t

            def one_pass(runner) -> float:
                runner.begin_pass()
                wl.run_pass(runner)
                return runner.end_pass()

            # untimed warm-up passes (JIT, codegen, Python workers), then
            # the measured closed loop
            warm = Ops(tracer, log=sys.stderr)
            report["warmup_s"] = [one_pass(warm) for _ in range(wl.warmup_passes)]
            ops = Ops(tracer, log=sys.stderr)
            runners = [warm, ops]
            deadline = time.perf_counter() + args.seconds
            while True:
                one_pass(ops)
                if time.perf_counter() >= deadline:
                    break

            if args.trace:
                # overhead baseline: an untraced pass as warm as the traced
                # one; the measured passes serve when a warm-up preceded them
                if wl.warmup_passes:
                    plain_pass_s = statistics.median(ops.pass_times)
                else:
                    runners.append(Ops(tracer, log=sys.stderr))
                    plain_pass_s = one_pass(runners[-1])
                tracer.enabled = True
                runners.append(Ops(tracer, log=sys.stderr))
                traced_pass_s = one_pass(runners[-1])
                forced = wl.force_layers(runners[-1])
            report["environment"] = environment(spark)
        finally:
            _stop_spark(spark)
    attempted = sum(r.attempted for r in runners)
    failed = sum(r.n_failed for r in runners)

    pass_s = statistics.median(ops.pass_times)
    report.update(
        {
            "session_start_s": session_s,
            "setup_reps_s": setup_reps,
            "pass_s": summarize(ops.pass_times),
            "op_s": {k: summarize(v) for k, v in ops.op_times.items()},
            "failed_op_frac": failed / attempted,
            "peak_rss_mb": rss.peak_bytes / 2**20,
            "failed_ops": [sorted(r.failed) for r in runners],
            "counters": wl.counters,
        }
    )
    if args.trace:
        import eventlog

        log_dir = os.path.join(work, "eventlog")
        (log_file,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        log = eventlog.read(log_file)
        metrics, detail = layer_metrics(wl, tracer, log, plain_pass_s, traced_pass_s, forced)
        units = PER_LAYER
        report["trace_detail"] = detail
    else:
        metrics = {
            "setup_s": session_s + statistics.median(setup_reps),
            "pass_s": pass_s,
            "items_per_s": statistics.median(wl.items() / p for p in ops.pass_times),
        }
        units = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            check_metric_name(k): {"value": float(metrics[k]), "unit": check_unit(u)}
            for k, u in units.items()
        },
    }
    return report, result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tslib_spark", "__init__.py")):
        print(f"perfbench: no tslib_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (launcher and driver) keeps its temp files in the work dir
    # and writes no hsperfdata under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    sys.path[:0] = [ROOT, HERE]
    try:
        report, result = run(args, work)
    finally:
        from harness import descendants

        _wait_gone(descendants(os.getpid()))
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
