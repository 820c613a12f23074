"""Measurement helpers shared by the workloads: percentiles with their
sample count, metric-name checks, span recording, process-tree RSS
sampling and the environment record.

Nothing here imports Spark, so the self-tests run without a JVM.
"""

from __future__ import annotations

import math
import os
import platform
import re
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
_UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def check_metric_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name, else raise ValueError.

    A name starts with a letter or digit and holds at most 64 letters,
    digits, ``_``, ``.`` and ``-``."""
    if not isinstance(name, str) or not _NAME_RE.fullmatch(name):
        raise ValueError(f"invalid metric name: {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not isinstance(unit, str) or not _UNIT_RE.fullmatch(unit):
        raise ValueError(f"invalid metric unit: {unit!r}")
    return unit


def summarize(samples: list[float]) -> dict:
    """Median plus the highest percentile the sample count supports.

    The reported tail is the largest of p90/p99/p999 that still has at
    least ten samples beyond it (p90 needs 100 samples); with fewer samples
    only the median and the max are given. The count is always stated."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    xs = sorted(samples)
    out = {"n": n, "median": statistics.median(xs), "max": xs[-1]}
    for label, q in (("p999", 0.999), ("p99", 0.99), ("p90", 0.9)):
        if n * (1 - q) >= 10 - 1e-9:
            # nearest-rank percentile
            out[label] = xs[min(n - 1, math.ceil(q * n) - 1)]
            out["tail"] = label
            break
    return out


class Tracer:
    """In-memory spans (name, start, end, parent) recorded around calls
    into the program. Disabled tracers cost one attribute check per span.

    With ``spark`` given, every span also tags the Spark jobs it starts
    with ``setJobGroup(<workload>/<span name>)`` so the event log can be
    split per span."""

    def __init__(self, workload: str, enabled: bool, spark=None):
        self.workload = workload
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        group = f"{self.workload}/{name}"
        rec = {"name": name, "group": group, "parent": parent, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(group, group)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    outer = self.spans[parent]["group"]
                    sc.setJobGroup(outer, outer)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


class Ops:
    """Closed-loop operation runner: times each call into the program,
    counts attempted and failed-or-wrong operations, and groups the op
    times of one pass so a pass time is the sum of its ops."""

    def __init__(self, tracer: Tracer, log=None):
        self.tracer = tracer
        self.log = log
        self.attempted = 0
        self.failed: set[tuple[int, str]] = set()
        self.op_times: dict[str, list[float]] = {}
        self.pass_times: list[float] = []
        self._pass: dict[str, float] | None = None

    def begin_pass(self) -> None:
        self._pass = {}

    def end_pass(self) -> float:
        total = sum(self._pass.values())
        self.pass_times.append(total)
        self._pass = None
        return total

    def _fail(self, name: str, why: str) -> None:
        self.failed.add((len(self.pass_times), name))
        if self.log is not None:
            print(f"perfbench: {name} failed: {why}", file=self.log, flush=True)

    def run(self, name: str, fn, check=None):
        """Time ``fn()`` under a span; ``check(result)`` False marks the op
        wrong. An exception marks it failed and returns None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn()
        except Exception as ex:  # the loop must keep running; report it
            import traceback

            self._fail(name, "".join(traceback.format_exception(ex))[-2000:])
            return None
        dt = time.perf_counter() - t0
        self.op_times.setdefault(name, []).append(dt)
        self._pass[name] = self._pass.get(name, 0.0) + dt
        if check is not None:
            try:
                ok = check(out)
            except Exception as ex:  # a broken reference is a failed check
                ok = False
                out = ex
            if not ok:
                self._fail(name, f"wrong result {out!r:.200}")
        return out

    def check(self, name: str, ok: bool) -> None:
        """An untimed correctness gate on an op already counted."""
        if not ok:
            self._fail(name, "correctness gate")

    def verify(self, name: str, ok: bool) -> None:
        """A stand-alone correctness check, counted as one operation."""
        self.attempted += 1
        self.check(name, ok)

    @property
    def n_failed(self) -> int:
        return len(self.failed)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid`` (the JVM and its Python workers)."""
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Background thread sampling the summed RSS of this process and all
    its descendants (driver, JVM, Python workers); keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def environment(spark) -> dict:
    """What the numbers depend on: cores, memory settings, versions."""
    import pyarrow
    import pyspark

    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
        java = next(ln for ln in out.stderr.splitlines() if " version " in ln)
    except (OSError, subprocess.SubprocessError, StopIteration):
        java = "unknown"
    conf = spark.sparkContext.getConf()
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "driver_memory": conf.get("spark.driver.memory", "unset"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "java": java,
    }
