"""Event-log parser on a small recorded log.

``data/tiny_eventlog.jsonl`` was recorded from a local[4] session running
``TierStore.materialize`` for the minute tier (span ``materialize``) and
the hour tier (span ``materialize_hour``), then ``verify_tier_parity``
(span ``parity``), each span tagging its jobs with ``setJobGroup``. Fields
the parser does not read were dropped and paths rewritten.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import eventlog  # noqa: E402
from crawl import full_minute_decode  # noqa: E402

LOG = os.path.join(HERE, "data", "tiny_eventlog.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.read(LOG)


def test_jobs_stages_and_sql_executions(log):
    assert len(log.jobs) == 28
    assert len(log.stages) == 28
    assert len(log.sql) == 9
    assert all(j.succeeded for j in log.jobs)


def test_aggregate_per_job_group(log):
    per = eventlog.aggregate(log, "group")
    assert set(per) == {None, "wl/materialize", "wl/materialize_hour", "wl/parity"}
    assert {g: a["jobs"] for g, a in per.items()} == {
        None: 1,
        "wl/materialize": 11,
        "wl/materialize_hour": 9,
        "wl/parity": 7,
    }
    parity = per["wl/parity"]
    assert parity["tasks"] == 13
    assert parity["shuffle_write_bytes"] == parity["shuffle_read_bytes"] == 32137
    assert parity["python_bytes_sent"] == 33104
    assert parity["output_bytes"] == 0
    assert parity["task_skew"] == pytest.approx(2.0)


def test_total_over_groups_sums_counters_and_maxes_skew(log):
    tot = eventlog.total(log, {"wl/materialize", "wl/parity"})
    assert tot["jobs"] == 18
    assert tot["tasks"] == 23 + 13
    assert tot["task_skew"] == pytest.approx(2.0)
    assert eventlog.total(log)["jobs"] == 28


def test_aggregate_per_call_site(log):
    per = eventlog.aggregate(log, "callsite")
    assert per["collect at /src/tslib_spark/operators/retention.py:145"]["jobs"] == 9
    assert per["collect at /src/tslib_spark/operators/retention.py:164"]["jobs"] == 4


def test_callsite_line():
    assert eventlog.callsite_line("collect at /a/b/retention.py:145") == ("retention.py", 145)
    assert eventlog.callsite_line("parquet at NativeMethodAccessorImpl.java:0") == (
        "NativeMethodAccessorImpl.java",
        0,
    )
    assert eventlog.callsite_line("") is None


def test_jobs_at_call_site_lines(log):
    assert eventlog.jobs_at(log, "retention.py", range(140, 150)) == 9
    assert eventlog.jobs_at(log, "retention.py", range(140, 150), groups={"wl/parity"}) == 5
    assert eventlog.jobs_at(log, "catalog.py", range(0, 1000)) == 0


def test_driver_metrics_count_written_files(log):
    assert eventlog.driver_metric(log, "number of written files") == 20
    assert eventlog.driver_metric(log, "number of written files", {"wl/parity"}) == 0


def test_full_minute_tier_decodes(log):
    # the hour tier's distinct-partition collect and its write each decode
    # the whole minute tier, and so does the parity recompute; the minute
    # tier's own landed-bytes checksum reads only the partitions it wrote
    assert eventlog.executions_matching(log, full_minute_decode) == 3
    assert eventlog.executions_matching(log, full_minute_decode, {"wl/parity"}) == 1
    any_decode = eventlog.executions_matching(log, lambda plans: any("_decode(" in p for p in plans))
    assert any_decode == 4
