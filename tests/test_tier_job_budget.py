"""Job budget of one TierStore pass on a small compressed store.

At this scale a Spark job costs about 0.1-0.2 s whatever it does, so a
pass's job count sets its time. Each step of the pipeline pass runs in
its own job group and the jobs the group started are counted through
the status tracker. The ceilings are the current counts: a change that
adds a job to a step (a schema-inference scan per read, a part-key
``distinct`` per materialization, a second checksum collect per parity
gate, a dictionary join in the encode) fails here."""

from __future__ import annotations

import itertools

import pytest

from tslib_spark.datagen.crawl import generate_pages
from tslib_spark.operators.downsample import downsample
from tslib_spark.operators.retention import TierStore
from tslib_spark.operators.rollup import rollup_pages

KEYS = ["url", "lang"]

# jobs per step of one pass over a cold store; with adaptive execution
# every exchange is a job of its own. A materialization is its write plus
# one read-back checksum collect; a parity gate or a retention pass is one
# checksum collect over both of its sides.
CEILINGS = {
    "materialize_minute": 5,
    "materialize_hour": 5,
    "materialize_day": 5,
    "materialize_week": 5,
    "parity": 3,
    "retention_minute": 3,
    "retention_hour": 3,
}

_groups = itertools.count()


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts."""
    sc = spark.sparkContext
    group = f"tier-job-budget-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def pass_jobs(spark, tmp_path_factory):
    pages = generate_pages(spark, n_events=3_000, n_urls=60, n_minutes=8 * 1440, seed=3)
    minute = rollup_pages(pages).cache()
    minute.count()
    store = TierStore(
        spark, str(tmp_path_factory.mktemp("budget") / "store"), KEYS,
        compressed_tiers={"minute"},
    )
    # the steps of materialize_chain, each with the read of its source tier
    got = {"materialize_minute": _jobs(spark, lambda: store.materialize("minute", minute))}
    for prev, tier in (("minute", "hour"), ("hour", "day"), ("day", "week")):
        got[f"materialize_{tier}"] = _jobs(
            spark,
            lambda: store.materialize(tier, downsample(store.read_tier(prev), tier, KEYS)),
        )
    ok = []
    got["parity"] = _jobs(spark, lambda: ok.append(store.verify_tier_parity("minute", "hour")))
    expired = {}
    for tier, keep in (("minute", 4), ("hour", 6)):
        done = sorted(store.checkpoint.done_partitions(tier))
        got[f"retention_{tier}"] = _jobs(
            spark, lambda: expired.setdefault(tier, store.retention_pass(tier, done[-keep]))
        )
    minute.unpersist()
    return got, ok, expired


def test_pass_is_correct(pass_jobs):
    _, ok, expired = pass_jobs
    assert ok == [True]
    assert len(expired["minute"]) > 0 and len(expired["hour"]) > 0


@pytest.mark.parametrize("step", sorted(CEILINGS))
def test_step_job_budget(pass_jobs, step):
    got, _, _ = pass_jobs
    assert got[step] <= CEILINGS[step], f"{step}: {got[step]} jobs, ceiling {CEILINGS[step]}"


def test_pass_job_budget(pass_jobs):
    got, _, _ = pass_jobs
    assert sum(got.values()) <= sum(CEILINGS.values()), got
