"""Spark job budgets: how many jobs a catalog query launches while its
query function builds the DataFrame, and in all for one warm run.

At test scale every query is overhead-bound: each job pays a scheduling
round trip however few rows it touches. An eager ``collect()``,
``count()`` or ``localCheckpoint(eager=True)`` slipped into a query
function shows here as a budget failure, the way an extra exchange shows
in test_plans.py. The warm run materializes to the noop sink, as the
benchmark's catalog sweep does."""

from __future__ import annotations

import uuid

import pytest

from nyc_taxi_pyspark_spark.catalog import QUERIES
from nyc_taxi_pyspark_spark.plans.explain import formatted_plan

SF = "/root/testdata/sf0.001"


def _jobs_in_group(spark, fn):
    """(fn's return value, ids of the Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


@pytest.fixture
def stop_new_streams(spark):
    """Stop the streams a test starts, so later streaming tests still see
    a cold first call."""
    before = {q.id for q in spark.streams.active}
    yield
    for q in spark.streams.active:
        if q.id not in before:
            q.stop()


# (query, jobs of a warm run). Neither drift monitor may run a job while
# building; the stream's micro-batches run in the stream's own thread,
# outside the caller's job group.
DRIFT_BUDGETS = [
    ("stream_distribution_drift", 5),
    ("events_distribution_drift", 5),
]


@pytest.mark.parametrize("name, max_jobs", DRIFT_BUDGETS)
def test_drift_monitor_job_budget(spark, stop_new_streams, name, max_jobs):
    fn = QUERIES[name]
    _noop(fn(spark, SF))  # cold: starts the stream, fills the layouts
    df, build_jobs = _jobs_in_group(spark, lambda: fn(spark, SF))
    assert build_jobs == [], f"{name} ran {len(build_jobs)} jobs while building"
    _, run_jobs = _jobs_in_group(spark, lambda: _noop(df))
    assert len(run_jobs) <= max_jobs, (name, len(run_jobs), max_jobs)


@pytest.mark.parametrize("name", [n for n, _ in DRIFT_BUDGETS])
def test_drift_rollup_has_no_join(spark, stop_new_streams, name):
    """The per-type marginals are a window over the cells, not a self-join
    of the cells with their own aggregate."""
    assert "Join" not in formatted_plan(QUERIES[name](spark, SF))
