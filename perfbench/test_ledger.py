"""Tests of the benchmark's ledger (run with ``python3 -m pytest perfbench``).

They start a small local Spark session with the UI on localhost, as the
traced benchmark run does."""

from __future__ import annotations

import os
import sys

import pytest

sys.path[:0] = [os.path.dirname(os.path.abspath(__file__))]

import run  # noqa: E402
from ledger import Ledger  # noqa: E402


@pytest.fixture(scope="module")
def traced():
    run._hygiene()
    spark = run._session(2, trace=True)
    ledger = Ledger()
    ledger.bind(spark)
    ledger.instrument()
    yield spark, ledger
    ledger.uninstrument()
    run._shutdown(spark)


def test_pool_thread_jobs_are_attributed_and_sum_to_app_total(traced):
    from flink_pipeline_spark import caching

    spark, ledger = traced
    before, _ = ledger.spark_status()
    spark.sparkContext.setJobGroup("caller", "the calling thread's group")
    with ledger.pass_() as rec:
        with ledger.phase("build"):
            caching.parallel_frames(
                lambda: spark.range(10).count(),
                lambda: spark.range(20).count(),
                lambda: spark.range(30).count(),
            )
        with ledger.phase("action"):
            spark.range(100).write.format("noop").mode("overwrite").save()
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    jobs, stages = ledger.spark_status()
    m = ledger.pass_metrics(rec, jobs, stages)

    new = [j for j in jobs if j not in before]
    assert m["plans.build_jobs"] + m["exec.jobs"] == len(new) == m["trace.pass_jobs"]
    assert m["plans.build_jobs"] >= 3  # one count() per pool thread
    # a job group is per thread: grouping would have missed the pool jobs
    grouped = [j for j in new if jobs[j].get("jobGroup") == "caller"]
    assert len(grouped) < len(new)
    assert m["caching.parallel_frames_calls"] == 1
    assert m["caching.parallel_frames_jobs"] == m["plans.build_jobs"]


def test_stages_count_only_submitted_ones(traced):
    spark, ledger = traced

    def query():
        return spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()

    recs = []
    for _ in range(2):  # a fresh plan per pass, as the benchmark builds one
        with ledger.pass_() as rec:
            with ledger.phase("action"):
                query().collect()
        recs.append(rec)
    reused = query()
    for _ in range(2):  # the same plan twice: its shuffle map stage is reused
        with ledger.pass_() as rec:
            with ledger.phase("action"):
                reused.collect()
        recs.append(rec)
    jobs, stages = ledger.spark_status()
    fresh1, fresh2, reuse1, reuse2 = (ledger.pass_metrics(r, jobs, stages) for r in recs)
    for k in ("exec.jobs", "exec.stages", "exec.tasks"):
        assert fresh1[k] == fresh2[k]
    assert reuse1["exec.stages"] == fresh1["exec.stages"]
    assert reuse2["exec.stages"] < reuse1["exec.stages"]  # the skipped stage


def test_self_time_subtracts_children(traced):
    _, ledger = traced
    from ledger import Span

    parent = Span(0, "p", None, 0.0, 10.0)
    kids = [Span(1, "c", 0, 1.0, 4.0), Span(2, "c", 0, 3.0, 6.0), Span(3, "d", 0, 8.0, 9.0)]
    self_times = ledger.self_times([parent, *kids])
    assert self_times["p"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert self_times["c"] == pytest.approx(3.0 + 3.0)
