"""Registry-wide oracle output-dtype lint.

The driver's correctness gate canonicalizes the DuckDB oracle result
through pandas (``fetchdf``), and pandas renders HUGEINT / UHUGEINT
(int128) columns as **float64** while the Spark side arrives int64 —
a value-identical answer then hash-mismatches. The local parity
harness (tests/parity.py) canonicalizes via ``fetchall`` (Python
ints), so an uncast-HUGEINT oracle passes every local sweep and fails
only at the driver — exactly how the r08 ``q_late_shipments`` red row
survived the builder's own 237-query sweeps.

This lint closes that channel at the registry level: every oracle's
DuckDB relation is *bound* (not executed — ``.types`` needs only the
planner) and its output column types are asserted free of the int128
family. The fix convention is ``CAST(sum(...) AS BIGINT)``, which the
rest of the registry already follows (e.g. analytics_shapes.py
q_nation_trade_volume).
"""

from __future__ import annotations

import duckdb
import pytest

from flink_pipeline_spark.plans import oracle_sqls

from .conftest import SF_DIR, TABLES

# DuckDB type ids whose pandas rendering diverges from the Spark-side
# integer dtype (int128 has no numpy dtype, so fetchdf emits float64).
_BANNED_TYPE_IDS = {"hugeint", "uhugeint"}

# Built once per module: each registry call re-derives the evidence
# order (source fingerprints of every query), 0.6-1.2 s apiece.
ORACLES = oracle_sqls(SF_DIR)


@pytest.fixture(scope="module")
def lint_con():
    import os

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def _offending_columns(con, sql: str) -> list[tuple[str, str]]:
    rel = con.sql(sql)
    return [
        (name, str(typ))
        for name, typ in zip(rel.columns, rel.types)
        if str(typ).lower() in _BANNED_TYPE_IDS
    ]


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_emits_no_hugeint(lint_con, name):
    sql = ORACLES[name]
    bad = _offending_columns(lint_con, sql)
    assert not bad, (
        f"{name}: oracle emits int128 column(s) {bad} — pandas fetchdf "
        "renders HUGEINT as float64 while Spark sends int64, so the "
        "driver hash-mismatches on value-identical results. Wrap the "
        "aggregate in CAST(... AS BIGINT)."
    )


def test_lint_catches_uncast_conditional_sum(lint_con):
    """Self-test: the exact shape that caused the r08 red row must be
    caught by this lint (DuckDB types an uncast sum(CASE...) HUGEINT)."""
    bad = _offending_columns(
        lint_con,
        "SELECT sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)"
        " AS c FROM orders",
    )
    assert bad == [("c", "HUGEINT")]
