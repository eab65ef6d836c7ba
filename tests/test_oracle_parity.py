"""The local mirror of the driver's correctness gate: every registered
query with an oracle must hash-match DuckDB on the same parquet; every
oracle-less query must at least run and return a stable schema."""

from __future__ import annotations

import pytest

from flink_pipeline_spark.plans import oracle_sqls, query_fns

from .conftest import SF_DIR
from .parity import assert_parity

# Built once per module: each registry call re-derives the evidence
# order (source fingerprints of every query), 0.6-1.2 s apiece.
QUERIES = query_fns()
ORACLES = oracle_sqls(SF_DIR)
ALL = sorted(QUERIES)
WITH_ORACLE = sorted(ORACLES)
# the slow-tier oracle ids (each >= 10 s at sf0.01)
SLOW_ORACLES = {
    "q_ann_recall",  # 83s
    "q_hnsw_beam_clustered",  # 17s
    "q_dedup_unindex",  # 35s
    "q_ann_hnsw_beam",  # 15s
    "q_ann_filtered_recall",  # 10s
}


def test_every_query_has_an_oracle():
    # rows-only queries no longer exist; if one reappears it needs a
    # deliberate decision, not a silent weaker gate
    assert sorted(set(ALL) - set(WITH_ORACLE)) == []


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in SLOW_ORACLES else n
        for n in WITH_ORACLE
    ],
)
def test_oracle_parity(spark, oracle, name):
    df = QUERIES[name](spark, SF_DIR)
    assert_parity(df, oracle, ORACLES[name], name=name)


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"
