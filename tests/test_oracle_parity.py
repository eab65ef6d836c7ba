"""The local mirror of the driver's correctness gate: every registered
query with an oracle must hash-match DuckDB on the same parquet; every
oracle-less query must at least run and return a stable schema."""

from __future__ import annotations

import pytest

from flink_pipeline_spark.operators import local
from flink_pipeline_spark.plans import (
    llm_ops,
    maxsim,
    oracle_sqls,
    pq_serve,
    query_fns,
)

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


# Every query whose build reaches a gated operator (connected_components,
# nsw_beam): the ones that call operators/local.collect at sf0.01.
GATED = (
    "q_ann_delete_recall",
    "q_ann_filtered_recall",
    "q_ann_hnsw_beam",
    "q_ann_recall",
    "q_ann_refresh_serve",
    "q_build_training_set",
    "q_build_training_set_weighted",
    "q_dataset_card",
    "q_dedup_apply",
    "q_dedup_cluster_stats",
    "q_dedup_clusters",
    "q_dedup_embed_apply",
    "q_dedup_image_apply",
    "q_dedup_keeper_quality",
    "q_dedup_semantic",
    "q_dedup_soft",
    "q_dedup_unindex",
    "q_dedup_unindex_pq",
    "q_dedup_unindex_recall",
    "q_hnsw_beam_clustered",
    "q_nsw_descent_clustered",
    "q_sim_hnsw_delete",
    "q_sim_hnsw_filtered",
    "q_sim_hnsw_radius",
    "q_sim_hnsw_search",
    "q_sim_hnsw_topk",
    "q_sim_nsw_delete",
    "q_sim_nsw_descent",
    "q_sim_nsw_insert",
    "q_sim_nsw_topk",
    "q_sim_radius_recall",
    "q_split_leakage_audit",
    "q_split_leakage_safe",
)


@pytest.mark.slow
@pytest.mark.parametrize("name", GATED)
def test_oracle_parity_gate_shut(spark, oracle, monkeypatch, tmp_path, name):
    """The gated operators' DataFrame paths, the ones that run above the
    gate at scale, against the same DuckDB hash: with the local gate
    shut, every collect a query's build asks for declines. Every store
    root points into this test's own directory, so a store the query
    serves from is built here, with the gate shut, and never served
    from an earlier build under the open gate."""
    for mod, root in (
        (llm_ops, "HNSW_INDEX_CACHE"),
        (pq_serve, "PQ_INDEX_CACHE"),
        (maxsim, "MAXSIM_INDEX_CACHE"),
    ):
        monkeypatch.setattr(mod, root, str(tmp_path / root))
    monkeypatch.setattr(local, "LOCAL_MAX", 0)
    calls = []
    collect = local.collect
    monkeypatch.setattr(
        local, "collect", lambda *a: calls.append(a) or collect(*a)
    )
    df = QUERIES[name](spark, SF_DIR)
    assert_parity(df, oracle, ORACLES[name], name=name)
    assert calls, name  # the build reached a gated operator


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"
