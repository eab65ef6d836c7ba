"""Round-14 operator tests: the r13-ADVICE guards (same-batch
delete+insert refusal in both index monitors, publish_store
preserving the build dir on non-race failures), then the round's
operator additions (drift→refresh→serve, MaxSim store, tombstone-
density rewrite trigger, planted-cluster audits)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_pipeline_spark.catalog import load_table
from flink_pipeline_spark.plans.llm_ops import IVF_SEED_CENTROIDS

from .test_round11_ops import SMALL_SF, _mon


def test_monitors_reject_same_batch_delete_insert(spark, tmp_path):
    """A SINGLE batch carrying op='delete' and op='insert' for the
    same vec_id must be refused by both monitors (ADVICE r13): the
    prior-batch tombstone probe alone would let the id be written to
    the tombstone log while its adjacency/code rows are also
    inserted — the exact dead-but-indexed dangling state the
    re-insert guard exists to prevent."""
    from flink_pipeline_spark.streaming.pq_index import PQIndexMonitor

    emb = load_table(spark, SMALL_SF, "embeddings")
    seeds = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    small = emb.filter(F.col("vec_id") < 64).select("vec_id", "embedding")
    mixed = (
        small.filter(F.col("vec_id") == 5)
        .select("vec_id", "embedding", F.lit("delete").alias("op"))
        .unionByName(
            small.filter(F.col("vec_id").isin(5, 9)).select(
                "vec_id", "embedding", F.lit("insert").alias("op")
            )
        )
    )

    amon = _mon(tmp_path, "ann")
    amon.init(small, seeds)
    with pytest.raises(ValueError, match="re-inserts previously tombstoned"):
        amon(mixed, 0)

    pmon = PQIndexMonitor(str(tmp_path / "pq"))
    pmon.init(small, seeds)
    with pytest.raises(ValueError, match="re-inserts previously tombstoned"):
        pmon(mixed, 0)


def test_pq_refresh_fold_stream_equals_batch_and_replay(spark, tmp_path):
    """The refresh's RE-CODE fold: init(head) + fold(tail) through
    the monitor's own foreachBatch path equals a full-corpus init
    (coding is stateless under the frozen re-trained artifacts), and
    a crashed fold batch replays idempotently — stream==batch +
    crash-replay for the refreshed store specifically."""
    from flink_pipeline_spark.plans.refresh_serve import (
        REFRESH_FOLD_MIN,
        REFRESH_FOLD_MOD,
        REFRESH_FOLD_REM,
    )
    from flink_pipeline_spark.plans.index_refresh import drifted_corpus
    from flink_pipeline_spark.plans.pq_serve import _pq_monitor

    emb = load_table(spark, SMALL_SF, "embeddings")
    dr = drifted_corpus(emb).localCheckpoint(eager=True)
    seeds = dr.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    is_fold = (F.col("vec_id") >= REFRESH_FOLD_MIN) & (
        F.col("vec_id") % REFRESH_FOLD_MOD == REFRESH_FOLD_REM
    )

    split = _pq_monitor(str(tmp_path / "split"))
    split.init(dr.filter(~is_fold), seeds)
    fold = dr.filter(is_fold).select("vec_id", "embedding")
    split(fold, 0)
    got = sorted(map(tuple, split.codes(spark, 0).collect()))

    full = _pq_monitor(str(tmp_path / "full"))
    full.init(dr, seeds)
    want = sorted(map(tuple, full.codes(spark, -1).collect()))
    assert got == want and got

    split(fold, 0)  # crash replay: re-derives its own partition
    assert sorted(map(tuple, split.codes(spark, 0).collect())) == want


def test_refresh_refuses_undrifted_corpus(spark, tmp_path):
    """The decision rule: a refresh build over a corpus the gate does
    NOT flag must be refused — the frozen artifacts stay."""
    from flink_pipeline_spark.plans.refresh_serve import _assert_gate_fired

    emb = load_table(spark, SMALL_SF, "embeddings")
    same = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
            "embedding"
        ),
    )
    with pytest.raises(ValueError, match="drift gate did not fire"):
        _assert_gate_fired(emb, same, str(tmp_path / "never"))
    assert not (tmp_path / "never").exists()


def test_refresh_stores_record_tripped_decision(spark):
    """Both published refresh stores carry the tripped gate decision
    (gate.parquet: drifted=TRUE, t far over the 1.96 threshold) —
    the drift decision rides the store, not just the cache key."""
    from flink_pipeline_spark.plans.refresh_serve import (
        ann_refresh_store_for,
        pq_refresh_store_for,
    )

    for mon in (
        pq_refresh_store_for(spark, SMALL_SF),
        ann_refresh_store_for(spark, SMALL_SF),
    ):
        gate = spark.read.parquet(
            os.path.join(mon.store_dir, "gate.parquet")
        ).collect()
        assert len(gate) == 1 and gate[0].drifted
        assert gate[0].t_q > 1.96


def test_refresh_serve_recall_matches_in_query_refresh(spark):
    """The Done criterion: post-refresh STORE serve recall equals the
    in-query refreshed recall q_pq_drift_refresh prices — the last
    hop of the monitoring loop serves what the refresh promised."""
    from flink_pipeline_spark.plans.index_refresh import q_pq_drift_refresh
    from flink_pipeline_spark.plans.refresh_serve import (
        q_pq_refresh_serve_recall,
    )

    served = {
        r.method: r.recall
        for r in q_pq_refresh_serve_recall(spark, SMALL_SF).collect()
    }
    inquery = {
        r.method: r.recall
        for r in q_pq_drift_refresh(spark, SMALL_SF).collect()
    }
    assert served["served"] == inquery["refreshed"]
    assert served["exact"] == 1.0


def test_rewrite_trigger_decisions_and_hd_compaction(spark):
    """The compaction policy gate: the base ~1/8-density store sits
    under the rewrite threshold, the ~1/2-density store trips it —
    and taking the decision on the high-density store yields a
    compacted log serving byte-identical results with no tombstone
    log and roughly half the code rows gone."""
    from flink_pipeline_spark.plans.llm_ops import RERANK_SHORTLIST
    from flink_pipeline_spark.plans.pq_serve import (
        HD_DELETE_MOD,
        HD_DELETE_REM,
        pq_delete_store_for,
        pq_rewrite_store_for,
        q_pq_rewrite_trigger,
    )

    decisions = {
        r.store: r.rewrite
        for r in q_pq_rewrite_trigger(spark, SMALL_SF).collect()
    }
    assert decisions == {"base": False, "high": True}

    emb = load_table(spark, SMALL_SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    masked = pq_delete_store_for(spark, SMALL_SF, HD_DELETE_MOD, HD_DELETE_REM)
    rewritten = pq_rewrite_store_for(
        spark, SMALL_SF, HD_DELETE_MOD, HD_DELETE_REM
    )
    got_m = sorted(
        map(
            tuple,
            masked.adc_topk(
                spark, queries, after_batch_id=0, k=RERANK_SHORTLIST
            ).collect(),
        )
    )
    got_r = sorted(
        map(
            tuple,
            rewritten.adc_topk(
                spark, queries, after_batch_id=-1, k=RERANK_SHORTLIST
            ).collect(),
        )
    )
    assert got_m == got_r and got_m
    assert not os.path.isdir(os.path.join(rewritten.store_dir, "tombs"))
    n_rewritten = rewritten.codes(spark, -1).count()
    n_unmasked = masked.codes(spark, 0).count()
    # the HD slice tombstones ~half the corpus: the compacted log
    # must have lost a large fraction, not a sliver
    assert n_rewritten < 0.7 * n_unmasked


def test_maxsim_index_stream_equals_batch_and_guards(spark, tmp_path):
    """The 13th streaming deployment form: feeding the arrival slice
    through the MaxSim store's foreachBatch fold in two micro-batches
    yields the same token log as one full init (assignment is
    stateless under the frozen centroids); a crashed batch replays
    idempotently; delete batches and re-inserts are refused."""
    from flink_pipeline_spark.operators.llm import ivf_assign
    from flink_pipeline_spark.streaming.maxsim_index import (
        MaxSimIndexMonitor,
    )

    from .test_round11_ops import _split

    emb, base, arrivals = _split(spark)
    seeds = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    mon = MaxSimIndexMonitor(str(tmp_path / "mx"))
    with pytest.raises(ValueError, match="init"):
        mon(arrivals, 0)
    mon.init(base, seeds)
    grp0 = arrivals.filter(F.col("vec_id") % 2 == 0)
    grp1 = arrivals.filter(F.col("vec_id") % 2 == 1)
    mon(grp0, 0)
    mon(grp1, 1)

    full = MaxSimIndexMonitor(str(tmp_path / "full"))
    full.init(emb, seeds)
    want = sorted(map(tuple, full.tokens(spark, -1).collect()))
    got = sorted(map(tuple, mon.tokens(spark, 1).collect()))
    assert got == want and got

    mon(grp1, 1)  # crash replay: re-derives its own partition
    assert sorted(map(tuple, mon.tokens(spark, 1).collect())) == want

    dels = grp0.limit(1).select(
        "vec_id", "embedding", F.lit("delete").alias("op")
    )
    with pytest.raises(ValueError, match="delete batches are unsupported"):
        mon(dels, 2)
    with pytest.raises(ValueError, match="re-inserts already-indexed"):
        mon(grp0.limit(1), 2)


def test_maxsim_serve_reads_store_and_equals_built_fresh(spark):
    """The store-serve contract on both candidate disciplines: the
    served rows equal the built-fresh rows, and the served candidate
    generation actually READS the persisted token log (corrupting a
    stored cell changes the nomination)."""
    from flink_pipeline_spark.plans.maxsim import (
        maxsim_store_for,
        q_sim_maxsim_plaid,
        q_sim_maxsim_plaid_search,
        q_sim_maxsim_search,
        q_sim_maxsim_topk,
    )

    for served_fn, fresh_fn in (
        (q_sim_maxsim_search, q_sim_maxsim_topk),
        (q_sim_maxsim_plaid_search, q_sim_maxsim_plaid),
    ):
        served = sorted(map(tuple, served_fn(spark, SMALL_SF).collect()))
        fresh = sorted(map(tuple, fresh_fn(spark, SMALL_SF).collect()))
        assert served == fresh and served

    mon = maxsim_store_for(spark, SMALL_SF)
    assert os.path.isdir(os.path.join(mon.store_dir, "cents.parquet"))
    n_tokens = mon.tokens(spark, -1).count()
    n_corpus = load_table(spark, SMALL_SF, "embeddings").count()
    assert n_tokens == n_corpus


@pytest.mark.slow  # 47s
def test_clustered_audits_measure_non_nulls(spark):
    """The r13 verdict's #2 ask, pinned: each of the four structure
    audits that read deliberate nulls on the isotropic fixtures must
    show its non-null measurement on the planted corpora."""
    from flink_pipeline_spark.plans.clustered_audit import (
        q_gexp_clustered,
        q_hnsw_beam_clustered,
        q_nsw_descent_clustered,
        q_plaid_clustered,
    )

    # graph expansion: the hop recovers probe-missed truth
    g = {r.method: r.recall for r in q_gexp_clustered(spark, SMALL_SF).collect()}
    assert g["exact"] == 1.0 and g["gexp"] > g["rerank"]

    # NN-descent: link quality (the converged-kNN-graph metric)
    # improves; search recall does not regress
    d = {
        r.method: (r.link_recall, r.search_recall)
        for r in q_nsw_descent_clustered(spark, SMALL_SF).collect()
    }
    assert d["nsw2"][0] > d["nsw"][0]
    assert d["nsw2"][1] >= d["nsw"][1]

    # PLAID prune: centroid interaction carries real signal
    p = {
        r.method: r.recall for r in q_plaid_clustered(spark, SMALL_SF).collect()
    }
    assert p["plaid"] >= 0.5 and p["twostage"] == 1.0

    # beam sweep: the isotropic inversion (b4 > b8) disappears
    b = {
        r.method: r.recall
        for r in q_hnsw_beam_clustered(spark, SMALL_SF).collect()
    }
    assert b["hnsw_b4"] <= b["hnsw_b8"] <= b["hnsw_b16"]
    assert b["hnsw_b16"] > 0.5


def test_nav_corpus_l1_entry_constant(spark):
    """The NAV corpus pins vec_id 21 at the query zone BECAUSE it is
    the layer-1 entry (min vec_id with hash56 % HNSW_L1_MOD == 0) —
    assert that derivation so a hash or mod change cannot silently
    strand the entry far from the queries."""
    from flink_pipeline_spark.functions.portable import hash56
    from flink_pipeline_spark.plans.clustered_audit import L1_ENTRY_ID
    from flink_pipeline_spark.plans.llm_ops import HNSW_L1_MOD

    emb = load_table(spark, SMALL_SF, "embeddings")
    got = (
        emb.filter(hash56(F.col("vec_id")) % HNSW_L1_MOD == 0)
        .agg(F.min("vec_id"))
        .collect()[0][0]
    )
    assert got == L1_ENTRY_ID


def test_publish_store_preserves_tmp_on_non_race_failure(
    tmp_path, monkeypatch
):
    """On a NON-race rename failure (EXDEV, permissions) the built
    store dir must survive and be named in the error, so recovery is
    a move instead of a full rebuild (ADVICE r13)."""
    import os as _os

    from flink_pipeline_spark.streaming.heavy import publish_store

    tmp = tmp_path / "build"
    tmp.mkdir()
    (tmp / "artifact").write_text("expensive")
    store = tmp_path / "cache" / "published"

    def boom(src, dst):
        raise OSError(18, "Invalid cross-device link")  # EXDEV

    monkeypatch.setattr(_os, "rename", boom)
    with pytest.raises(RuntimeError, match=str(tmp)):
        publish_store(str(tmp), str(store))
    assert (tmp / "artifact").read_text() == "expensive"
