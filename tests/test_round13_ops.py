"""Round-13 operator tests: the dedup→unindex composition (no dropped
doc's vector is ever served, on BOTH index families), the PQ code-log
rewrite (post-rewrite serve == masked serve, tombstone bytes gone),
and the r12-ADVICE guards (op-value validation, tombstone re-insert
refusal, non-race publish failures surfacing)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_pipeline_spark.catalog import load_table
from flink_pipeline_spark.plans.llm_ops import (
    IVF_SEED_CENTROIDS,
    PQ_QUERY_MAX,
)

from .test_round11_ops import SMALL_SF, _mon


def _drop_ids(spark):
    from flink_pipeline_spark.plans.unindex import dedup_drop_batch

    return {
        r.vec_id
        for r in dedup_drop_batch(spark, SMALL_SF).select("vec_id").collect()
    }


def test_unindex_never_serves_dropped(spark):
    """The composed loop's contract, end to end on BOTH families: the
    dedup pipeline's drop set never appears in any served neighbor
    list — graph store (compaction), compressed store (masking)."""
    from flink_pipeline_spark.plans.unindex import (
        q_dedup_unindex,
        q_dedup_unindex_pq,
        q_dedup_unindex_recall,
    )

    dropped = _drop_ids(spark)
    assert dropped, "dedup drop set is empty — fixture drifted"
    for fn in (q_dedup_unindex, q_dedup_unindex_pq):
        rows = fn(spark, SMALL_SF).collect()
        assert rows, fn.__name__
        assert not {r.neighbor_id for r in rows} & dropped, fn.__name__
    audit = {r.method: r for r in q_dedup_unindex_recall(spark, SMALL_SF).collect()}
    assert set(audit) == {"served", "exact"}
    assert audit["served"].n_dropped_served == 0
    assert audit["exact"].n_dropped_served == 0
    assert audit["exact"].recall == 1.0
    assert audit["served"].n_method > 0


def test_unindex_stores_are_serve_only_after_first_build(spark):
    """Build-once/serve-only: the second call returns a monitor over
    the SAME published store with every file's mtime unchanged (equal
    dirs alone would pass after a rebuild too), and the drop batch's
    ids are exactly the store's batch-0 tombstones."""
    from flink_pipeline_spark.plans.unindex import (
        hnsw_unindex_store_for,
        pq_unindex_store_for,
    )

    def stamp(store_dir):
        return {
            os.path.join(r, p): os.path.getmtime(os.path.join(r, p))
            for r, _, fs in os.walk(store_dir)
            for p in fs
        }

    m1 = hnsw_unindex_store_for(spark, SMALL_SF)
    s1 = stamp(m1.store_dir)
    m2 = hnsw_unindex_store_for(spark, SMALL_SF)
    assert m1.store_dir == m2.store_dir
    assert s1 and stamp(m2.store_dir) == s1, "unindex store rebuilt"
    tombs = {
        r.vec_id for r in m1.tombs(spark, 0).collect()
    }
    assert tombs == _drop_ids(spark)
    p1 = pq_unindex_store_for(spark, SMALL_SF)
    ps1 = stamp(p1.store_dir)
    p2 = pq_unindex_store_for(spark, SMALL_SF)
    assert p1.store_dir == p2.store_dir
    assert ps1 and stamp(p2.store_dir) == ps1, "pq unindex store rebuilt"
    ptombs = {r.vec_id for r in p1.tombs(spark, 0).collect()}
    assert ptombs == _drop_ids(spark)


def test_pq_rewrite_equals_masked_serve(spark):
    """The reclamation equivalence gate at store level: the rewritten
    store serves byte-identical results to the masked post-delete
    store, holds exactly the survivor code rows, and carries no
    tombstone log at all."""
    from flink_pipeline_spark.plans.llm_ops import RERANK_SHORTLIST
    from flink_pipeline_spark.plans.ann_delete import (
        NSW_DELETE_MOD,
        NSW_DELETE_REM,
    )
    from flink_pipeline_spark.plans.pq_serve import (
        pq_delete_store_for,
        pq_rewrite_store_for,
    )

    emb = load_table(spark, SMALL_SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < PQ_QUERY_MAX)
    masked = pq_delete_store_for(
        spark, SMALL_SF, NSW_DELETE_MOD, NSW_DELETE_REM
    )
    rewritten = pq_rewrite_store_for(
        spark, SMALL_SF, NSW_DELETE_MOD, NSW_DELETE_REM
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
    # no tombstone log in the rewritten store — the bytes are gone
    assert not os.path.isdir(os.path.join(rewritten.store_dir, "tombs"))
    # survivor row-count invariant: rewritten codes == masked codes
    n_rewritten = rewritten.codes(spark, -1).count()
    n_masked = (
        masked.codes(spark, 0)
        .join(masked.tombs(spark, 0), "vec_id", "left_anti")
        .count()
    )
    n_unmasked = masked.codes(spark, 0).count()
    assert n_rewritten == n_masked < n_unmasked


def test_drift_refresh_gate_trips_and_refresh_recovers(spark):
    """The monitoring→action loop's claims, pinned: the projection
    gate fires on the injected re-embedding, the stale quantizer
    loses recall, and the refreshed quantizer recovers to at least
    the stale level + the exact row's control properties."""
    from flink_pipeline_spark.plans.index_refresh import q_ann_drift_refresh

    rows = {r.method: r for r in q_ann_drift_refresh(spark, SMALL_SF).collect()}
    assert set(rows) == {"exact", "stale", "refreshed"}
    assert all(r.drifted for r in rows.values())
    assert rows["exact"].recall == 1.0
    assert rows["stale"].recall < rows["refreshed"].recall
    assert rows["refreshed"].recall >= 0.9


def test_unindex_stream_equals_batch_and_replay(spark, tmp_path):
    """Stream==batch for the DEDUP drop batch specifically: folding
    dedup_drop_batch through the foreachBatch sink yields the same
    compacted adjacency and served results as the direct operator
    folds (nsw_delete per layer over the same drop set), and a
    crash-replayed fold re-derives identical state."""
    from flink_pipeline_spark.functions.portable import hash56
    from flink_pipeline_spark.operators.llm import (
        hnsw_search,
        nsw_delete,
        nsw_graph,
    )
    from flink_pipeline_spark.plans.llm_ops import (
        EMBED_MULTI_MAX_CELL,
        EMBED_PAIR_NPROBE,
        HNSW_L1_MOD,
        NSW_BEAM,
        NSW_DEG,
        NSW_HOPS,
    )
    from flink_pipeline_spark.plans.unindex import dedup_drop_batch

    from .test_round11_ops import _adj_rows, _search_rows

    emb = load_table(spark, SMALL_SF, "embeddings")
    seeds = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    queries = emb.filter(F.col("vec_id") < PQ_QUERY_MAX)
    batch = dedup_drop_batch(spark, SMALL_SF).localCheckpoint(eager=True)
    dels = batch.select("vec_id")

    mon = _mon(tmp_path)
    mon.init(emb.select("vec_id", "embedding"), seeds)
    mon(batch, 0)
    got_adj = _adj_rows(mon, spark, 0)
    got_search = _search_rows(mon, spark, queries, 0)

    def l1(df):
        return df.filter(hash56(F.col("vec_id")) % HNSW_L1_MOD == 0)

    kw = dict(
        deg=NSW_DEG,
        max_cell=EMBED_MULTI_MAX_CELL,
        nprobe=EMBED_PAIR_NPROBE,
        keep_dist=True,
    )
    a0 = nsw_graph(emb.select("vec_id", "embedding"), seeds, **kw)
    a1 = nsw_graph(l1(emb).select("vec_id", "embedding"), seeds, **kw)
    a0 = nsw_delete(emb, a0, dels, NSW_DEG).localCheckpoint(eager=True)
    a1 = nsw_delete(emb, a1, dels, NSW_DEG).localCheckpoint(eager=True)
    want_adj = sorted(
        [(0, r.src, r.dst, r.dist_q) for r in a0.collect()]
        + [(1, r.src, r.dst, r.dist_q) for r in a1.collect()]
    )
    assert got_adj == want_adj and want_adj
    live = emb.join(dels, "vec_id", "left_anti")
    want_search = sorted(
        (r.query_id, r.neighbor_id, r.rank, r.dist_q)
        for r in hnsw_search(
            live.select("vec_id", "embedding"),
            queries,
            a0.select("src", "dst"),
            a1.select("src", "dst"),
            k=3,
            beam=NSW_BEAM,
            exclude=dels,
        ).collect()
    )
    assert got_search == want_search and got_search
    # crash replay: the same batch re-folded re-derives identical state
    mon(batch, 0)
    assert _adj_rows(mon, spark, 0) == got_adj
    assert _search_rows(mon, spark, queries, 0) == got_search


def test_pq_drift_refresh_contrast(spark):
    """The compressed-family refresh claims: the frozen
    quantizer+codebook lose shortlist recall on the drifted corpus,
    re-training recovers it, and the exact row is the control."""
    from flink_pipeline_spark.plans.index_refresh import q_pq_drift_refresh

    rows = {r.method: r for r in q_pq_drift_refresh(spark, SMALL_SF).collect()}
    assert set(rows) == {"exact", "stale", "refreshed"}
    assert rows["exact"].recall == 1.0
    assert rows["stale"].recall < rows["refreshed"].recall


@pytest.mark.slow  # 15s
def test_radius_and_maxsim_contracts(spark):
    """Radius results are exactly the thresholded subset semantics
    (every returned pair verified within RADIUS_Q; precision 1 by
    construction), and MaxSim's two-stage result equals exact MaxSim
    restricted to its candidates."""
    from flink_pipeline_spark.plans.radius import (
        RADIUS_Q,
        q_sim_hnsw_radius,
        q_sim_pq_radius,
        q_sim_radius,
        q_sim_radius_recall,
    )

    for fn in (q_sim_radius, q_sim_pq_radius, q_sim_hnsw_radius):
        rows = fn(spark, SMALL_SF).collect()
        assert rows, fn.__name__
        assert all(r.dist_q <= RADIUS_Q for r in rows), fn.__name__
        assert all(r.neighbor_id != r.query_id for r in rows)
    audit = {r.method: r for r in q_sim_radius_recall(spark, SMALL_SF).collect()}
    assert audit["exact"].recall == 1.0
    # every method returns only true matches (precision 1): the radius
    # forms exact-verify their own results by construction
    for m in ("ivf", "pq", "graph"):
        assert audit[m].prec == 1.0, audit[m]

    from flink_pipeline_spark.plans.maxsim import (
        MAXSIM_TOKS,
        q_sim_maxsim_topk,
    )

    rows = q_sim_maxsim_topk(spark, SMALL_SF).collect()
    assert rows
    assert all(r.doc_id != r.query_doc for r in rows)
    ranks = {}
    for r in rows:
        ranks.setdefault(r.query_doc, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in ranks.values())


def test_monitors_reject_unknown_op_values(spark, tmp_path):
    """A typo'd op value must fail the batch loudly, not silently
    drop rows (ADVICE r12) — both monitor families."""
    from flink_pipeline_spark.streaming.pq_index import PQIndexMonitor

    emb = load_table(spark, SMALL_SF, "embeddings")
    seeds = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    small = emb.filter(F.col("vec_id") < 64).select("vec_id", "embedding")
    bad = small.limit(4).select(
        "vec_id", "embedding", F.lit("upsert").alias("op")
    )

    amon = _mon(tmp_path, "ann")
    amon.init(small, seeds)
    with pytest.raises(ValueError, match="neither 'insert' nor 'delete'"):
        amon(bad, 0)

    pmon = PQIndexMonitor(str(tmp_path / "pq"))
    pmon.init(small, seeds)
    with pytest.raises(ValueError, match="neither 'insert' nor 'delete'"):
        pmon(bad, 0)


def test_monitors_reject_tombstoned_reinsert(spark, tmp_path):
    """Re-inserting a tombstoned vec_id is unsupported and must be
    refused (ADVICE r12): the mask is forever, so folding the arrival
    in would create state that can never be served."""
    from flink_pipeline_spark.streaming.pq_index import PQIndexMonitor

    emb = load_table(spark, SMALL_SF, "embeddings")
    seeds = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    small = emb.filter(F.col("vec_id") < 64).select("vec_id", "embedding")
    dels = small.filter(F.col("vec_id") % 8 == 3).select(
        "vec_id", "embedding", F.lit("delete").alias("op")
    )
    reins = small.filter(F.col("vec_id") == 3).select(
        "vec_id", "embedding", F.lit("insert").alias("op")
    )
    assert reins.count() == 1

    amon = _mon(tmp_path, "ann")
    amon.init(small, seeds)
    amon(dels, 0)
    with pytest.raises(ValueError, match="re-inserts previously tombstoned"):
        amon(reins, 1)

    pmon = PQIndexMonitor(str(tmp_path / "pq"))
    pmon.init(small, seeds)
    pmon(dels, 0)
    with pytest.raises(ValueError, match="re-inserts previously tombstoned"):
        pmon(reins, 1)


def test_publish_store_surfaces_non_race_failures(tmp_path, monkeypatch):
    """A rename that fails for a NON-race reason must raise, not
    return a monitor over a nonexistent store (ADVICE r12)."""
    import os as _os

    from flink_pipeline_spark.streaming.heavy import publish_store

    tmp = tmp_path / "build"
    tmp.mkdir()
    store = tmp_path / "cache" / "published"

    def boom(src, dst):
        raise OSError(18, "Invalid cross-device link")  # EXDEV

    monkeypatch.setattr(_os, "rename", boom)
    with pytest.raises(RuntimeError, match="store publish failed"):
        publish_store(str(tmp), str(store))

    # and the benign race: a NON-EMPTY target already exists (the
    # winner's publish) -> rename fails ENOTEMPTY, loser discards
    monkeypatch.undo()
    tmp2 = tmp_path / "build2"
    tmp2.mkdir()
    store.mkdir(parents=True)
    (store / "adj").mkdir()
    publish_store(str(tmp2), str(store))  # must not raise
    assert (store / "adj").is_dir() and not tmp2.exists()
