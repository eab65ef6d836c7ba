"""Round-12 operator tests: the ANN index DELETE lifecycle —
nsw_delete pinned by a plain-Python re-implementation of the
FreshDiskANN consolidation rule, tombstone/compaction through the
persisted store (stream==batch with a mixed delete+insert batch,
crash-replay idempotence), the never-serve-deleted contract, and the
post-delete store's build-once/serve-only contract."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from flink_pipeline_spark.catalog import load_table
from flink_pipeline_spark.functions.portable import hash56
from flink_pipeline_spark.operators.llm import (
    hnsw_search,
    nsw_delete,
    nsw_graph,
    nsw_insert,
)
from flink_pipeline_spark.plans.ann_delete import (
    NSW_DELETE_MOD,
    NSW_DELETE_REM,
)
from flink_pipeline_spark.plans.llm_ops import (
    HNSW_L1_MOD,
    IVF_SEED_CENTROIDS,
    NSW_BEAM,
    NSW_DEG,
    NSW_HOPS,
    PQ_QUERY_MAX,
)

from .test_round11_ops import (
    SMALL_SF,
    _adj_rows,
    _base_adj,
    _dist_q,
    _mon,
    _search_rows,
)


def _del_split(spark):
    emb = load_table(spark, SMALL_SF, "embeddings")
    is_del = hash56(F.col("vec_id")) % NSW_DELETE_MOD == NSW_DELETE_REM
    return (
        emb,
        emb.filter(is_del).select("vec_id"),
        emb.filter(~is_del).select("vec_id", "embedding"),
    )


def _py_delete(vecs, adj_scored, del_ids, deg):
    """Plain-Python nsw_delete: drop dead lists, bridge every
    (survivor -> deleted) edge through the deleted node's surviving
    out-neighbors (scored once per undirected pair in canonical
    least/greatest order), global 2*deg re-prune — the operator's
    exact consolidation rules."""
    dead = set(del_ids)
    out = {}
    for s, d, _ in adj_scored:
        out.setdefault(s, []).append(d)
    kept = {
        (s, d, q)
        for s, d, q in adj_scored
        if s not in dead and d not in dead
    }
    pairs = set()
    for s, d, _ in adj_scored:
        if s in dead or d not in dead:
            continue
        for w in out.get(d, ()):
            if w in dead or w == s:
                continue
            pairs.add((s, w))
    bridges = {
        (u, w, _dist_q(vecs[min(u, w)], vecs[max(u, w)]))
        for u, w in pairs
    }
    final = {}
    for s, d, q in sorted(kept | bridges, key=lambda t: (t[0], t[2], t[1])):
        final.setdefault(s, [])
        if len(final[s]) < 2 * deg:
            final[s].append((s, d, q))
    return sorted(e for lst in final.values() for e in lst)


def test_nsw_delete_matches_python_reimplementation(spark):
    """The compacted scored adjacency replays in plain Python — the
    nsw_insert test discipline applied to the delete fold — and the
    consolidation invariants hold: no deleted endpoint survives
    anywhere, the degree bound holds, and every survivor that had a
    surviving edge still has one (no survivor is orphaned by
    compaction alone)."""
    emb, dels, _surv = _del_split(spark)
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    del_ids = [r.vec_id for r in dels.collect()]
    assert del_ids, "delete split is empty — fixture hash drifted"
    adj0 = _base_adj(spark, emb.select("vec_id", "embedding"), emb)
    adj0_rows = [(r.src, r.dst, r.dist_q) for r in adj0.collect()]
    expect = _py_delete(vecs, adj0_rows, del_ids, NSW_DEG)
    got = sorted(
        (r.src, r.dst, r.dist_q)
        for r in nsw_delete(emb, adj0, dels, NSW_DEG).collect()
    )
    assert got == expect
    dead = set(del_ids)
    assert not {s for s, _, _ in got} & dead
    assert not {d for _, d, _ in got} & dead
    degs = {}
    for s, _, _ in got:
        degs[s] = degs.get(s, 0) + 1
    assert max(degs.values()) <= 2 * NSW_DEG
    had_live_edge = {
        s for s, d, _ in adj0_rows if s not in dead and d not in dead
    }
    assert had_live_edge <= {s for s, _, _ in got}


def test_layer1_endpoints_are_layer1_members(spark, tmp_path):
    """hnsw_entries beams layer 1 over hnsw_layer1 of the corpus, which
    scores what a beam over the whole corpus would only while every
    endpoint of a layer-1 adjacency is a layer-1 member. That holds for
    hnsw_layers' build, the store's init, and the store after one
    mixed delete+insert batch that touches layer 1 both ways."""
    from flink_pipeline_spark.operators.llm import hnsw_layer1
    from flink_pipeline_spark.plans.llm_ops import hnsw_layers

    emb = load_table(spark, SMALL_SF, "embeddings")
    members = {r.vec_id for r in hnsw_layer1(emb).select("vec_id").collect()}
    # arrivals: every third layer-1 node and a seventh of the rest
    new = sorted(members)[1::3]
    is_new = F.col("vec_id").isin(new) | (F.col("vec_id") % 7 == 0)
    base = emb.filter(~is_new).select("vec_id", "embedding")
    arrivals = emb.filter(is_new).select("vec_id", "embedding")

    def endpoints(adj):
        return {v for r in adj.select("src", "dst").collect() for v in r}

    def stored(batch_id):
        adj = mon.adjacency(spark, batch_id)
        return endpoints(adj.filter(F.col("layer") == 1))

    built = endpoints(hnsw_layers(emb)[1])
    assert built and built <= members
    mon = _mon(tmp_path)
    mon.init(base, emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS))
    before = stored(-1)
    assert before and before <= members
    # every third layer-1 node, the entry (its smallest id) among them
    dead = set(sorted(before)[::3])
    dels = base.filter(F.col("vec_id").isin(sorted(dead)))
    mon(
        dels.select("vec_id", "embedding", F.lit("delete").alias("op"))
        .unionByName(arrivals.select(
            "vec_id", "embedding", F.lit("insert").alias("op")
        )),
        0,
    )
    after = stored(0)
    assert after and after <= members - dead and after & set(new)


def test_ann_index_delete_stream_equals_batch(spark, tmp_path):
    """An insert batch followed by a MIXED delete+insert batch through
    the foreachBatch sink yields the same adjacency — layer by layer
    — and the same served results as the direct operator folds
    (deletes compact first, then arrivals beam over the survivors):
    stream==batch for the delete lifecycle."""
    from .test_round11_ops import _split

    emb, base, arrivals = _split(spark)
    seeds = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    queries = emb.filter(F.col("vec_id") < PQ_QUERY_MAX)
    is_del = hash56(F.col("vec_id")) % NSW_DELETE_MOD == NSW_DELETE_REM
    dels = base.filter(is_del).select("vec_id")
    grp0 = arrivals.filter(F.col("vec_id") % 2 == 0)
    grp1 = arrivals.filter(F.col("vec_id") % 2 == 1)

    mon = _mon(tmp_path)
    mon.init(base, seeds)
    mon(grp0.select("vec_id", "embedding", F.lit("insert").alias("op")), 0)
    mixed = dels.join(emb, "vec_id").select(
        "vec_id", "embedding", F.lit("delete").alias("op")
    ).unionByName(
        grp1.select("vec_id", "embedding", F.lit("insert").alias("op"))
    )
    mon(mixed, 1)

    def l1(df):
        return df.filter(hash56(F.col("vec_id")) % HNSW_L1_MOD == 0)

    from flink_pipeline_spark.plans.llm_ops import (
        EMBED_MULTI_MAX_CELL,
        EMBED_PAIR_NPROBE,
    )

    kw = dict(deg=NSW_DEG)
    a0 = _base_adj(spark, base, emb)
    a1 = nsw_graph(
        l1(base),
        seeds,
        deg=NSW_DEG,
        max_cell=EMBED_MULTI_MAX_CELL,
        nprobe=EMBED_PAIR_NPROBE,
        keep_dist=True,
    ).localCheckpoint(eager=True)
    # batch 0: insert grp0
    a0 = nsw_insert(base, a0, grp0, **kw).localCheckpoint(eager=True)
    a1 = nsw_insert(l1(base), a1, l1(grp0), **kw).localCheckpoint(eager=True)
    idx = base.unionByName(grp0).localCheckpoint(eager=True)
    # batch 1: deletes compact first, then grp1 folds over the survivors
    a0 = nsw_delete(idx, a0, dels, NSW_DEG).localCheckpoint(eager=True)
    a1 = nsw_delete(idx, a1, dels, NSW_DEG).localCheckpoint(eager=True)
    live = idx.join(dels, "vec_id", "left_anti").localCheckpoint(eager=True)
    a0 = nsw_insert(live, a0, grp1, **kw).localCheckpoint(eager=True)
    a1 = nsw_insert(l1(live), a1, l1(grp1), **kw).localCheckpoint(eager=True)
    live = live.unionByName(grp1).localCheckpoint(eager=True)

    want_adj = sorted(
        [(0, r.src, r.dst, r.dist_q) for r in a0.collect()]
        + [(1, r.src, r.dst, r.dist_q) for r in a1.collect()]
    )
    assert _adj_rows(mon, spark, 1) == want_adj and want_adj

    want_search = sorted(
        (r.query_id, r.neighbor_id, r.rank, r.dist_q)
        for r in hnsw_search(
            live,
            queries,
            a0.select("src", "dst"),
            a1.select("src", "dst"),
            k=3,
            beam=NSW_BEAM,
            exclude=dels,
        ).collect()
    )
    got_search = _search_rows(mon, spark, queries, 1)
    assert got_search == want_search and got_search
    # the never-serve-deleted contract, end to end
    dead = {r.vec_id for r in dels.collect()}
    assert not {n for _, n, _, _ in got_search} & dead


def test_ann_index_delete_crash_replay_idempotent(spark, tmp_path):
    """A replayed DELETE batch re-reads strictly-before state and
    re-derives the identical compacted snapshot, tombstone partition,
    and served results — no double-compaction, no tombstone dupes."""
    from flink_pipeline_spark.streaming.heavy import partition_ids

    from .test_round11_ops import _split

    emb, base, arrivals = _split(spark)
    seeds = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    queries = emb.filter(F.col("vec_id") < PQ_QUERY_MAX)
    is_del = hash56(F.col("vec_id")) % NSW_DELETE_MOD == NSW_DELETE_REM
    del_batch = (
        base.filter(is_del)
        .select("vec_id", "embedding", F.lit("delete").alias("op"))
    )
    mon = _mon(tmp_path)
    mon.init(base, seeds)
    mon(arrivals.select("vec_id", "embedding", F.lit("insert").alias("op")), 0)
    mon(del_batch, 1)
    adj_after = _adj_rows(mon, spark, 1)
    tombs_after = sorted(
        r.vec_id for r in mon.tombs(spark, 1).collect()
    )
    search_after = _search_rows(mon, spark, queries, 1)
    assert tombs_after, "delete batch wrote no tombstones"
    mon(del_batch, 1)  # crash replay
    assert _adj_rows(mon, spark, 1) == adj_after
    assert sorted(
        r.vec_id for r in mon.tombs(spark, 1).collect()
    ) == tombs_after
    assert _search_rows(mon, spark, queries, 1) == search_after
    assert sorted(partition_ids(spark, mon._path("tombs"))) == [0, 1]


def test_delete_queries_never_return_deleted(spark):
    """The registered delete rows keep the contract literal: no
    tombstoned vec_id in any served neighbor list, for both the batch
    compaction row and the store-served row."""
    from flink_pipeline_spark.plans.ann_delete import (
        q_sim_hnsw_delete,
        q_sim_nsw_delete,
    )

    emb, dels, _ = _del_split(spark)
    dead = {r.vec_id for r in dels.collect()}
    assert dead
    for fn in (q_sim_nsw_delete, q_sim_hnsw_delete):
        rows = fn(spark, SMALL_SF).collect()
        assert rows
        assert not {r.neighbor_id for r in rows} & dead, fn.__name__


def test_drift_projection_catches_thin_shift_per_dim_misses(spark, tmp_path):
    """The multivariate gate's reason to exist, pinned: a correlated
    mean shift of delta/sqrt(p) per dimension (p=32, delta=0.85, seed=3) on
    the odd-vec_id cohort stays under EVERY Bonferroni-corrected
    per-dimension gate (q_drift_embed), while the split-sample
    projection statistic (q_drift_projection) fires at plain
    alpha=0.05 — aggregation across dimensions is what the marginal
    screen structurally lacks. Data is seeded-deterministic."""
    import numpy as np

    from flink_pipeline_spark.plans.profiling import (
        q_drift_embed,
        q_drift_projection,
    )

    rng = np.random.RandomState(3)
    p, n = 32, 400
    base = rng.normal(0.0, 1.0, size=(n, p))
    shift = 0.85 / np.sqrt(p)
    rows = []
    for vid in range(n):
        v = base[vid] + (shift if vid % 2 == 1 else 0.0)
        rows.append((vid, [float(x) for x in v]))
    sf = str(tmp_path / "sfdrift")
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).write.parquet(sf + "/embeddings.parquet")

    marginal = q_drift_embed(spark, sf).collect()
    assert len(marginal) == p
    assert not any(r.drifted_bonf for r in marginal), [
        (r.pos, r.t_q) for r in marginal if r.drifted_bonf
    ]
    proj = q_drift_projection(spark, sf).collect()
    assert len(proj) == 1 and proj[0].drifted, proj
    # and the projection gate stays SILENT on the null (no shift)
    rows0 = [(vid, [float(x) for x in base[vid]]) for vid in range(n)]
    sf0 = str(tmp_path / "sfnull")
    spark.createDataFrame(
        rows0, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).write.parquet(sf0 + "/embeddings.parquet")
    null = q_drift_projection(spark, sf0).collect()
    assert len(null) == 1 and not null[0].drifted, null


def test_filtered_search_contract_and_tombstone_composition(spark, tmp_path):
    """search_filtered returns ONLY predicate matches, and composes
    with the delete lifecycle: after a delete batch that tombstones
    part of the match set, served results contain no deleted id and
    still only matches — the filter and the mask ride the same path.
    search_radius serves through the same mask: no deleted id, and
    every returned distance within the radius."""
    from flink_pipeline_spark.catalog import load_table
    from flink_pipeline_spark.plans.llm_ops import FILT_LABEL
    from flink_pipeline_spark.plans.radius import RADIUS_Q

    emb = load_table(spark, SMALL_SF, "embeddings")
    seeds = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    queries = emb.filter(F.col("vec_id") < 5)
    filt = emb.filter(F.col("label") == FILT_LABEL)
    filt_set = {r.vec_id for r in filt.select("vec_id").collect()}
    assert filt_set
    mon = _mon(tmp_path)
    mon.init(emb.select("vec_id", "embedding"), seeds)
    r1 = mon.search_filtered(
        spark, queries, -1, filt.select("vec_id")
    ).collect()
    assert r1 and {r.neighbor_id for r in r1} <= filt_set
    # tombstone half of the matches (and a few non-matches)
    dels = emb.filter(
        (F.col("vec_id") % 2 == 0)
        & (F.col("vec_id") >= 5)
    ).select("vec_id")
    dead = {r.vec_id for r in dels.collect()}
    mon(
        dels.join(emb, "vec_id").select(
            "vec_id", "embedding", F.lit("delete").alias("op")
        ),
        0,
    )
    r2 = mon.search_filtered(
        spark, queries, 0, filt.select("vec_id")
    ).collect()
    got = {r.neighbor_id for r in r2}
    assert r2 and got <= filt_set and not got & dead
    r3 = mon.search_radius(spark, queries, 0, radius_q=RADIUS_Q).collect()
    assert r3 and not {r.neighbor_id for r in r3} & dead
    assert all(r.dist_q <= RADIUS_Q for r in r3)


def test_hnsw_delete_store_serves_without_rebuilding(spark):
    """Second call of the post-delete serving query must READ the
    published store: adjacency mtimes unchanged across calls, rows
    identical."""
    from flink_pipeline_spark.plans.ann_delete import (
        hnsw_delete_store_for,
        q_sim_hnsw_delete,
    )

    first = sorted(map(tuple, q_sim_hnsw_delete(spark, SMALL_SF).collect()))
    store = hnsw_delete_store_for(spark, SMALL_SF).store_dir

    def stamp():
        return {
            os.path.join(r, p): os.path.getmtime(os.path.join(r, p))
            for r, _, fs in os.walk(os.path.join(store, "adj"))
            for p in fs
        }

    s1 = stamp()
    second = sorted(map(tuple, q_sim_hnsw_delete(spark, SMALL_SF).collect()))
    assert stamp() == s1, "post-delete serving query rebuilt its store"
    assert first == second and first


# ---------------------------------------------------------------------------
# Persisted compressed (IVFADC) index store — the twelfth deployment form
# ---------------------------------------------------------------------------


def _pq_mon(tmp_path, name="pqstore"):
    from flink_pipeline_spark.plans.pq_serve import (
        PQ_SERVE_NCODES,
        PQ_SERVE_NPROBE,
    )
    from flink_pipeline_spark.streaming.pq_index import PQIndexMonitor

    return PQIndexMonitor(
        str(tmp_path / name), n_codes=PQ_SERVE_NCODES, nprobe=PQ_SERVE_NPROBE
    )


def test_pq_index_stream_equals_batch(spark, tmp_path):
    """Feeding the arrival slice through the foreachBatch coding sink
    in two micro-batches yields the same code log and the same served
    ADC results as coding the same groups directly against the FROZEN
    init-time artifacts — stream==batch for the compressed store."""
    from flink_pipeline_spark.operators.llm import (
        ivfpq_artifacts,
        ivfpq_scan,
        pq_code_batch,
    )

    from .test_round11_ops import _split

    emb, base, arrivals = _split(spark)
    seeds = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    queries = emb.filter(F.col("vec_id") < PQ_QUERY_MAX)
    mon = _pq_mon(tmp_path)
    mon.init(base, seeds)
    grp0 = arrivals.filter(F.col("vec_id") % 2 == 0)
    grp1 = arrivals.filter(F.col("vec_id") % 2 == 1)
    mon(grp0, 0)
    mon(grp1, 1)

    cb, codes = ivfpq_artifacts(base, seeds)
    want_codes = codes.select("vec_id", "sub", "code", "cell")
    for grp in (grp0, grp1):
        want_codes = want_codes.unionByName(
            pq_code_batch(grp.select("vec_id", "embedding"), cb, seeds)
        )
    want_rows = sorted(map(tuple, want_codes.collect()))
    got_rows = sorted(map(tuple, mon.codes(spark, 1).collect()))
    assert got_rows == want_rows and got_rows

    want_search = sorted(
        map(
            tuple,
            ivfpq_scan(
                want_codes, cb, seeds, queries, k=3, nprobe=2
            ).collect(),
        )
    )
    got_search = sorted(
        map(tuple, mon.adc_topk(spark, queries, 1, k=3).collect())
    )
    assert got_search == want_search and got_search


def test_pq_index_crash_replay_and_guards(spark, tmp_path):
    """A replayed coding batch re-derives its own partition (the fold
    is stateless given the frozen artifacts); an uninitialized store
    raises on both fold and serve."""
    import pytest as _pytest

    from .test_round11_ops import _split

    emb, base, arrivals = _split(spark)
    seeds = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    queries = emb.filter(F.col("vec_id") < PQ_QUERY_MAX)
    mon = _pq_mon(tmp_path)
    with _pytest.raises(ValueError, match="init"):
        mon(arrivals, 0)
    with _pytest.raises(ValueError, match="init"):
        mon.adc_topk(spark, queries, -1, k=3)
    mon.init(base, seeds)
    mon(arrivals, 0)
    after = sorted(map(tuple, mon.codes(spark, 0).collect()))
    served = sorted(map(tuple, mon.adc_topk(spark, queries, 0, k=3).collect()))
    mon(arrivals, 0)  # crash replay
    assert sorted(map(tuple, mon.codes(spark, 0).collect())) == after
    assert (
        sorted(map(tuple, mon.adc_topk(spark, queries, 0, k=3).collect()))
        == served
    )


def test_pq_serve_matches_rerank_and_reads_store(spark):
    """The compressed serving query equals the build-per-run rerank
    query row-for-row (they share one oracle), and a second call READS
    the published store (code-log mtimes unchanged)."""
    from flink_pipeline_spark.plans.llm_ops import q_sim_ivfpq_rerank
    from flink_pipeline_spark.plans.pq_serve import (
        pq_store_for,
        q_sim_ivfpq_serve,
    )

    first = sorted(map(tuple, q_sim_ivfpq_serve(spark, SMALL_SF).collect()))
    store = os.path.join(pq_store_for(spark, SMALL_SF).store_dir, "codes")

    def stamp():
        return {
            os.path.join(r, p): os.path.getmtime(os.path.join(r, p))
            for r, _, fs in os.walk(store)
            for p in fs
        }

    s1 = stamp()
    assert s1, "store was not published"
    second = sorted(map(tuple, q_sim_ivfpq_serve(spark, SMALL_SF).collect()))
    assert stamp() == s1, "serving query rebuilt a published store"
    want = sorted(map(tuple, q_sim_ivfpq_rerank(spark, SMALL_SF).collect()))
    assert first == second == want and first


def test_pq_index_delete_mask_and_replay(spark, tmp_path):
    """Compressed-family delete: a mixed delete+insert batch through
    the foreachBatch sink leaves the code log append-only (prior
    partitions untouched), masks tombstoned ids out of every served
    shortlist, and replays idempotently."""
    from .test_round11_ops import _split

    emb, base, arrivals = _split(spark)
    seeds = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    queries = emb.filter(F.col("vec_id") < PQ_QUERY_MAX)
    is_del = hash56(F.col("vec_id")) % NSW_DELETE_MOD == NSW_DELETE_REM
    dels = base.filter(is_del).select("vec_id")
    dead = {r.vec_id for r in dels.collect()}
    assert dead
    mon = _pq_mon(tmp_path, "pqdel")
    mon.init(base, seeds)
    # the init partition (everything strictly before batch 0)
    before = sorted(map(tuple, mon.codes(spark, -1).collect()))
    mixed = dels.join(emb, "vec_id").select(
        "vec_id", "embedding", F.lit("delete").alias("op")
    ).unionByName(
        arrivals.select("vec_id", "embedding", F.lit("insert").alias("op"))
    )
    mon(mixed, 0)
    # append-only: the init partition is untouched by the delete (the
    # mask does the work); batch 0 only ADDED the arrival codes
    assert sorted(map(tuple, mon.codes(spark, -1).collect())) == before
    n_arr = arrivals.count()
    from flink_pipeline_spark.streaming.pq_index import PQIndexMonitor  # noqa: F401

    assert mon.codes(spark, 0).count() == len(before) + n_arr * mon.m
    served = mon.adc_topk(spark, queries, 0, k=5).collect()
    assert served and not {r.neighbor_id for r in served} & dead
    tombs = sorted(r.vec_id for r in mon.tombs(spark, 0).collect())
    assert set(tombs) == dead
    mon(mixed, 0)  # crash replay
    assert sorted(
        r.vec_id for r in mon.tombs(spark, 0).collect()
    ) == tombs
    assert sorted(
        map(tuple, mon.adc_topk(spark, queries, 0, k=5).collect())
    ) == sorted(map(tuple, served))


def test_ivfpq_delete_query_never_returns_deleted(spark):
    """The registered compressed-delete row keeps the contract
    literal, and its store is published once (mtime-stable)."""
    from flink_pipeline_spark.plans.pq_serve import q_sim_ivfpq_delete

    emb, dels, _ = _del_split(spark)
    dead = {r.vec_id for r in dels.collect()}
    first = sorted(map(tuple, q_sim_ivfpq_delete(spark, SMALL_SF).collect()))
    assert first and not {t[1] for t in first} & dead
    second = sorted(map(tuple, q_sim_ivfpq_delete(spark, SMALL_SF).collect()))
    assert first == second
