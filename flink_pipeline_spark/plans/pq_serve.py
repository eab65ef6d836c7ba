"""Compressed-index SERVING — q_sim_ivfpq_rerank's two-stage shape
(ADC shortlist from PQ codes, exact full-vector re-rank) served from
a PERSISTED store instead of built per run (r11 verdict's #6 ask):
streaming/pq_index.py holds the frozen residual codebook, the
centroid set, and the append-only cell-tagged code log; the corpus
parquet remains the cold full-vector tier the re-rank randomly reads
at shortlist width — the DiskANN memory-bounded serving layout
expressed as two parquet tiers.

The served answer must equal the built-fresh answer (the store is
the deterministic build persisted), so q_sim_ivfpq_serve registers
q_sim_ivfpq_rerank's ORACLE TEXT VERBATIM — the q_sim_hnsw_search
contract applied to the compressed family: a stale or corrupted
store surfaces as a driver hash mismatch, never a silent wrong
answer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import round_agg, round_sql
from ..streaming.heavy import build_once, store_key
from .ann_delete import NSW_DELETE_MOD, NSW_DELETE_REM, hash_slice_deletes
from .llm_ops import (
    IVF_SEED_CENTROIDS,
    PQ_QUERY_MAX,
    RERANK_SHORTLIST,
    corpus_file_identity,
    exact_rerank,
)
from .registry import ORACLES, register

# persisted-index cache root for the compressed serving query: one
# trained store per heavy.store_key key (corpus identity, package code)
PQ_INDEX_CACHE = "/tmp/fps_pq_index"
PQ_SERVE_NPROBE = 2
PQ_SERVE_NCODES = 16


def _pq_store(name: str, sf_dir: str, *material) -> str:
    """Path of the compressed store for ``sf_dir`` — the base store
    when ``name`` is empty, else the store derived from it under
    ``name`` and ``material`` (heavy.store_key adds the code
    identity)."""
    key = store_key("pq", sf_dir, corpus_file_identity(sf_dir), *material)
    return os.path.join(PQ_INDEX_CACHE, f"{name}-{key}" if name else key)


def _pq_monitor(store_dir: str):
    from ..streaming.pq_index import PQIndexMonitor

    return PQIndexMonitor(
        store_dir, n_codes=PQ_SERVE_NCODES, nprobe=PQ_SERVE_NPROBE
    )


def pq_store_for(spark: SparkSession, sf_dir: str):
    """The persisted IVFADC store monitor for ``sf_dir``, trained once
    and published by heavy.build_once."""

    def build(tmp: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        _pq_monitor(tmp).init(
            emb, emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
        )

    return build_once(_pq_store("", sf_dir), build, _pq_monitor)


@register("q_sim_ivfpq_serve", oracle=ORACLES["q_sim_ivfpq_rerank"])
def q_sim_ivfpq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage compressed retrieval SERVED FROM THE PERSISTED STORE
    — the serving form of q_sim_ivfpq_rerank: first use trains the
    residual codebook and codes the corpus once (streaming/
    pq_index.PQIndexMonitor.init — the identical deterministic
    build), publishing atomically under a cache key derived from the
    corpus identity AND the package's code identity (heavy.store_key);
    every subsequent run is SERVE-ONLY —
    probe the stored centroids, LUT against the stored codebook, ADC
    over the stored code log (operators/llm.ivfpq_scan, the same
    stage the batch query runs) to a top-{short} shortlist, then
    exact-rerank those ids against the full-vector corpus parquet
    (the shared exact_rerank — one rescoring rule). The bench entry
    therefore prices compressed serving (code-log scan + shortlist
    random reads) separated from the per-run quantizer training
    q_sim_ivfpq_rerank carries — and next to q_sim_hnsw_search it
    splits the serving cost of the two index families the store
    layer persists (graph vs compressed).

    Correctness contract: the store is the deterministic build's
    output persisted, so the served answer must equal the built-fresh
    one — this query registers q_sim_ivfpq_rerank's oracle text
    VERBATIM; a stale or corrupted store is a driver hash mismatch.

    Scale: the hot tier is m one-byte codes + a cell id per vector
    (~1/32 the float bytes — what a serving node holds in RAM at
    100 TB); the ADC scan is one hash join against a broadcast LUT
    with map-side-combined integer sums; the cold tier (full
    vectors) is randomly read at shortlist width only. Arriving
    vectors fold in append-only per micro-batch (coding is stateless
    given the frozen artifacts — the twelfth streaming deployment
    form, stream==batch + crash-replay pinned in
    tests/test_round12_ops.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    mon = pq_store_for(spark, sf_dir)
    short = mon.adc_topk(
        spark,
        emb.filter(F.col("vec_id") < PQ_QUERY_MAX),
        after_batch_id=-1,
        k=RERANK_SHORTLIST,
    ).select("query_id", "neighbor_id")
    return exact_rerank(emb, short, k=3)


q_sim_ivfpq_serve.__doc__ = q_sim_ivfpq_serve.__doc__.format(
    short=RERANK_SHORTLIST
)


def pq_delete_store_for(
    spark: SparkSession, sf_dir: str, mod: int, rem: int
):
    """The post-delete compressed store for the hash slice (``mod``,
    ``rem``): the base store's snapshot with the slice's tombstones
    folded through the monitor's own foreachBatch path as batch 0
    (codes untouched — the mask does the work), keyed on the corpus
    identity plus the slice and published by heavy.build_once."""

    def build(tmp: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        pq_store_for(spark, sf_dir).copy_base(tmp)(
            hash_slice_deletes(emb, mod, rem), 0
        )

    return build_once(_pq_store("del", sf_dir, mod, rem), build, _pq_monitor)


def pq_rewrite_store_for(
    spark: SparkSession, sf_dir: str, mod: int, rem: int
):
    """The REWRITTEN (compacted) compressed store: the (``mod``,
    ``rem``) post-delete store's code log rewritten through its
    tombstone mask (PQIndexMonitor.rewrite), keyed on the corpus
    identity plus the slice — the delete store's material, under its
    own name."""

    def build(tmp: str) -> None:
        pq_delete_store_for(spark, sf_dir, mod, rem).rewrite(
            spark, tmp, after_batch_id=0
        )

    store = _pq_store("rw", sf_dir, mod, rem)
    return build_once(store, build, _pq_monitor)


def _pq_masked_oracle(mod: int, rem: int) -> str:
    """The registered rerank oracle with a hash-slice tombstone mask
    injected at the ADC code scan (assert-unique anchor — the
    _register_ivfpq_rerank surgery convention), parameterized over the
    slice so the base-density and high-density delete rows share ONE
    mask-injection rule. Masking the deleted vectors' code rows is
    EXACTLY what serving does, and because coding is per-vector under
    FROZEN artifacts, the masked scan equals an index that never held
    them; the exact re-rank stage only ever sees the survivor
    shortlist, so it needs no mask of its own."""
    from ..functions.portable import hash56_sql_duckdb

    sql = ORACLES["q_sim_ivfpq_rerank"]
    anchor = "WHERE x.vec_id <> l.query_id"
    assert sql.count(anchor) == 1, "ivfpq rerank oracle shape changed"
    h = hash56_sql_duckdb("x.vec_id")
    return sql.replace(
        anchor,
        anchor + f"\n          AND {h} % {mod} <> {rem}",
    )


@register(
    "q_sim_ivfpq_delete",
    oracle=_pq_masked_oracle(NSW_DELETE_MOD, NSW_DELETE_REM),
)
def q_sim_ivfpq_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed retrieval SERVED AFTER A DELETE BATCH — the delete
    lifecycle completed on the SECOND index family (q_sim_hnsw_delete
    is the graph store's form): the shared base pq store is copied,
    the hash-slice tombstones (the same deterministic ~1/8 slice the
    graph delete row uses) fold through the monitor's foreachBatch
    path as batch 0 — the code log is NOT rewritten; serving masks
    tombstoned rows with one anti-join on the ~1/32-size hot tier —
    and every run serves the two-stage shape from the post-delete
    snapshot. The contrast with the graph family is the point:
    a graph index must CONSOLIDATE on delete (edges through the hole
    break navigability), while a flat compressed index deletes by
    masking alone, deferring reclamation to an offline log rewrite —
    the two production delete disciplines, both priced.

    Correctness contract: coding is per-vector under FROZEN training
    artifacts, so the masked scan equals an index that never held the
    deleted vectors — the oracle is the rerank text with the
    tombstone mask injected at the ADC code scan; a stale store or a
    leaking mask is a driver hash mismatch.

    Scale: one anti-join on the code log on top of q_sim_ivfpq_serve's
    flat serving profile; the delete fold writes |D| tombstone rows
    and touches nothing else."""
    emb = load_table(spark, sf_dir, "embeddings")
    mon = pq_delete_store_for(
        spark, sf_dir, NSW_DELETE_MOD, NSW_DELETE_REM
    )
    short = mon.adc_topk(
        spark,
        emb.filter(F.col("vec_id") < PQ_QUERY_MAX),
        after_batch_id=0,
        k=RERANK_SHORTLIST,
    ).select("query_id", "neighbor_id")
    return exact_rerank(emb, short, k=3)


@register(
    "q_sim_ivfpq_rewrite",
    oracle=_pq_masked_oracle(NSW_DELETE_MOD, NSW_DELETE_REM),
)
def q_sim_ivfpq_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed retrieval served from the REWRITTEN (compacted)
    code log — the offline reclamation q_sim_ivfpq_delete's masking
    discipline defers, now priced (r12 verdict's #2 ask): the
    post-delete store's code log is rewritten once through its
    tombstone mask (PQIndexMonitor.rewrite — surviving rows
    consolidate into one fresh sentinel partition, the tombstone log
    disappears, dead bytes are reclaimed), and every run serves the
    two-stage shape from the compacted store with NO live tombstone
    set: the per-query anti-join degenerates against an empty mask
    and the ADC scan touches no dead code row. Next to
    q_sim_ivfpq_delete in the bench, this row is the measured answer
    to "what does the deferred mask cost, and does the rewrite buy
    it back".

    Correctness contract — the equivalence gate: coding is
    per-vector under frozen artifacts, so dropping masked rows
    commutes with the scan and post-rewrite serve must equal masked
    serve. This query registers q_sim_ivfpq_delete's oracle text
    VERBATIM — a rewrite that loses a survivor, resurrects a
    tombstone, or re-codes anything is a driver hash mismatch (and
    the pytest pins store-level equality plus the no-tombs/row-count
    invariants).

    Scale: the rewrite is one anti-joined scan of the ~1/32-size hot
    tier, written back partitioned — the classic offline compaction;
    serving afterward is q_sim_ivfpq_serve's flat profile with the
    mask cost removed."""
    emb = load_table(spark, sf_dir, "embeddings")
    mon = pq_rewrite_store_for(
        spark, sf_dir, NSW_DELETE_MOD, NSW_DELETE_REM
    )
    short = mon.adc_topk(
        spark,
        emb.filter(F.col("vec_id") < PQ_QUERY_MAX),
        after_batch_id=-1,
        k=RERANK_SHORTLIST,
    ).select("query_id", "neighbor_id")
    return exact_rerank(emb, short, k=3)


# ---------------------------------------------------------------------------
# Tombstone-density rewrite TRIGGER + the high-density masked/rewritten
# serving pair (r13 verdict's #3 ask)
# ---------------------------------------------------------------------------

# the HIGH-density delete slice: ~1/2 of the corpus tombstoned — the
# regime where the deferred mask measurably costs (at the base 1/8
# density the masked and rewritten serves bench within noise of each
# other, SCALING 13e — i.e. the rewrite was priced exactly where it
# doesn't matter)
HD_DELETE_MOD = 2
HD_DELETE_REM = 1
# the compaction policy gate: rewrite when tombstones reach >= 1/4 of
# the coded id space (exact integer comparison — no float enters the
# decision). The base 1/8-density store sits under the gate (keep
# masking), the 1/2-density store trips it (compact).
REWRITE_TOMB_NUM = 1
REWRITE_TOMB_DEN = 4


def _rewrite_trigger_oracle() -> str:
    from ..functions.portable import hash56_sql_duckdb

    h = hash56_sql_duckdb("vec_id")
    share = round_sql("n_tombs::DOUBLE / n_indexed")
    rule = (
        f"n_tombs * {REWRITE_TOMB_DEN} >= "
        f"CAST(n_indexed AS BIGINT) * {REWRITE_TOMB_NUM}"
    )
    return f"""
    WITH stats AS (
        SELECT 'base' AS store,
               CAST(count(*) AS BIGINT) AS n_indexed,
               CAST(sum(CASE WHEN {h} % {NSW_DELETE_MOD} = {NSW_DELETE_REM}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_tombs
        FROM embeddings
        UNION ALL
        SELECT 'high',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN {h} % {HD_DELETE_MOD} = {HD_DELETE_REM}
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM embeddings
    )
    SELECT store, n_indexed, n_tombs,
           {share} AS tomb_share,
           {rule} AS rewrite
    FROM stats
    """


@register("q_pq_rewrite_trigger", oracle=_rewrite_trigger_oracle())
def q_pq_rewrite_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compaction POLICY GATE the rewrite lacked (r13 verdict's
    #3 ask — the q_ann_drift_refresh convention on the compaction
    axis): for each post-delete compressed store — the base
    ~1/8-density one and the high ~1/2-density one — read the ACTUAL
    persisted hot tier (code log + tombstone log, through the
    monitor's own readers) and decide in-row whether the tombstone
    share has reached the rewrite threshold ({num}/{den} of the coded
    id space, an exact integer comparison). The base store sits under
    the gate (keep masking — the measured masked-vs-rewritten delta
    at that density is ~zero, SCALING 13e), the high store trips it
    (compact — the q_sim_ivfpq_delete_hd / q_sim_ivfpq_rewrite_hd
    bench pair prices what the decision buys at that density).

    Correctness contract: the statistics come from the STORES, the
    oracle recomputes them from the deterministic hash-slice
    definitions — a store whose tombstone log diverges from the
    registered delete rule (or whose code log lost rows) is a driver
    hash mismatch.

    Scale: two aggregations over the ~1/32-size hot tier's id
    column — the cheapest possible monitoring row; in production the
    trigger runs on the store's partition statistics alone."""
    rows = []
    for label, mod, rem in (
        ("base", NSW_DELETE_MOD, NSW_DELETE_REM),
        ("high", HD_DELETE_MOD, HD_DELETE_REM),
    ):
        mon = pq_delete_store_for(spark, sf_dir, mod, rem)
        codes = mon.codes(spark, 0)
        tombs = mon.tombs(spark, 0)
        rows.append(
            codes.agg(
                F.countDistinct("vec_id").cast("long").alias("n_indexed")
            )
            .crossJoin(
                F.broadcast(
                    tombs.agg(F.count("*").cast("long").alias("n_tombs"))
                )
            )
            .select(
                F.lit(label).alias("store"),
                "n_indexed",
                "n_tombs",
                round_agg(
                    F.col("n_tombs").cast("double") / F.col("n_indexed")
                ).alias("tomb_share"),
                (
                    F.col("n_tombs") * REWRITE_TOMB_DEN
                    >= F.col("n_indexed") * REWRITE_TOMB_NUM
                ).alias("rewrite"),
            )
        )
    return rows[0].unionByName(rows[1])


q_pq_rewrite_trigger.__doc__ = q_pq_rewrite_trigger.__doc__.format(
    num=REWRITE_TOMB_NUM, den=REWRITE_TOMB_DEN
)


@register(
    "q_sim_ivfpq_delete_hd",
    oracle=_pq_masked_oracle(HD_DELETE_MOD, HD_DELETE_REM),
)
def q_sim_ivfpq_delete_hd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed retrieval served through the ~1/2-density tombstone
    MASK — the high-density half of the trigger's bench pair: the
    code log still holds every coded row, half of them dead, and
    every query pays the anti-join against the large tombstone set
    plus the ADC scan over dead rows. This is the state the
    q_pq_rewrite_trigger decision says to leave (compact it);
    q_sim_ivfpq_rewrite_hd is the same store after taking the
    decision. The oracle is the shared mask-injection rule at the HD
    slice — a leaking mask is a driver hash mismatch."""
    emb = load_table(spark, sf_dir, "embeddings")
    mon = pq_delete_store_for(spark, sf_dir, HD_DELETE_MOD, HD_DELETE_REM)
    short = mon.adc_topk(
        spark,
        emb.filter(F.col("vec_id") < PQ_QUERY_MAX),
        after_batch_id=0,
        k=RERANK_SHORTLIST,
    ).select("query_id", "neighbor_id")
    return exact_rerank(emb, short, k=3)


@register(
    "q_sim_ivfpq_rewrite_hd",
    oracle=_pq_masked_oracle(HD_DELETE_MOD, HD_DELETE_REM),
)
def q_sim_ivfpq_rewrite_hd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed retrieval served AFTER the triggered compaction:
    the ~1/2-tombstoned code log rewritten once through its mask
    (PQIndexMonitor.rewrite — survivors consolidate, the tombstone
    log disappears, half the hot tier's bytes are reclaimed), then
    served with no live mask. Registers the SAME masked-serve oracle
    text verbatim (post-rewrite == masked-serve, the equivalence
    gate), and benches next to q_sim_ivfpq_delete_hd — the measured
    answer to "what does the mask cost at the density where the
    trigger fires, and does the rewrite buy it back"."""
    emb = load_table(spark, sf_dir, "embeddings")
    mon = pq_rewrite_store_for(spark, sf_dir, HD_DELETE_MOD, HD_DELETE_REM)
    short = mon.adc_topk(
        spark,
        emb.filter(F.col("vec_id") < PQ_QUERY_MAX),
        after_batch_id=-1,
        k=RERANK_SHORTLIST,
    ).select("query_id", "neighbor_id")
    return exact_rerank(emb, short, k=3)
