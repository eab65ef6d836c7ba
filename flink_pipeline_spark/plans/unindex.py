"""Dedup → UNINDEX end-to-end — the production loop r11 and r12 built
two green halves of, composed (r12 verdict's top ask): `q_dedup_apply`
decides which documents a near-dup pipeline DROPS, and the persisted
index stores know how to DELETE — but nothing proved the handoff "the
dropped docs' vectors leave the serving indexes". Three rows close it:

* ``q_dedup_unindex`` — the dedup drop set folded as ONE delete batch
  through the persisted two-layer HNSW store's own foreachBatch path,
  searches served from the post-unindex snapshot; oracle = the full
  two-layer delete unroll with ``dels`` = the registered dedup-apply
  drop rule (the recursive-CTE cluster labels), composed verbatim.
* ``q_dedup_unindex_pq`` — the SAME drop batch through the compressed
  (IVFADC) store: tombstone masking, two-stage serve; oracle = the
  registered rerank oracle with the dedup drop mask injected at the
  ADC code scan.
* ``q_dedup_unindex_recall`` — the audit: served post-unindex search
  vs the exact keeper truth, with the no-dropped-doc-ever-served
  count pinned at zero in the same row.

The drop set attaches to the index via the doc_id == vec_id identity
of the fixture corpus (the q_hybrid_retrieval convention,
llm_ops.py), intersected with the INDEXED id space — at sf0.1 the
document corpus (5k) outnumbers the vector corpus (2k), exactly the
production shape where only embedded documents occupy the index.

Reference contract: ilveroluca/flink-pipeline workflow.py delegates
all record-level dataflow to external engines and has no index
lifecycle anywhere in its tree; this family is engine-level
capability the reference delegates to external services.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import parallel_frames, stage
from ..catalog import load_table
from ..operators.llm import NSW_HOPS, topk_neighbors_l2
from ..streaming.heavy import build_once
from .ann_delete import _final_survivor_sql, _hnsw_delete_ctes
from .llm_ops import (
    PQ_QUERY_MAX,
    RERANK_SHORTLIST,
    _DISTQ_DUCK,
    _MINHASH_ORACLE,
    _hnsw_monitor,
    _hnsw_store,
    corpus_file_identity,
    exact_rerank,
    hnsw_store_for,
    q_dedup_clusters,
)
from .pq_serve import _pq_monitor, _pq_store, pq_store_for
from .recall_rollup import NEIGHBOR_KEYS, recall_rollup, recall_rollup_sql
from .registry import ORACLES, register


def _dedup_dels_ctes() -> str:
    """The dedup DROP SET as a ``dels`` CTE chain — q_dedup_apply's
    registered drop rule verbatim (MinHash-LSH pairs -> recursive
    min-label components -> non-keeper members), intersected with the
    indexed id space. Every unindex oracle composes THIS text, so the
    drop rule cannot fork from the row that ships it. The recursive
    component labeling is CONTAINED in a nested WITH RECURSIVE inside
    the dels body, so composing oracles keep their outer WITH
    non-recursive — declaring the OUTER clause RECURSIVE made DuckDB
    misevaluate the beam-unroll CTEs it was composed with (duplicate
    beam rows, dropped queries; observed on DuckDB 1.x at sf0.001),
    and the nested form is the already-proven _MINHASH_ORACLE shape.
    dels is MATERIALIZED: the delete consolidations and masks
    reference it ~a dozen times, and DuckDB re-evaluates plain CTEs
    per reference (the _nsw_shrink_sql lesson)."""
    return f"""dels AS MATERIALIZED (
        WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}
        ), edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ), nodes AS (
            SELECT DISTINCT src AS id FROM edges
        ), reach(id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src
        ), clust AS (
            SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
        )
        SELECT c.doc_id AS vec_id
        FROM clust c JOIN embeddings e ON e.vec_id = c.doc_id
        WHERE c.doc_id <> c.cluster_id
    )"""


def dedup_drop_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, op='delete'): the near-dup drop set as a
    delete batch for the index-store monitors — q_dedup_apply's drop
    rule (the non-keeper members of q_dedup_clusters), mapped onto the
    index by the doc_id == vec_id identity and restricted to ids the
    index actually holds (one semi-join on the vector corpus).

    Scale: the drop set is dup-graph-sized (far under the corpus);
    the semi-join is key-partitioned; nothing here is new machinery —
    the whole point is that the production loop reuses the dedup
    pipeline's output as the delete feed."""
    emb = load_table(spark, sf_dir, "embeddings")
    drops = (
        q_dedup_clusters(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select(F.col("doc_id").alias("vec_id"))
    )
    return emb.join(drops, "vec_id", "semi").select(
        "vec_id", "embedding", F.lit("delete").alias("op")
    )


def hnsw_unindex_store_for(spark: SparkSession, sf_dir: str):
    """The persisted post-UNINDEX HNSW store: the shared base store's
    snapshot with the dedup drop batch folded through the monitor's
    own foreachBatch path as batch 0 (both layers compact via
    nsw_delete, tombstones append), keyed on the embedding AND
    document corpus identities (the drop set comes from the documents)
    and published by heavy.build_once."""

    def build(tmp: str) -> None:
        hnsw_store_for(spark, sf_dir).copy_base(tmp)(
            dedup_drop_batch(spark, sf_dir), 0
        )

    store = _hnsw_store(
        "unx", sf_dir, corpus_file_identity(sf_dir, "documents")
    )
    return build_once(store, build, _hnsw_monitor)


def pq_unindex_store_for(spark: SparkSession, sf_dir: str):
    """The post-UNINDEX compressed store: the base pq store's snapshot
    with the SAME dedup drop batch folded as batch 0 (codes untouched —
    tombstones mask at scan), keyed like hnsw_unindex_store_for."""

    def build(tmp: str) -> None:
        pq_store_for(spark, sf_dir).copy_base(tmp)(
            dedup_drop_batch(spark, sf_dir), 0
        )

    store = _pq_store(
        "unx", sf_dir, corpus_file_identity(sf_dir, "documents")
    )
    return build_once(store, build, _pq_monitor)


def _unindex_oracle() -> str:
    """The two-layer post-delete unroll with dels = the dedup drop
    set: ann_delete's shared CTE builder, parameterized by the
    recursive drop chain."""
    return (
        "\n    WITH "
        + _hnsw_delete_ctes(_dedup_dels_ctes())
        + _final_survivor_sql(f"bb{NSW_HOPS}")
    )


@register("q_dedup_unindex", oracle=_unindex_oracle())
def q_dedup_unindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup → unindex on the GRAPH family, end to end: the near-dup
    pipeline's drop set (q_dedup_apply's registered rule — pairs ->
    components -> non-keepers) becomes ONE delete batch folded through
    the persisted two-layer HNSW store's foreachBatch path; both layer
    adjacencies compact (operators/llm.nsw_delete — bridge-repair
    through each dropped doc's hole), tombstones append, and every run
    serves the standard audit queries from the post-unindex snapshot.
    This is the loop a training-data pipeline actually runs: dedup
    decides, the index forgets, retrieval never surfaces a dropped
    near-duplicate again.

    Correctness contract: the oracle composes the REGISTERED
    dedup-apply drop rule (the same recursive-CTE cluster labels) as
    the ``dels`` CTE of the full two-layer delete unroll — the
    q_sim_hnsw_delete text with the hash slice swapped for the real
    drop set. A drop set that diverges from the dedup row, a stale
    store, or a leaking tombstone is a driver hash mismatch.

    Scale: the drop set is dup-graph-sized; compaction is
    O(|drops| * deg^2) key-partitioned repair (never a rebuild); the
    drop set attaches to the corpus by one semi-join and is never
    broadcast; serving stays O(beam * deg * hops) per query —
    SCALING's serve-stays-flat claim carries over unchanged because
    the fold path is byte-identical to q_sim_hnsw_delete's."""
    emb = load_table(spark, sf_dir, "embeddings")
    mon = hnsw_unindex_store_for(spark, sf_dir)
    return mon.search(
        spark, emb.filter(F.col("vec_id") < PQ_QUERY_MAX), after_batch_id=0
    )


def _unindex_pq_oracle() -> str:
    """The registered rerank oracle with the dedup drop mask injected
    at the ADC code scan (the pq_serve._pq_masked_oracle surgery,
    dedup dels edition): masking the dropped docs' code rows is exactly
    what serving does, and coding is per-vector under frozen
    artifacts, so the masked scan equals an index that never held
    them."""
    sql = ORACLES["q_sim_ivfpq_rerank"]
    head = "\n    WITH short AS ("
    assert sql.count(head) == 1, "rerank oracle shape changed"
    sql = sql.replace(
        head,
        "\n    WITH " + _dedup_dels_ctes() + ", short AS (",
    )
    anchor = "WHERE x.vec_id <> l.query_id"
    assert sql.count(anchor) == 1, "ivfpq rerank oracle shape changed"
    sql = sql.replace(
        anchor,
        anchor + "\n          AND x.vec_id NOT IN (SELECT vec_id FROM dels)",
    )
    return sql


@register("q_dedup_unindex_pq", oracle=_unindex_pq_oracle())
def q_dedup_unindex_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup → unindex on the COMPRESSED family: the SAME drop batch
    (one dedup pipeline feeds both stores — the point of the
    composition) folds through the persisted IVFADC store as batch 0;
    the code log is not rewritten — serving masks the dropped docs'
    code rows with one anti-join on the ~1/32-size hot tier, then the
    two-stage shape (ADC shortlist, exact full-vector re-rank) serves
    from the post-unindex snapshot. Together with q_dedup_unindex this
    prices the two production delete disciplines on the REAL delete
    feed: the graph store consolidates, the flat store masks.

    Correctness contract: the oracle is the registered rerank text
    with the dedup drop mask injected at the ADC scan — the
    q_sim_ivfpq_delete surgery with the recursive drop chain as dels.

    Scale: one anti-join on the code log on top of the serve profile;
    the fold writes |drops| tombstone rows and touches nothing else."""
    emb = load_table(spark, sf_dir, "embeddings")
    mon = pq_unindex_store_for(spark, sf_dir)
    short = mon.adc_topk(
        spark,
        emb.filter(F.col("vec_id") < PQ_QUERY_MAX),
        after_batch_id=0,
        k=RERANK_SHORTLIST,
    ).select("query_id", "neighbor_id")
    return exact_rerank(emb, short, k=3)


def _unindex_recall_oracle() -> str:
    truth = f"""truth AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_DISTQ_DUCK.format(a='q.embedding',
                                                    b='e.embedding')},
                                e.vec_id) AS rank
            FROM embeddings q JOIN embeddings e
              ON e.vec_id <> q.vec_id
             AND e.vec_id NOT IN (SELECT vec_id FROM dels)
            WHERE q.vec_id < {PQ_QUERY_MAX}
        ) t WHERE rank <= 3
    )"""
    return (
        "\n    WITH "
        + _hnsw_delete_ctes(_dedup_dels_ctes())
        + f""", {truth}, served AS (
        SELECT query_id, neighbor_id FROM ({_final_survivor_sql(f'bb{NSW_HOPS}')}) x
    ), {recall_rollup_sql(
        {'exact': 'truth', 'served': 'served'}, NEIGHBOR_KEYS)}, dropped AS (
        SELECT method, CAST(count(*) AS BIGINT) AS n_dropped_served
        FROM rollup_m m JOIN dels d ON d.vec_id = m.neighbor_id
        GROUP BY method
    )
    SELECT r.* EXCLUDE (prec),
           CAST(coalesce(d.n_dropped_served, 0) AS BIGINT)
               AS n_dropped_served
    FROM rollup r LEFT JOIN dropped d ON d.method = r.method
    """
    )


@register("q_dedup_unindex_recall", oracle=_unindex_recall_oracle())
def q_dedup_unindex_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unindex AUDIT — "recall over keepers holds, and no dropped
    doc's vector is ever returned", measured in one row pair:

      'served' — the post-unindex store-served two-layer search
                 (q_dedup_unindex's exact path);
      'exact'  — brute-force top-3 by quantized L2 among the KEEPERS
                 (what a never-contaminated index would serve), the
                 recall=1 control row.

    ``n_dropped_served`` counts served neighbors that are in the drop
    set — the never-serve-dropped contract as a COLUMN, pinned 0 by
    pytest on every SF the suite runs (the oracle recomputes it
    independently, so a leak is both a red row and a red test).

    Scale: the truth stage is queries x keeper corpus with the query
    side broadcast (the vetted linear audit class); the served stage
    is O(beam * deg * hops) per query; the rollup runs on <= a few
    dozen rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < PQ_QUERY_MAX)

    def _served_chain() -> DataFrame:
        mon = hnsw_unindex_store_for(spark, sf_dir)
        return mon.search(spark, queries, after_batch_id=0).select(
            "query_id", "neighbor_id"
        )

    def _truth_chain() -> tuple[DataFrame, DataFrame]:
        # stage the drop set once: the dedup chain (shingles,
        # LSH, verify, connected components) otherwise re-executes in
        # BOTH the truth build and the final n_dropped_served rollup
        drops = (
            dedup_drop_batch(spark, sf_dir)
            .select("vec_id")
            .transform(stage)
        )
        surv = emb.join(drops, "vec_id", "left_anti")
        truth = (
            topk_neighbors_l2(surv, queries, k=3)
            .select("query_id", "neighbor_id")
            .transform(stage)
        )
        return drops, truth

    # the store-served search and the drop-set/exact-truth chain are
    # independent — overlap them on driver threads (guide §2.6)
    served, (drops, truth) = parallel_frames(_served_chain, _truth_chain)
    # the never-serve-dropped count rides next to the shared rollup
    dropped = (
        served.withColumn("method", F.lit("served"))
        .unionByName(truth.withColumn("method", F.lit("exact")))
        .join(drops.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .groupBy("method")
        .agg(F.count("*").cast("long").alias("n_dropped_served"))
    )
    rollup = recall_rollup(
        spark, truth, {"exact": truth, "served": served}
    ).drop("prec")
    return rollup.join(dropped, "method", "left").select(
        *rollup.columns,
        F.coalesce(F.col("n_dropped_served"), F.lit(0))
        .cast("long")
        .alias("n_dropped_served"),
    )
