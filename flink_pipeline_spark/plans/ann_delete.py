"""ANN index DELETE lifecycle — tombstones, compaction, and the
post-delete serving audit (r11 verdict's top ask: the persisted index
had init/insert/search but a vector could never LEAVE it — no path
for a dedup pipeline that drops documents or a GDPR-style unindex).

Three registered rows complete the lifecycle:

* ``q_sim_nsw_delete`` — the batch form of the delete fold
  (operators/llm.nsw_delete: FreshDiskANN delete consolidation —
  drop dead lists, bridge-repair through the hole, re-prune touched
  survivors), searched by the standard audit query set; oracle
  replays build + compaction + beam CTE-by-CTE (the q_sim_nsw_insert
  convention).
* ``q_ann_delete_recall`` — does the COMPACTED graph still navigate?
  Recall/precision of post-delete search vs (a) a from-scratch
  rebuild on the survivors and (b) the exact survivor truth — the
  measured answer to "delete+compact == never-indexed", which no
  graph-level identity can promise (compaction repairs edges locally;
  a rebuild re-draws candidates globally).
* ``q_sim_hnsw_delete`` — the SERVING form: the persisted two-layer
  store (streaming/ann_index.py) with one delete batch folded in via
  the monitor's own foreachBatch path, searches served from the
  post-delete snapshot; oracle replays the full two-layer
  build + per-layer compaction + descent hand-off.

Reference contract: workflow.py's per-record transform slots
(ilveroluca/flink-pipeline workflow.py:60-118) cannot express a
stateful index mutation; this family is engine-level capability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import parallel_frames, stage
from ..catalog import load_table
from ..functions.portable import hash56, hash56_sql_duckdb
from ..operators.llm import (
    NSW_DEG,
    NSW_HOPS,
    nsw_delete,
    nsw_search,
    topk_neighbors_l2,
)
from ..streaming.heavy import build_once
from .llm_ops import (
    IVF_SEED_CENTROIDS,
    PQ_QUERY_MAX,
    _DISTQ_DUCK,
    _NSW_DISTQM,
    _NSW_QS_ENTRY_SQL,
    _hnsw_descent_sql,
    _hnsw_layers_sql,
    _hnsw_monitor,
    _hnsw_store,
    _nsw_beam_sql,
    _nsw_final_sql,
    _nsw_graph_sql_for,
    build_graph,
    hnsw_store_for,
)
from .recall_rollup import NEIGHBOR_KEYS, recall_rollup, recall_rollup_sql
from .registry import register

# the deleted slice: a deterministic ~1/8 hash residue, disjoint from
# layer-1's residue 0 and the insert family's residue 5 so the three
# deterministic subsets never degenerate into the same vectors
NSW_DELETE_MOD = 8
NSW_DELETE_REM = 3


def _dels_sql() -> str:
    h = hash56_sql_duckdb("vec_id")
    return f"""dels AS (
        SELECT vec_id FROM embeddings
        WHERE {h} % {NSW_DELETE_MOD} = {NSW_DELETE_REM}
    )"""


def _nsw_delete_sql(adj: str, p: str, keep_dist: bool = False) -> str:
    """kept/bridge/dadj CTE text — the delete consolidation over a
    scored adjacency CTE ``adj`` and the ``dels`` tombstone CTE,
    mirroring operators/llm.nsw_delete line by line: surviving edges
    keep their stored distance; every (survivor u -> deleted d) edge
    is replaced by bridge candidates (u -> w) for d's surviving
    out-neighbors w, scored ONCE per undirected pair in canonical
    (least, greatest) order; the union re-prunes per-src to 2*deg.
    ONE text shared by the single-layer row and both layers of the
    served form, so the compaction rule cannot fork."""
    dcol = ", dist_q" if keep_dist else ""
    return f"""{p}kept AS (
        SELECT a.src, a.dst, a.dist_q FROM {adj} a
        WHERE a.src NOT IN (SELECT vec_id FROM dels)
          AND a.dst NOT IN (SELECT vec_id FROM dels)
    ), {p}bridge AS (
        SELECT t.u AS src, t.w AS dst,
               {_DISTQ_DUCK.format(a='sa.embedding', b='sb.embedding')}
                   AS dist_q
        FROM (SELECT DISTINCT l.src AS u, o.dst AS w
              FROM {adj} l JOIN {adj} o ON o.src = l.dst
              WHERE l.src NOT IN (SELECT vec_id FROM dels)
                AND l.dst IN (SELECT vec_id FROM dels)
                AND o.dst NOT IN (SELECT vec_id FROM dels)
                AND o.dst <> l.src) t
        JOIN embeddings sa ON sa.vec_id = least(t.u, t.w)
        JOIN embeddings sb ON sb.vec_id = greatest(t.u, t.w)
    ), {p}dadj AS MATERIALIZED (
        SELECT src, dst{dcol} FROM (
            SELECT src, dst, dist_q,
                   row_number() OVER (
                       PARTITION BY src ORDER BY dist_q, dst) AS rn
            FROM (SELECT DISTINCT src, dst, dist_q FROM (
                      SELECT src, dst, dist_q FROM {p}kept
                      UNION ALL
                      SELECT src, dst, dist_q FROM {p}bridge) z) m
        ) t WHERE rn <= {2 * NSW_DEG}
    )"""


# entry for post-delete searches: the minimum SURVIVING vec_id (the
# global min may be tombstoned — seeding there would beam from a node
# the compacted graph no longer contains)
_SENTRY_SQL = """sentry AS (
        SELECT min(vec_id) AS node FROM embeddings
        WHERE vec_id NOT IN (SELECT vec_id FROM dels)
    )"""

_SENTRY_B0 = f"""SELECT q.query_id, e.node, {_NSW_DISTQM} AS dist_q
        FROM qs q CROSS JOIN sentry e JOIN embeddings m ON m.vec_id = e.node"""


def _final_survivor_sql(b_last: str) -> str:
    """Final ranking with the tombstone mask: excluded ids are dropped
    BEFORE ranking (operators/llm.nsw_search's ``exclude`` contract),
    so ranks stay gapless over survivors. On a compacted adjacency
    the mask is a no-op enforcing the contract."""
    return _nsw_final_sql(b_last, " AND node NOT IN (SELECT vec_id FROM dels)")


def _register_nsw_delete():
    """Build (scored) + delete-compaction + survivor-entry beam, every
    stage composing the shared text builders (the insert-row
    convention)."""
    oracle = (
        f"""
    WITH {_nsw_graph_sql_for("embeddings", "", keep_dist=True)}, {_dels_sql()},
    {_nsw_delete_sql("adj", "x")}, {_NSW_QS_ENTRY_SQL}, {_SENTRY_SQL}, """
        + _nsw_beam_sql("xdadj", "s", b0=_SENTRY_B0)
        + _final_survivor_sql(f"sb{NSW_HOPS}")
    )

    @register("q_sim_nsw_delete", oracle=oracle)
    def q_sim_nsw_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
        """NSW index DELETE + compaction (FreshDiskANN's delete
        consolidation, Singh et al. 2021 — the operation that
        completes the index lifecycle init/insert/search started): a
        deterministic ~1/{mod} hash slice of the corpus is unindexed
        from the built graph — deleted nodes' edge lists drop, every
        survivor that lost an edge to a deleted node adopts that
        node's surviving out-neighbors as repair candidates (the
        bridge through the hole that keeps the graph navigable), and
        touched lists re-prune to their 2*{deg} nearest — then the
        standard audit query set searches the COMPACTED graph from
        the minimum surviving entry. No rebuild anywhere; a deleted
        vector can never be returned (the final rank carries the
        tombstone mask, a no-op here by construction — the beam can
        only reach survivors — kept to make the contract literal).

        Scale: edges into the deleted set are <= 2*{deg} x |D|, so
        repair work is O(|D| * deg^2) — linear in the delete batch,
        independent of corpus size; membership tests are
        key-partitioned anti/semi joins (the delete set is
        corpus-derived, deliberately never broadcast); the re-prune
        is one per-src window. The serving twin — the same fold
        applied to the persisted store via foreachBatch, tombstones
        appended, stream==batch pinned — is streaming/ann_index.py;
        q_ann_delete_recall measures what compaction preserves vs a
        from-scratch rebuild."""
        emb = load_table(spark, sf_dir, "embeddings")
        is_del = (
            hash56(F.col("vec_id")) % NSW_DELETE_MOD == NSW_DELETE_REM
        )
        adj0 = build_graph(
            emb,
            emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS),
            keep_dist=True,
        )
        dels = emb.filter(is_del).select("vec_id")
        dadj = stage(nsw_delete(emb, adj0, dels, NSW_DEG))
        surv = emb.filter(~is_del)
        return nsw_search(
            surv,
            emb.filter(F.col("vec_id") < PQ_QUERY_MAX),
            dadj.select("src", "dst"),
            k=3,
            exclude=dels,
        )

    q_sim_nsw_delete.__doc__ = q_sim_nsw_delete.__doc__.format(
        mod=NSW_DELETE_MOD, deg=NSW_DEG
    )
    return q_sim_nsw_delete


q_sim_nsw_delete = _register_nsw_delete()


def _register_delete_recall():
    """Three searches over one survivor truth: the compacted graph,
    a from-scratch rebuild on the survivors, and the exact
    brute-force top-3 — all composed from the shared builders."""
    truth_sql = f"""truth AS MATERIALIZED (
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
    oracle = (
        f"""
    WITH {_nsw_graph_sql_for("embeddings", "", keep_dist=True)}, {_dels_sql()},
    {_nsw_delete_sql("adj", "x")}, sv AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id NOT IN (SELECT vec_id FROM dels)
    ), {_nsw_graph_sql_for("sv", "r")}, {_NSW_QS_ENTRY_SQL}, {_SENTRY_SQL},
    {truth_sql}, """
        + _nsw_beam_sql("xdadj", "c", b0=_SENTRY_B0)
        + ", "
        + _nsw_beam_sql("radj", "g", b0=_SENTRY_B0)
        + f""", cm AS (
        SELECT query_id, neighbor_id FROM ({_final_survivor_sql(f'cb{NSW_HOPS}')}) x
    ), rm AS (
        SELECT query_id, neighbor_id FROM ({_nsw_final_sql(f'gb{NSW_HOPS}')}) x
    ), {recall_rollup_sql(
        {'exact': 'truth', 'compacted': 'cm', 'rebuilt': 'rm'}, NEIGHBOR_KEYS)}
    SELECT * FROM rollup
    """
    )

    @register("q_ann_delete_recall", oracle=oracle)
    def q_ann_delete_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Post-delete navigability audit — the measured answer to
        "is delete+compact as good as never having indexed the
        deleted slice?", which no graph identity can promise (the
        compaction repairs edges LOCALLY through each hole; a rebuild
        re-draws candidates globally), so it is priced instead:

          'compacted' — beam search over the delete-compacted graph
                        (q_sim_nsw_delete's index);
          'rebuilt'   — the same beam over a from-scratch nsw_graph
                        built on the survivors only (what
                        never-indexed would serve);
          'exact'     — brute-force top-3 by quantized L2 among the
                        survivors, the recall=1 control row.

        compacted == rebuilt recall is the serving claim a production
        store makes when it tombstones instead of rebuilding; a gap
        here is the price of deferring compaction-quality work, and
        this row is where it would show.

        Scale: the truth stage is queries x survivor corpus
        (broadcast query side — the vetted linear audit class); both
        method stages are O(beam * deg * hops) per query; the hit
        join and rollup run on <= 3k rows; the denominator is a
        1-row broadcast (audit convention)."""
        emb = load_table(spark, sf_dir, "embeddings")
        is_del = (
            hash56(F.col("vec_id")) % NSW_DELETE_MOD == NSW_DELETE_REM
        )
        seeds = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
        queries = emb.filter(F.col("vec_id") < PQ_QUERY_MAX)
        dels = emb.filter(is_del).select("vec_id")
        surv = emb.filter(~is_del)
        # three INDEPENDENT eager chains — the original build + its
        # delete-compaction, the survivor rebuild, and the exact truth
        # — overlap on driver threads (guide §2.6) instead of running
        # their stage jobs back-to-back
        dadj, radj, truth = parallel_frames(
            lambda: stage(
                nsw_delete(
                    emb, build_graph(emb, seeds, keep_dist=True), dels, NSW_DEG
                )
            ),
            lambda: build_graph(surv, seeds),
            lambda: (
                topk_neighbors_l2(surv, queries, k=3)
                .select("query_id", "neighbor_id")
                .transform(stage)
            ),
        )
        comp = nsw_search(
            surv, queries, dadj.select("src", "dst"), k=3, exclude=dels
        ).select("query_id", "neighbor_id")
        reb = nsw_search(surv, queries, radj, k=3).select(
            "query_id", "neighbor_id"
        )
        return recall_rollup(
            spark, truth, {"exact": truth, "compacted": comp, "rebuilt": reb}
        )

    return q_ann_delete_recall


q_ann_delete_recall = _register_delete_recall()


def hash_slice_deletes(emb: DataFrame, mod: int, rem: int) -> DataFrame:
    """(vec_id, embedding, op='delete'): the vectors whose hash56
    residue mod ``mod`` is ``rem``, as a delete batch for the
    index-store monitors — the one deterministic delete slice every
    post-delete store folds (the base ~1/8 slice and the ~1/2 one)."""
    return emb.filter(hash56(F.col("vec_id")) % mod == rem).select(
        "vec_id", "embedding", F.lit("delete").alias("op")
    )


def hnsw_delete_store_for(spark: SparkSession, sf_dir: str):
    """The persisted post-delete HNSW index monitor for ``sf_dir``:
    the BASE store's snapshot (built once, shared with
    q_sim_hnsw_search) with ONE delete batch (the hash-slice
    tombstones) folded through the monitor's own foreachBatch path as
    batch 0, keyed on the corpus identity under the name "del" and
    published by heavy.build_once."""

    def build(tmp: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        hnsw_store_for(spark, sf_dir).copy_base(tmp)(
            hash_slice_deletes(emb, NSW_DELETE_MOD, NSW_DELETE_REM), 0
        )

    store = _hnsw_store("del", sf_dir)
    return build_once(store, build, _hnsw_monitor)


def _hnsw_delete_ctes(dels_sql: str) -> str:
    """The WITH-body of the two-layer post-delete unroll: both layer
    graphs (scored), the ``dels`` tombstone CTE (parameterized —
    q_sim_hnsw_delete passes the hash slice, the dedup→unindex row
    passes the dedup drop set), per-layer delete consolidation, and
    the shared two-layer descent over the compacted graphs from the
    minimum SURVIVING layer-1 member (final CTE ``bb{NSW_HOPS}``).
    Factored out of the full oracle (r13) so the unindex recall audit
    can compose the same beams with its own truth/rollup tail."""
    uentry = """uentry AS (
        SELECT min(vec_id) AS node FROM l1v
        WHERE vec_id NOT IN (SELECT vec_id FROM dels)
    )"""
    return (
        f"""{_hnsw_layers_sql(keep_dist=True)}, {dels_sql},
    {_nsw_delete_sql("uadj", "du")}, {_nsw_delete_sql("zadj", "dz")},
    {_NSW_QS_ENTRY_SQL}, {uentry}, """
        + _hnsw_descent_sql("qs", "dudadj", "dzdadj", "a", "b")
    )


def _hnsw_delete_oracle_sql() -> str:
    """The full two-layer post-delete unroll: both layer graphs
    (scored), the shared tombstone slice, per-layer delete
    consolidation, the layer-1 beam from the minimum SURVIVING
    layer-1 member, the per-query hand-off, the base-layer beam over
    the compacted base graph, and the survivor-masked final ranking
    — every stage composed from the same text builders as
    q_sim_hnsw_topk/q_sim_nsw_delete."""
    return (
        "\n    WITH "
        + _hnsw_delete_ctes(_dels_sql())
        + _final_survivor_sql(f"bb{NSW_HOPS}")
    )


@register("q_sim_hnsw_delete", oracle=_hnsw_delete_oracle_sql())
def q_sim_hnsw_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-layer HNSW search SERVED FROM THE PERSISTED STORE AFTER A
    DELETE BATCH — the serving form of q_sim_nsw_delete and the row
    that makes the store's lifecycle complete (init -> insert ->
    DELETE -> search): the shared base store (q_sim_hnsw_search's,
    built once) is copied, the hash-slice tombstones fold through the
    monitor's own foreachBatch path as batch 0 — both layer
    adjacencies compact via operators/llm.nsw_delete, tombstones
    append to the store's log — and every subsequent run serves
    search-only from the post-delete snapshot, with the tombstone
    mask excluding deleted ids from the final beam (a no-op on the
    compacted graph, kept to make the never-serve-deleted contract
    literal). The post-delete store is cache-keyed on the corpus
    identity and the package's code identity (heavy.store_key), so an
    edited compaction rule or delete constant can never serve a stale
    snapshot.

    Correctness contract: the stored post-delete snapshot is the
    deterministic compaction of the deterministic build, so the
    served answer must equal the replayed one — the oracle unrolls
    both layer builds, both per-layer consolidations, the layer-1
    descent from the minimum SURVIVING layer-1 member, the hand-off,
    and the survivor-masked final rank. A stale or corrupted store
    surfaces as a driver hash mismatch.

    Scale: serving touches O(beam * 2*deg * hops) nodes per query
    independent of corpus size — unchanged by the delete (the
    SCALING probe pins serve-stays-flat post-delete); the one-time
    compaction is O(|D| * deg^2) repair work on key-partitioned
    joins, never a rebuild. Stream==batch and crash-replay are
    pytest-pinned (tests/test_round12_ops.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    mon = hnsw_delete_store_for(spark, sf_dir)
    return mon.search(
        spark, emb.filter(F.col("vec_id") < PQ_QUERY_MAX), after_batch_id=0
    )
