"""RADIUS (threshold) search — the vector-store query form the top-k
family cannot express (r12 verdict's #5 ask): "every match within
distance r" is what a dedup sweep, a GDPR similarity hold, or a
duplicate-claim verifier actually asks, and both index families
should serve it. Three rows:

* ``q_sim_radius`` — IVF-probed radius search (probe the 2 best
  cells, exact BIGINT quantized L2, threshold filter — NO per-query
  window anywhere: the cheapest plan in the search family).
* ``q_sim_hnsw_radius`` — the graph form SERVED FROM THE PERSISTED
  STORE: the standard two-layer traversal, with the full visited set
  (already scored — the hnsw_filtered_search insight) thresholded
  instead of truncated to k.
* ``q_sim_radius_recall`` — both vs the exact radius truth; the
  radius analogue of q_ann_recall.

Reference contract: ilveroluca/flink-pipeline has no vector surface;
this family extends SURVEY §2.11 L3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import parallel_frames, stage
from ..catalog import load_table
from ..operators.llm import (
    NORM2_SQL,
    SQDIST_Q_PRE_SQL,
    SQDIST_Q_SQL,
    radius_neighbors_ivf,
)
from .ann_filtered import _visited_sql
from .llm_ops import (
    IVF_SEED_CENTROIDS,
    PQ_QUERY_MAX,
    _DISTQ_DUCK,
    _NSW_QS_ENTRY_SQL,
    _SEED_ASSIGN_DUCK,
    _UENTRY_SQL,
    _hnsw_descent_sql,
    _hnsw_layers_sql,
    hnsw_store_for,
)
from .recall_rollup import NEIGHBOR_KEYS, recall_rollup, recall_rollup_sql
from .registry import register

# the radius in BIGINT ten-thousandths quantized squared L2 — the
# family's shared distance. Fixture-calibrated: ~18-30 true matches
# per query at sf0.001/0.01, ~110 at sf0.1 (measured), so the result
# set exercises multi-match semantics without ballooning the audit.
RADIUS_Q = 16000


# the per-query probe choice on quantized cosine, PQ_QUERY_MAX queries
# (the q_sim_ivfpq_topk probe text at this family's query set)
_RADIUS_PROBES_DUCK = f"""probes AS (
        SELECT query_id, cell FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cell,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY floor({{cos}} * 10000 + 0.5) / 10000 DESC,
                                c.vec_id) AS rn
            FROM embeddings q JOIN embeddings c
              ON c.vec_id < {IVF_SEED_CENTROIDS}
            WHERE q.vec_id < {PQ_QUERY_MAX}
        ) t WHERE rn <= 2
    )"""


def _radius_probes_sql() -> str:
    from .llm_ops import _COS_DUCK

    return _RADIUS_PROBES_DUCK.format(
        cos=_COS_DUCK.format(a="q.embedding", b="c.embedding")
    )


_RADIUS_IVF_SELECT = f"""SELECT p.query_id, m.vec_id AS neighbor_id,
           {_DISTQ_DUCK.format(a='q.embedding', b='m.embedding')} AS dist_q
    FROM probes p
    JOIN embeddings q ON q.vec_id = p.query_id
    JOIN assigned a ON a.cell = p.cell
    JOIN embeddings m ON m.vec_id = a.vec_id
    WHERE m.vec_id <> p.query_id
      AND {_DISTQ_DUCK.format(a='q.embedding', b='m.embedding')}
          <= {RADIUS_Q}"""


@register(
    "q_sim_radius",
    oracle=f"""
    WITH assigned AS ({_SEED_ASSIGN_DUCK}
    ), {_radius_probes_sql()}
    {_RADIUS_IVF_SELECT}
    """,
)
def q_sim_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RADIUS search over the IVF index: every probed-cell member
    within quantized squared L2 {r} of each query (vec_id < 4) — the
    threshold form of q_sim_ivf_topk, completing the vector-store
    query surface (top-k answers "best k", radius answers "all within
    r"; a dedup sweep or similarity hold needs the latter). Probe
    choice and distance replay bit-for-bit in the oracle (rounded
    cosine probe rank, exact BIGINT distances, threshold as a WHERE
    clause over the same distance text).

    Scale: the LIGHTEST search plan in the family — broadcast probe
    table onto the cell-pruned scan, pushed threshold filter, and NO
    per-query window at all (top-k's one wide op, gone): zero
    shuffles touch the candidate rows. Recall vs exact truth is
    quantizer-bounded, audited in q_sim_radius_recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    return radius_neighbors_ivf(
        emb,
        emb.filter(F.col("vec_id") < PQ_QUERY_MAX),
        emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS),
        radius_q=RADIUS_Q,
        nprobe=2,
    )


q_sim_radius.__doc__ = q_sim_radius.__doc__.format(r=RADIUS_Q)


def _hnsw_radius_with() -> str:
    """WITH-fragment: the standard two-layer descent (the
    _hnsw_oracle_sql shape at the PQ_QUERY_MAX query set), the base
    beam's scored visited set, and the thresholded result ``gradius``."""
    return (
        f"{_hnsw_layers_sql()}, {_NSW_QS_ENTRY_SQL}, {_UENTRY_SQL}, "
        + _hnsw_descent_sql("qs", "uadj", "zadj", "u", "z")
        + f""", {_visited_sql("z", "qs")}, gradius AS (
        SELECT query_id, node AS neighbor_id, dist_q
        FROM zvis
        WHERE node <> query_id AND dist_q <= {RADIUS_Q}
    )"""
    )


@register(
    "q_sim_hnsw_radius",
    oracle="\n    WITH "
    + _hnsw_radius_with()
    + "\n    SELECT query_id, neighbor_id, dist_q FROM gradius\n    ",
)
def q_sim_hnsw_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RADIUS search SERVED FROM THE PERSISTED GRAPH INDEX: the
    standard two-layer descent + base beam over the shared store
    (q_sim_hnsw_search's — no second index, no extra traversal), with
    every node the search VISITS within quantized L2 {r} returned
    instead of the top-k truncation. The visited set is the search's
    full O(beam * 2*deg * hops) footprint, already scored — the same
    insight filtered search uses — so the radius form costs exactly
    the top-k plan minus the final window, plus one threshold filter.

    Recall is bounded by what the beam visits (a true match the
    traversal never reaches is missed — the graph analogue of the
    quantizer bound, priced vs the exact truth and the IVF form in
    q_sim_radius_recall; widening the beam is the knob, audited in
    q_ann_hnsw_beam). Tombstones compose: served through the store's
    mask like every other read.

    Scale: identical serving footprint to q_sim_hnsw_search,
    independent of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    mon = hnsw_store_for(spark, sf_dir)
    return mon.search_radius(
        spark,
        emb.filter(F.col("vec_id") < PQ_QUERY_MAX),
        after_batch_id=-1,
        radius_q=RADIUS_Q,
    )


q_sim_hnsw_radius.__doc__ = q_sim_hnsw_radius.__doc__.format(r=RADIUS_Q)


# ADC threshold for the compressed radius stage: ADC distances are
# approximations (residual quantization error in BOTH directions), so
# the code-level cut carries 1.5x slack and survivors exact-verify
# against the full-vector tier. Calibrated at sf0.01: every true
# match among the probed candidates sits under 1.4x (max 22242 vs
# RADIUS_Q 16000), so 1.5x loses none of them.
RADIUS_ADC_Q = RADIUS_Q * 3 // 2


def _pq_radius_body() -> str:
    """The compressed radius query body: the REGISTERED IVFADC oracle's
    probe/LUT/ADC chain with the final top-k rank replaced by the
    slacked ADC threshold + the exact full-vector verify (the
    two-stage radius discipline — the _register_ivfpq_rerank surgery
    convention, truncate-at-anchor form)."""
    from .registry import ORACLES

    sql = ORACLES["q_sim_ivfpq_topk"]
    anchor = "\n    SELECT query_id, neighbor_id, rank, adist_q FROM ("
    assert sql.count(anchor) == 1, "ivfpq oracle tail changed"
    head = sql[: sql.index(anchor)]
    dist = _DISTQ_DUCK.format(a="q.embedding", b="n.embedding")
    return (
        head
        + f"""
    SELECT s.query_id, s.neighbor_id, {dist} AS dist_q
    FROM scored s
    JOIN embeddings q ON q.vec_id = s.query_id
    JOIN embeddings n ON n.vec_id = s.neighbor_id
    WHERE s.adist_q <= {RADIUS_ADC_Q} AND {dist} <= {RADIUS_Q}
    """
    )


@register("q_sim_pq_radius", oracle=_pq_radius_body())
def q_sim_pq_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RADIUS search on the COMPRESSED family, served from the
    persisted IVFADC store — the FAISS range_search shape: the stored
    code log is scanned once per probed cell with ADC distances (the
    hot ~1/32-size tier, tombstones masked), rows within the SLACKED
    code-level cut ({cut} = 1.5x the radius — ADC approximates in
    both directions, so the code threshold must over-admit) survive
    to the exact verify, which reads full vectors at shortlist width
    only and keeps true matches within {r}. Completes the radius form
    on all three index families (flat IVF, graph, compressed).

    Correctness: survivors are exact-verified, so every returned pair
    is a true match (precision 1 by construction); recall is bounded
    by the probe choice and the slack (audited in
    q_sim_radius_recall's 'pq' row). The oracle is the registered
    IVFADC chain with the rank replaced by threshold + verify.

    Scale: the ADC stage is the same broadcast-LUT hash join + integer
    sum as compressed top-k with NO per-query window; the exact stage
    touches O(|survivors|) full vectors — at production quantization
    quality the code-level cut prunes hard (here the fixture's coarse
    codebook admits most probed candidates, priced honestly in the
    recall row's n_method)."""
    emb = load_table(spark, sf_dir, "embeddings")
    from .pq_serve import pq_store_for

    mon = pq_store_for(spark, sf_dir)
    short = mon.adc_radius(
        spark,
        emb.filter(F.col("vec_id") < PQ_QUERY_MAX),
        after_batch_id=-1,
        radius_adc=RADIUS_ADC_Q,
    ).select("query_id", "neighbor_id")
    q = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("eq")
    )
    return (
        emb.join(F.broadcast(short), F.col("vec_id") == F.col("neighbor_id"))
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.expr(SQDIST_Q_SQL.format(a="eq", b="embedding")).alias(
                "dist_q"
            ),
        )
        .filter(F.col("dist_q") <= RADIUS_Q)
    )


q_sim_pq_radius.__doc__ = q_sim_pq_radius.__doc__.format(
    cut=RADIUS_ADC_Q, r=RADIUS_Q
)


def _radius_recall_oracle() -> str:
    truth = f"""truth AS MATERIALIZED (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < {PQ_QUERY_MAX}
          AND {_DISTQ_DUCK.format(a='q.embedding', b='e.embedding')}
              <= {RADIUS_Q}
    )"""
    return (
        f"""
    WITH assigned AS ({_SEED_ASSIGN_DUCK}
    ), {_radius_probes_sql()}, ivf AS (
    {_RADIUS_IVF_SELECT}
    ), pqr AS ({_pq_radius_body()}
    ), {_hnsw_radius_with()}, {truth}, {recall_rollup_sql(
        {'exact': 'truth', 'ivf': 'ivf', 'pq': 'pqr', 'graph': 'gradius'},
        NEIGHBOR_KEYS)}
    SELECT * FROM rollup
    """
    )


@register("q_sim_radius_recall", oracle=_radius_recall_oracle())
def q_sim_radius_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-search recall audit — both serving forms vs the exact
    radius truth (every corpus vector within {r} of each query — the
    broadcast-query linear audit class):

      'ivf'   — probed-cell radius (q_sim_radius): misses matches
                assigned to unprobed cells (the quantizer bound);
                precision is 1 by construction (every returned pair
                is exact-verified by its own scoring).
      'pq'    — compressed radius over the persisted IVFADC store
                (q_sim_pq_radius): the probe bound PLUS whatever the
                slacked ADC cut drops; exact verify keeps precision
                at 1.
      'graph' — visited-set radius over the persisted store
                (q_sim_hnsw_radius): misses matches the beam never
                visits (the traversal bound); precision 1 likewise.
      'exact' — the truth itself, the recall=1 control row.

    The contrast is the operational answer to "which index serves a
    radius sweep better at this beam/nprobe" — and unlike top-k
    recall, radius recall degrades with the MATCH COUNT (a wider
    radius needs more of the corpus visited), which is exactly what
    the row pair shows as r grows.

    Scale: truth is queries x corpus broadcast-query linear; methods
    compose the registered searches; rollup on tiny frames."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < PQ_QUERY_MAX)
    qd = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("eq"),
        F.expr(NORM2_SQL.format(a="embedding")).alias("nq2"),
    )
    # the three serving forms and the exact truth are independent
    # chains (each with its own internal eager materializations) —
    # build them on concurrent driver threads (guide §2.6)
    ivf, pqr, graph, truth = parallel_frames(
        lambda: q_sim_radius(spark, sf_dir).select(
            "query_id", "neighbor_id"
        ),
        lambda: q_sim_pq_radius(spark, sf_dir).select(
            "query_id", "neighbor_id"
        ),
        lambda: q_sim_hnsw_radius(spark, sf_dir).select(
            "query_id", "neighbor_id"
        ),
        lambda: (
            emb.withColumn(
                "nb2", F.expr(NORM2_SQL.format(a="embedding"))
            )
            .join(F.broadcast(qd), F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                F.expr(
                    SQDIST_Q_PRE_SQL.format(
                        a="eq", b="embedding", na2="nq2", nb2="nb2"
                    )
                ).alias("dist_q"),
            )
            .filter(F.col("dist_q") <= RADIUS_Q)
            .select("query_id", "neighbor_id")
            .transform(stage)
        ),
    )
    return recall_rollup(
        spark, truth, {"exact": truth, "ivf": ivf, "pq": pqr, "graph": graph}
    )


q_sim_radius_recall.__doc__ = q_sim_radius_recall.__doc__.format(r=RADIUS_Q)
