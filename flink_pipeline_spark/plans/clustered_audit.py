"""PLANTED-STRUCTURE audits — the r13 verdict's #2 ask: four
registered ANN structure audits measure deliberate NULLS on the
isotropic random fixtures (q_sim_graph_expand's hop delta = 0,
q_sim_nsw_descent's refinement delta = 0, q_sim_maxsim_plaid's prune
recall 0.11–0.22, q_ann_hnsw_beam's non-monotone curve), and a reader
could not distinguish "the operator is right but the data has no
structure" from "the operator is wrong" without reading SCALING.
This module re-prices each audit on a DETERMINISTIC planted-structure
corpus so the non-null measurement sits in the registry next to the
isotropic null — same oracle discipline as the drift rows: the corpus
generation is replayed in the oracle as a CTE, bit-for-bit, and the
audit machinery is the REGISTERED rule (the oracle texts / the shared
Spark bodies), never a fork.

Three corpus variants, each tuned to the mechanism its audit exists
to measure (measured empirically — one corpus cannot serve all four:
beam navigation needs queries reachable from the fixed entry points,
the centroid prune needs cluster-occupancy variety, and the
probe-miss mechanism needs boundary-heavy query placement):

* LINE — a single polyline through 9 anchor points: position
  p(v) ∈ [0, 8) (queries pinned at p ≈ 4.0 in 0.01 steps, seeds 4–7
  spread along the line, half the corpus densified around the query
  zone), embedding = linear blend of the two adjacent anchors +
  ±0.01 jitter. Within the zone, the 4 query-coincident seeds carve
  THIN IVF slabs, so a query's true top-3 straddles more cells than
  its 2 probes cover — the classic IVF boundary miss that graph
  expansion exists to repair (→ q_gexp_clustered).
* NAV — the LINE shape with the whole corpus densified into
  p ∈ [3, 5], seeds 4–7 at 3.2/3.6/4.4/4.8, and the two FIXED search
  entry points placed inside the query zone: vec_id 0 (the min-id
  layer-0/NSW entry) is query 0, and vec_id 21 — the smallest id
  with hash56 % HNSW_L1_MOD == 0, i.e. the layer-1 entry the registered
  HNSW rows derive — is pinned at p = 4.005. Truth is reachable
  within the fixed hop budget, so graph quality (not entry
  distance) is what the rows measure (→ q_nsw_descent_clustered,
  q_hnsw_beam_clustered).
* ISLANDS — {K} well-separated clusters with HASHED membership
  (cluster(v) = v for the seeds, else hash-assigned, so doc/token
  groupings do not alias with cluster id), plus a per-cluster 1-D
  manifold (t(v) · dir) and jitter. A token's cell centroid IS its
  cluster signature, which is exactly the signal the PLAID
  centroid-interaction prune scores (→ q_plaid_clustered).

Every element is integer-hash arithmetic (the functions/portable
hash56 construction, inlined) followed by correctly-rounded double
ops written identically in both dialects, so Spark and DuckDB hold
bit-identical arrays (the drift-injection portability argument,
index_refresh.py). All plain constants are produced by a single
integer-to-double cast + one division by a power of ten — never a
bare non-integer literal folded through different decimal types.

Reference contract: ilveroluca/flink-pipeline has no index or audit
machinery; this family is engine-level capability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import stage
from ..catalog import load_table
from ..functions.portable import HASH56_HEX_DIGITS, round_agg, round_sql
from ..operators.llm import (
    NSW_DEG,
    NSW_HOPS,
    ivfpq_topk,
    nsw_descent,
    nsw_search,
    topk_neighbors_l2,
)
from .llm_ops import (
    IVF_SEED_CENTROIDS,
    PQ_QUERY_MAX,
    RERANK_SHORTLIST,
    _DISTQ_DUCK,
    _NSW_DESCENT_CTES,
    _NSW_GRAPH_SQL,
    _NSW_QS_ENTRY_SQL,
    _nsw_beam_sql,
    _nsw_final_sql,
    build_graph,
    exact_rerank,
    graph_expand_topk,
    hnsw_beam_audit,
)
from .maxsim import _maxsim_recall_frame
from .recall_rollup import NEIGHBOR_KEYS, recall_rollup, recall_rollup_sql
from .registry import ORACLES, register

CLUSTER_K = 8     # planted clusters == IVF seed count (one seed/cluster)
CLUSTER_DIM = 64  # the fixture embedding dimensionality
L1_ENTRY_ID = 21  # min vec_id with hash56 % HNSW_L1_MOD == 0 — the
                  # layer-1 entry every registered HNSW row derives;
                  # pinned (and asserted in tests) so the NAV corpus
                  # can place it inside the query zone
DESCENT_AUDIT_NODES = 32  # link-quality audit slice (src < 32)


def _h_spark(e: str) -> str:
    """hash56 as Spark SQL text (the functions/portable.hash56 column
    construction, inlined for use inside a transform lambda)."""
    return (
        f"CAST(conv(substring(md5(CAST({e} AS STRING)), 1, "
        f"{HASH56_HEX_DIGITS}), 16, 10) AS BIGINT)"
    )


def _h_duck(e: str) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({e} AS VARCHAR)), 1, "
        f"{HASH56_HEX_DIGITS})) AS BIGINT)"
    )


# -- the LINE / NAV polyline ------------------------------------------------

def _p_line(h) -> str:
    """Polyline position for the LINE corpus: queries at 4.00–4.03,
    seeds 4–7 at 1/3/5/7, half the corpus dense in [3.5, 4.5), the
    rest spread over [0.1, 7.9)."""
    return (
        "CASE WHEN vec_id < 4 THEN CAST(400 + vec_id AS DOUBLE) / 100.0 "
        "WHEN vec_id < 8 THEN CAST(2 * vec_id - 7 AS DOUBLE) "
        "WHEN vec_id % 2 = 0 THEN "
        f"CAST(3500 + {h('vec_id * 131 + 12345')} % 1000 AS DOUBLE) / 1000.0 "
        f"ELSE CAST(100 + {h('vec_id * 131 + 54321')} % 7800 AS DOUBLE)"
        " / 1000.0 END"
    )


def _p_nav(h) -> str:
    """Polyline position for the NAV corpus: queries at 4.00–4.03,
    the layer-1 entry id at 4.005, seeds 4–7 at 3.2/3.6/4.4/4.8, the
    whole corpus dense in [3, 5)."""
    return (
        "CASE WHEN vec_id < 4 THEN CAST(400 + vec_id AS DOUBLE) / 100.0 "
        "WHEN vec_id < 8 THEN CAST(16 + 4 * vec_id + "
        "4 * CAST(vec_id >= 6 AS INT) AS DOUBLE) / 10.0 "
        f"WHEN vec_id = {L1_ENTRY_ID} THEN CAST(4005 AS DOUBLE) / 1000.0 "
        f"ELSE CAST(3000 + {h('vec_id * 131 + 12345')} % 2000 AS DOUBLE)"
        " / 1000.0 END"
    )


def _line_elem(h) -> str:
    """One element of the polyline embedding: blend of the two
    adjacent anchors at position p (a column computed once per row)
    plus ±0.01 jitter."""
    cb = lambda s: (  # noqa: E731 — local text builder
        f"CAST(({h(f'({s}) * 1000003 + j')} % 2001 - 1000) AS DOUBLE)"
        " / 1000.0"
    )
    eps = (
        f"CAST(({h('vec_id * 7919 + j + 500009')} % 21 - 10) AS DOUBLE)"
        " / 1000.0"
    )
    seg = "CAST(floor(p) AS BIGINT)"
    return (
        f"(1.0 - (p - floor(p))) * ({cb(seg)}) "
        f"+ (p - floor(p)) * ({cb(seg + ' + 1')}) + {eps}"
    )


def _polyline_cte(p_text_fn) -> str:
    return f"""clustered AS MATERIALIZED (
        SELECT vec_id,
               list_transform(range(0, {CLUSTER_DIM}),
                              j -> {_line_elem(_h_duck)}) AS embedding
        FROM (SELECT vec_id, {p_text_fn(_h_duck)} AS p FROM embeddings) t
    )"""


def _polyline_corpus(emb: DataFrame, p_text_fn) -> DataFrame:
    withp = emb.select("vec_id", F.expr(p_text_fn(_h_spark)).alias("p"))
    return withp.select(
        "vec_id",
        F.expr(
            f"transform(sequence(0, {CLUSTER_DIM - 1}),"
            f" j -> {_line_elem(_h_spark)})"
        ).alias("embedding"),
    )


def line_corpus(emb: DataFrame) -> DataFrame:
    return _polyline_corpus(emb, _p_line)


def nav_corpus(emb: DataFrame) -> DataFrame:
    return _polyline_corpus(emb, _p_nav)


# -- the ISLANDS corpus -----------------------------------------------------

_CID = (
    "(CASE WHEN vec_id < 8 THEN vec_id "
    "ELSE {h_cid} % " + str(CLUSTER_K) + " END)"
)


def _islands_elem(h) -> str:
    cid = _CID.format(h_cid=h("vec_id * 211 + 77777"))
    cb = (
        f"CAST(({h(f'({cid}) * 1000003 + j')} % 2001 - 1000) AS DOUBLE)"
        " / 1000.0"
    )
    t = (
        f"CAST(({h('vec_id * 31 + 9000007')} % 1001 - 500) AS DOUBLE)"
        " / 1000.0"
    )
    dr = (
        f"CAST(({h(f'({cid}) * 131 + j + 700003')} % 2001 - 1000) AS DOUBLE)"
        " / 1000.0"
    )
    eps = (
        f"CAST(({h('vec_id * 7919 + j + 500009')} % 21 - 10) AS DOUBLE)"
        " / 1000.0"
    )
    return f"{cb} + ({t}) * ({dr}) + {eps}"


_ISLANDS_CTE = f"""clustered AS MATERIALIZED (
        SELECT vec_id,
               list_transform(range(0, {CLUSTER_DIM}),
                              j -> {_islands_elem(_h_duck)}) AS embedding
        FROM embeddings
    )"""


def islands_corpus(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id",
        F.expr(
            f"transform(sequence(0, {CLUSTER_DIM - 1}),"
            f" j -> {_islands_elem(_h_spark)})"
        ).alias("embedding"),
    )


# -- shared oracle helpers --------------------------------------------------

def _sub_clustered(name: str) -> str:
    """A registered oracle text with every table reference moved to
    the clustered CTE (blanket — the audit texts reference no other
    table, asserted)."""
    sql = ORACLES[name]
    assert "embeddings" in sql and "clustered" not in sql, name
    return sql.replace("embeddings", "clustered")


_TRUTH_CTE = f"""truth AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_DISTQ_DUCK.format(a='q.embedding',
                                                    b='e.embedding')},
                                e.vec_id) AS rank
            FROM clustered q JOIN clustered e ON e.vec_id <> q.vec_id
            WHERE q.vec_id < {PQ_QUERY_MAX}
        ) t WHERE rank <= 3
    )"""


# -- the four audits --------------------------------------------------------

def _gexp_clustered_oracle() -> str:
    rr = _sub_clustered("q_sim_ivfpq_rerank")
    gx = _sub_clustered("q_sim_graph_expand")
    return f"""
    WITH {_polyline_cte(_p_line)}, rerank AS (
        SELECT query_id, neighbor_id FROM ({rr}) x
    ), gexp AS (
        SELECT query_id, neighbor_id FROM ({gx}) x
    ), {_TRUTH_CTE}, {recall_rollup_sql(
        {'exact': 'truth', 'rerank': 'rerank', 'gexp': 'gexp'}, NEIGHBOR_KEYS)}
    SELECT * EXCLUDE (prec) FROM rollup
    """


@register("q_gexp_clustered", oracle=_gexp_clustered_oracle())
def q_gexp_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_sim_graph_expand's hop delta RE-PRICED ON PLANTED STRUCTURE
    (r13 verdict #2): the registered expansion rule
    (llm_ops.graph_expand_topk — the SAME function the isotropic row
    runs) over the LINE corpus, next to the plain rerank and the
    exact truth. The query-zone seeds carve thin IVF slabs, so a
    query's true top-3 straddles more cells than its 2 probes cover —
    rerank misses them (recall 0.5–0.75 across the SFs), and ONE hop
    over the pair graph's along-the-line links recovers most
    (0.92 across the SFs): the non-null hop delta the isotropic
    fixture denies (delta exactly 0 there), measured with the same
    rule and the same truth discipline.

    Oracle: the registered rerank and graph-expand texts verbatim
    with every table moved to the clustered CTE (generation replayed
    elementwise, the drift-row discipline) + brute-force truth +
    the shared recall rollup (plans/recall_rollup.py).

    Scale: the generation is a zero-shuffle projection; everything
    else is the registered rows' own plan classes."""
    emb = load_table(spark, sf_dir, "embeddings")
    cl = stage(line_corpus(emb))
    queries = cl.filter(F.col("vec_id") < PQ_QUERY_MAX)
    short = ivfpq_topk(
        cl,
        queries,
        cl.filter(F.col("vec_id") < IVF_SEED_CENTROIDS),
        n_codes=16,
        k=RERANK_SHORTLIST,
        nprobe=2,
    ).select("query_id", "neighbor_id")
    rerank = (
        exact_rerank(cl, short, k=3)
        .select("query_id", "neighbor_id")
        .transform(stage)
    )
    gexp = (
        graph_expand_topk(spark, cl)
        .select("query_id", "neighbor_id")
        .transform(stage)
    )
    truth = (
        topk_neighbors_l2(cl, queries, k=3)
        .select("query_id", "neighbor_id")
        .transform(stage)
    )
    return recall_rollup(
        spark, truth, {"exact": truth, "rerank": rerank, "gexp": gexp}
    ).drop("prec")


def _nsw_descent_clustered_oracle() -> str:
    lt = _DISTQ_DUCK.format(a="q.embedding", b="e.embedding")
    body = (
        f"""{_NSW_GRAPH_SQL}, {_NSW_DESCENT_CTES}, {_NSW_QS_ENTRY_SQL}, """
        + _nsw_beam_sql("adj", "")
        + ", "
        + _nsw_beam_sql("dadj", "d")
        + f""", s0 AS (
        SELECT query_id, neighbor_id FROM ({_nsw_final_sql(f'b{NSW_HOPS}')}) x
    ), s1 AS (
        SELECT query_id, neighbor_id FROM (
            {_nsw_final_sql(f'db{NSW_HOPS}')}) x
    ), struth AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id ORDER BY {lt}, e.vec_id
                   ) AS rank
            FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
            WHERE q.vec_id < {PQ_QUERY_MAX}
        ) t WHERE rank <= 3
    ), ltruth AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id ORDER BY {lt}, e.vec_id
                   ) AS rank
            FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
            WHERE q.vec_id < {DESCENT_AUDIT_NODES}
        ) t WHERE rank <= {NSW_DEG}
    ), sh AS (
        SELECT
            CAST(sum(CASE WHEN m.method = 'nsw' THEN 1 ELSE 0 END)
                 AS BIGINT) AS h0,
            CAST(sum(CASE WHEN m.method = 'nsw2' THEN 1 ELSE 0 END)
                 AS BIGINT) AS h1
        FROM (SELECT 'nsw' AS method, query_id, neighbor_id FROM s0
              UNION ALL
              SELECT 'nsw2', query_id, neighbor_id FROM s1) m
        JOIN struth t
          ON t.query_id = m.query_id AND t.neighbor_id = m.neighbor_id
    ), lh AS (
        SELECT
            CAST(sum(CASE WHEN m.method = 'nsw' THEN 1 ELSE 0 END)
                 AS BIGINT) AS h0,
            CAST(sum(CASE WHEN m.method = 'nsw2' THEN 1 ELSE 0 END)
                 AS BIGINT) AS h1
        FROM (SELECT 'nsw' AS method, src, dst FROM adj
              WHERE src < {DESCENT_AUDIT_NODES}
              UNION ALL
              SELECT 'nsw2', src, dst FROM dadj
              WHERE src < {DESCENT_AUDIT_NODES}) m
        JOIN ltruth t ON t.query_id = m.src AND t.neighbor_id = m.dst
    ), tts AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM struth),
    ttl AS (SELECT CAST(count(*) AS BIGINT) AS n_links FROM ltruth)
    SELECT 'nsw' AS method, sh.h0 AS search_hits, tts.n_truth,
           {round_sql('sh.h0::DOUBLE / tts.n_truth')} AS search_recall,
           lh.h0 AS link_hits, ttl.n_links,
           {round_sql('lh.h0::DOUBLE / ttl.n_links')} AS link_recall
    FROM sh CROSS JOIN lh CROSS JOIN tts CROSS JOIN ttl
    UNION ALL
    SELECT 'nsw2', sh.h1, tts.n_truth,
           {round_sql('sh.h1::DOUBLE / tts.n_truth')},
           lh.h1, ttl.n_links,
           {round_sql('lh.h1::DOUBLE / ttl.n_links')}
    FROM sh CROSS JOIN lh CROSS JOIN tts CROSS JOIN ttl
    """
    )
    assert "clustered" not in body
    body = body.replace("embeddings", "clustered")
    return f"""
    WITH {_polyline_cte(_p_nav)}, {body}
    """


@register("q_nsw_descent_clustered", oracle=_nsw_descent_clustered_oracle())
def q_nsw_descent_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_sim_nsw_descent's refinement delta RE-PRICED ON PLANTED
    STRUCTURE: one NN-descent round over the round-0 IVF-candidate
    graph on the NAV corpus — the polyline whose neighborhood
    transitivity is exact (a neighbor's neighbor IS near, Dong et
    al.'s convergence premise, denied by the isotropic fixture).
    Each round reports TWO measurements per the same truth:

    * ``link_recall`` — fraction of true top-{deg} links present in
      the adjacency over the vec_id < {nodes} audit slice: the
      quantity NN-descent is BUILT to converge, and the non-null
      delta (round 0 ~0.74 -> round 1 ~0.83 at the driver SF; 0.16
      -> 0.19 at sf0.1 where the capped candidate generator binds
      hardest): the 2-hop draw recovers nearest links the capped
      cell sub-split hid.
    * ``search_recall`` — the served beam recall the registered nsw2
      row prices. On a navigable manifold this stays ~flat even as
      link quality rises, and that flatness is itself the finding:
      beam search ROUTES AROUND recoverable link misses while hops
      remain, so descent's payoff surfaces in graph quality first —
      the reason production graph indexes (DiskANN's alpha-prune,
      HNSW's long links) optimize navigability separately from
      kNN-graph accuracy.

    Oracle: the registered graph/descent/beam text builders (one
    source with q_sim_nsw_topk / q_sim_nsw_descent) composed over
    the clustered CTE, with both adjacencies' link audits and both
    searches replayed.

    Scale: the registered rows' own plan classes; the link audit is
    a {nodes}-node broadcast-query linear scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    cl = stage(nav_corpus(emb))
    queries = cl.filter(F.col("vec_id") < PQ_QUERY_MAX)
    audit = cl.filter(F.col("vec_id") < DESCENT_AUDIT_NODES)
    adj0 = build_graph(cl, cl.filter(F.col("vec_id") < IVF_SEED_CENTROIDS))
    adj1 = stage(nsw_descent(cl, adj0, NSW_DEG))
    s0 = nsw_search(cl, queries, adj0, k=3)
    s1 = nsw_search(cl, queries, adj1, k=3)
    struth = (
        topk_neighbors_l2(cl, queries, k=3)
        .select("query_id", "neighbor_id")
        .transform(stage)
    )
    ltruth = (
        topk_neighbors_l2(cl, audit, k=NSW_DEG)
        .select("query_id", "neighbor_id")
        .transform(stage)
    )

    def hits(res: DataFrame, truth: DataFrame, a: str, b: str) -> DataFrame:
        t = truth.withColumn("hit", F.lit(1))
        return (
            res.select(F.col(a).alias("query_id"), F.col(b).alias("neighbor_id"))
            .join(t, ["query_id", "neighbor_id"], "left")
            .agg(
                F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("hits")
            )
        )

    tts = struth.agg(F.count("*").cast("long").alias("n_truth"))
    ttl = ltruth.agg(F.count("*").cast("long").alias("n_links"))
    out = None
    for name, s, adj in (("nsw", s0, adj0), ("nsw2", s1, adj1)):
        row = (
            hits(s, struth, "query_id", "neighbor_id")
            .withColumnRenamed("hits", "search_hits")
            .crossJoin(F.broadcast(tts))
            .crossJoin(
                F.broadcast(
                    hits(
                        adj.filter(F.col("src") < DESCENT_AUDIT_NODES),
                        ltruth,
                        "src",
                        "dst",
                    ).withColumnRenamed("hits", "link_hits")
                )
            )
            .crossJoin(F.broadcast(ttl))
            .select(
                F.lit(name).alias("method"),
                "search_hits",
                "n_truth",
                round_agg(
                    F.col("search_hits").cast("double") / F.col("n_truth")
                ).alias("search_recall"),
                "link_hits",
                "n_links",
                round_agg(
                    F.col("link_hits").cast("double") / F.col("n_links")
                ).alias("link_recall"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


q_nsw_descent_clustered.__doc__ = q_nsw_descent_clustered.__doc__.format(
    deg=NSW_DEG, nodes=DESCENT_AUDIT_NODES
)


def _plaid_clustered_oracle() -> str:
    sub = _sub_clustered("q_sim_maxsim_recall")
    return f"""
    WITH {_ISLANDS_CTE}
    SELECT * FROM ({sub}) r
    """


@register("q_plaid_clustered", oracle=_plaid_clustered_oracle())
def q_plaid_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_sim_maxsim_plaid's centroid prune RE-PRICED ON PLANTED
    STRUCTURE: the registered MaxSim recall audit (ONE rule —
    maxsim._maxsim_recall_frame) over the ISLANDS corpus, whose
    hash-assigned cluster memberships make a token's cell centroid
    its cluster signature. On the isotropic fixture the prune reads
    0.11–0.22 (centroids of random tokens carry no signal, the
    approximate ranking is noise-ordered); here the centroid-
    interaction stage scores real cluster overlap and the prune
    recall rises to 0.78–0.89 across the SFs — the payoff
    measurement the PLAID layout exists for, next to the token-probe
    discipline's 1.0 on the same row.

    Oracle: the registered recall-audit text verbatim on the
    clustered CTE (probe choice, nomination, prune, exact scoring
    all replayed bit-for-bit)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cl = stage(islands_corpus(emb))
    return _maxsim_recall_frame(spark, cl)


def _hnsw_beam_clustered_oracle() -> str:
    sub = _sub_clustered("q_ann_hnsw_beam")
    return f"""
    WITH {_polyline_cte(_p_nav)}
    SELECT * FROM ({sub}) r
    """


@register("q_hnsw_beam_clustered", oracle=_hnsw_beam_clustered_oracle())
def q_hnsw_beam_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_ann_hnsw_beam's recall-vs-beam curve RE-PRICED ON PLANTED
    STRUCTURE: the registered sweep rule (llm_ops.hnsw_beam_audit —
    graphs built once, three beam widths searched) on the NAV corpus,
    where both fixed entry points sit inside the query zone and the
    graph has real structure to follow. On the isotropic fixture the
    curve INVERTS (b4 0.58 > b8 = b16 0.42 — the layer hand-off
    couples against unnavigable base neighborhoods); here the
    inversion disappears and the curve reads flat-high (0.83 at the
    driver SF, 0.58 at sf0.1, equal at every width) — the "coupling
    weakens and the curve flattens upward" shape the isotropic row's
    own docstring predicts for structured embeddings, measured.

    Oracle: the registered sweep text verbatim on the clustered CTE
    (both layer graphs, all three unrolled beams, truth and
    denominators replayed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cl = stage(nav_corpus(emb))
    return hnsw_beam_audit(spark, cl)
