"""Multi-vector LATE-INTERACTION retrieval (MaxSim — the ColBERT
scoring rule, Khattab & Zaharia, SIGIR 2020): r12 verdict's #4 ask.
Every retrieval row so far scores one vector per item; the current
production retrieval family keeps ONE VECTOR PER TOKEN and scores a
(query, doc) pair as

    MaxSim(Q, D) = sum over q in Q of  max over d in D of  sim(q, d)

— the "late interaction": token-level granularity at scoring time
without cross-encoder cost. Expressed on the existing embeddings
fixture by grouping vec_ids into synthetic multi-vector docs
(mdoc = vec_id div {toks} — {toks} token vectors per doc, the
q_hybrid_retrieval synthetic-grouping convention).

Two rows:

* ``q_sim_maxsim_topk`` — the two-stage production shape: candidate
  docs nominated by TOKEN-level IVF probes (each query token probes
  its 2 best cells; any doc owning a probed-cell token is a
  candidate — ColBERT's ANN-then-rerank serving layout), then EXACT
  MaxSim on the candidate pairs only. Never all-pairs.
* ``q_sim_maxsim_recall`` — the audit vs exact all-docs MaxSim truth:
  what token-level candidate generation loses (a relevant doc is
  missed only if NONE of its tokens lands in any probed cell — the
  multi-vector recall advantage this row quantifies).

Exactness: token sims are BIGINT ten-thousandths quantized dot
products (the MMR rel_q convention), so per-token maxima and the
MaxSim sum are exact integer arithmetic in both engines; candidate
probe ranking is on the portably rounded cosine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import parallel_frames, stage
from ..catalog import load_table
from ..operators.llm import DOT_SQL, ivf_assign, ivf_probe, topk_cut, with_norm
from .llm_ops import (
    IVF_SEED_CENTROIDS,
    _COS_DUCK,
    _DOT_DUCK,
    _SEED_ASSIGN_DUCK,
)
from .recall_rollup import recall_rollup, recall_rollup_sql
from .registry import register

MAXSIM_TOKS = 4    # token vectors per synthetic doc
MAXSIM_QDOCS = 3   # query docs (mdoc < 3 -> vec_id < 12)
MAXSIM_NPROBE = 2  # cells probed per query token

_QTOK_MAX = MAXSIM_TOKS * MAXSIM_QDOCS

# BIGINT ten-thousandths quantized dot — the one token-similarity text
_SIM_Q_DUCK = (
    "CAST(floor("
    + _DOT_DUCK.format(a="{a}", b="{b}")
    + " * 10000 + 0.5) AS BIGINT)"
)
_SIM_Q_SPARK = (
    "CAST(floor(" + DOT_SQL.format(a="{a}", b="{b}") + " * 10000 + 0.5)"
    " AS BIGINT)"
)


_MAXSIM_CTES = f"""qt AS (
        SELECT vec_id AS qtok, vec_id // {MAXSIM_TOKS} AS qdoc,
               embedding AS eq
        FROM embeddings WHERE vec_id < {_QTOK_MAX}
    ), tprobes AS (
        SELECT qtok, cell FROM (
            SELECT q.qtok, c.vec_id AS cell,
                   row_number() OVER (
                       PARTITION BY q.qtok
                       ORDER BY floor({_COS_DUCK.format(a='q.eq',
                                                        b='c.embedding')}
                                      * 10000 + 0.5) / 10000 DESC,
                                c.vec_id) AS rn
            FROM qt q JOIN embeddings c
              ON c.vec_id < {IVF_SEED_CENTROIDS}
        ) t WHERE rn <= {MAXSIM_NPROBE}
    ), cand AS (
        SELECT DISTINCT q.qdoc, a.vec_id // {MAXSIM_TOKS} AS cdoc
        FROM tprobes p
        JOIN qt q ON q.qtok = p.qtok
        JOIN assigned a ON a.cell = p.cell
        WHERE a.vec_id // {MAXSIM_TOKS} <> q.qdoc
    )"""


def _maxsim_score_sql(cand: str) -> str:
    """sims/scored CTE text: exact MaxSim over a (qdoc, cdoc)
    candidate CTE — one text shared by the two-stage row and the
    recall audit's truth so the scoring rule cannot fork."""
    return f"""sims_{cand} AS (
        SELECT c.qdoc, c.cdoc, q.qtok,
               max({_SIM_Q_DUCK.format(a='q.eq', b='d.embedding')})
                   AS best_q
        FROM {cand} c
        JOIN qt q ON q.qdoc = c.qdoc
        JOIN embeddings d ON d.vec_id // {MAXSIM_TOKS} = c.cdoc
        GROUP BY c.qdoc, c.cdoc, q.qtok
    ), scored_{cand} AS (
        SELECT qdoc, cdoc, CAST(sum(best_q) AS BIGINT) AS maxsim_q
        FROM sims_{cand} GROUP BY qdoc, cdoc
    )"""


def _maxsim_final_sql(cand: str) -> str:
    return f"""
    SELECT query_doc, doc_id, rank, maxsim_q FROM (
        SELECT qdoc AS query_doc, cdoc AS doc_id, maxsim_q,
               row_number() OVER (
                   PARTITION BY qdoc
                   ORDER BY maxsim_q DESC, cdoc) AS rank
        FROM scored_{cand}
    ) t WHERE rank <= 3
    """


def _maxsim_candidates(
    spark: SparkSession, emb: DataFrame, assigned: DataFrame | None = None
) -> DataFrame:
    """(qdoc, cdoc) candidate pairs from token-level IVF probes — the
    Spark twin of the tprobes/cand CTEs. ``assigned`` optionally
    supplies the (vec_id, cell) token assignment from a PERSISTED
    store (q_sim_maxsim_search); by default it is computed in-query —
    assignment is deterministic under the frozen centroids, so the
    two sources must agree (the store-serve verbatim-oracle gate)."""
    cents = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    qt = emb.filter(F.col("vec_id") < _QTOK_MAX).select(
        F.col("vec_id").alias("qtok"),
        F.expr(f"vec_id div {MAXSIM_TOKS}").alias("qdoc"),
        F.col("embedding").alias("eq"),
    )
    tprobes = ivf_probe(
        with_norm(qt, "eq"), cents, MAXSIM_NPROBE, "qtok", norm="norm"
    ).select("qtok", "cell")
    if assigned is None:
        assigned = ivf_assign(emb, cents)
    return (
        tprobes.join(
            qt.select("qtok", "qdoc"), "qtok"
        )
        .join(assigned, "cell")
        .select(
            "qdoc",
            F.expr(f"vec_id div {MAXSIM_TOKS}").alias("cdoc"),
        )
        .filter(F.col("cdoc") != F.col("qdoc"))
        .distinct()
    )


def _maxsim_score(emb: DataFrame, cand: DataFrame) -> DataFrame:
    """(query_doc, doc_id, rank, maxsim_q): exact MaxSim over a
    (qdoc, cdoc) candidate frame — the one Spark scoring rule (the
    _maxsim_score_sql twin). The candidate frame broadcasts onto the
    corpus scan to fetch doc tokens; query tokens are a tiny second
    broadcast; the per-token max and the doc sum are one hash agg
    each."""
    qt = emb.filter(F.col("vec_id") < _QTOK_MAX).select(
        F.col("vec_id").alias("qtok"),
        F.expr(f"vec_id div {MAXSIM_TOKS}").alias("qdoc"),
        F.col("embedding").alias("eq"),
    )
    dtoks = emb.select(
        F.expr(f"vec_id div {MAXSIM_TOKS}").alias("cdoc"), "embedding"
    )
    sims = (
        dtoks.join(F.broadcast(cand), "cdoc")
        .join(F.broadcast(qt), "qdoc")
        .select(
            "qdoc",
            "cdoc",
            "qtok",
            F.expr(_SIM_Q_SPARK.format(a="eq", b="embedding")).alias(
                "sim_q"
            ),
        )
        .groupBy("qdoc", "cdoc", "qtok")
        .agg(F.max("sim_q").alias("best_q"))
    )
    scored = sims.groupBy("qdoc", "cdoc").agg(
        F.sum("best_q").cast("long").alias("maxsim_q")
    )
    return (
        topk_cut(scored, "qdoc", "maxsim_q", "cdoc", 3, desc=True)
        .select(
            F.col("qdoc").alias("query_doc"),
            F.col("cdoc").alias("doc_id"),
            "rank",
            "maxsim_q",
        )
    )


@register(
    "q_sim_maxsim_topk",
    oracle=f"""
    WITH assigned AS ({_SEED_ASSIGN_DUCK}
    ), {_MAXSIM_CTES}, {_maxsim_score_sql('cand')}
    {_maxsim_final_sql('cand')}
    """,
)
def q_sim_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-VECTOR late-interaction top-3 (ColBERT's MaxSim): each
    synthetic doc holds {toks} token vectors; a (query, doc) pair
    scores as the sum over query tokens of the best quantized dot
    against ANY doc token. Two-stage serving, never all-pairs: query
    TOKENS probe the IVF index (2 cells each — any doc owning a
    probed-cell token is nominated), then exact MaxSim runs on the
    nominated pairs only. This is the production multi-vector layout:
    the token-level index prunes, the late interaction ranks.

    Oracle replays probe choice, candidate nomination, per-token
    maxima, and the sum bit-for-bit (rounded-cosine probe rank, BIGINT
    ten-thousandths dots — exact integer max/sum in both engines).

    Scale: candidate generation is the IVF probe plan at token
    granularity (broadcast probes onto the cell-pruned scan); scoring
    touches |cand| x {toks}^2 dots with the candidate and query-token
    frames broadcast — the corpus never shuffles; per-token max and
    the doc sum are map-side-combinable hash aggs. At 100 TB the
    token index IS the existing IVF machinery — multi-vector adds a
    div, not an index family."""
    emb = load_table(spark, sf_dir, "embeddings")
    cand = _maxsim_candidates(spark, emb)
    return _maxsim_score(emb, cand)


q_sim_maxsim_topk.__doc__ = q_sim_maxsim_topk.__doc__.format(
    toks=MAXSIM_TOKS
)


PLAID_CANDIDATES = 8  # candidate docs per query surviving the prune


def _plaid_ctes() -> str:
    """cellsim/doccells/approx/candp CTE text: the centroid-
    interaction prune. approx MaxSim(Q, D) = sum over q in Q of max
    over the CELLS D's tokens occupy of sim_q(q, centroid(cell)) —
    no doc token vector is touched until the exact stage."""
    return f"""cellsim AS (
        SELECT q.qtok, q.qdoc, c.vec_id AS cell,
               {_SIM_Q_DUCK.format(a='q.eq', b='c.embedding')} AS sim_q
        FROM qt q JOIN embeddings c
          ON c.vec_id < {IVF_SEED_CENTROIDS}
    ), doccells AS (
        SELECT DISTINCT a.vec_id // {MAXSIM_TOKS} AS cdoc, a.cell
        FROM assigned a
    ), approx AS (
        SELECT qdoc, cdoc,
               CAST(sum(mx) AS BIGINT) AS amaxsim_q
        FROM (
            SELECT cs.qdoc, cs.qtok, d.cdoc, max(cs.sim_q) AS mx
            FROM cellsim cs JOIN doccells d ON d.cell = cs.cell
            WHERE d.cdoc <> cs.qdoc
            GROUP BY cs.qdoc, cs.qtok, d.cdoc
        ) s GROUP BY qdoc, cdoc
    ), candp AS (
        SELECT qdoc, cdoc FROM (
            SELECT qdoc, cdoc,
                   row_number() OVER (
                       PARTITION BY qdoc
                       ORDER BY amaxsim_q DESC, cdoc) AS rn
            FROM approx
        ) t WHERE rn <= {PLAID_CANDIDATES}
    )"""



def _maxsim_recall_oracle() -> str:
    all_cand = f"""allc AS (
        SELECT DISTINCT q.qdoc, d.vec_id // {MAXSIM_TOKS} AS cdoc
        FROM qt q CROSS JOIN embeddings d
        WHERE d.vec_id // {MAXSIM_TOKS} <> q.qdoc
    )"""
    return f"""
    WITH assigned AS ({_SEED_ASSIGN_DUCK}
    ), {_MAXSIM_CTES}, {_maxsim_score_sql('cand')}, {all_cand},
    {_maxsim_score_sql('allc')}, {_plaid_ctes()},
    {_maxsim_score_sql('candp')}, plaid AS (
        SELECT qdoc, cdoc FROM (
            SELECT qdoc, cdoc,
                   row_number() OVER (
                       PARTITION BY qdoc
                       ORDER BY maxsim_q DESC, cdoc) AS rank
            FROM scored_candp
        ) t WHERE rank <= 3
    ), twostage AS (
        SELECT qdoc, cdoc FROM (
            SELECT qdoc, cdoc,
                   row_number() OVER (
                       PARTITION BY qdoc
                       ORDER BY maxsim_q DESC, cdoc) AS rank
            FROM scored_cand
        ) t WHERE rank <= 3
    ), truth AS MATERIALIZED (
        SELECT qdoc, cdoc FROM (
            SELECT qdoc, cdoc,
                   row_number() OVER (
                       PARTITION BY qdoc
                       ORDER BY maxsim_q DESC, cdoc) AS rank
            FROM scored_allc
        ) t WHERE rank <= 3
    ), {recall_rollup_sql(
        {'exact': 'truth', 'twostage': 'twostage', 'plaid': 'plaid'},
        ('qdoc', 'cdoc'))}
    SELECT * EXCLUDE (prec) FROM rollup
    """


@register("q_sim_maxsim_recall", oracle=_maxsim_recall_oracle())
def q_sim_maxsim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaxSim candidate-generation recall: the two-stage top-3 vs the
    exact all-docs MaxSim truth (same scoring text, candidate set =
    every doc). A relevant doc is missed only if NONE of its tokens
    lands in any of any query token's probed cells — the multi-vector
    redundancy (one hit among {toks} tokens x {np} probes x {qt}
    query tokens suffices) that makes token-level pruning safer than
    single-vector IVF at equal probe budget; this row measures it.

    Scale: the truth stage scores |qdocs| x |docs| pairs with the
    query-token frame broadcast (the linear audit class — the
    production surface is the two-stage row; this is its priced
    audit)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _maxsim_recall_frame(spark, emb)


def _maxsim_recall_frame(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """The q_sim_maxsim_recall body, corpus-parametric (r14) so the
    registered isotropic row and the planted-cluster audit
    (plans/clustered_audit.py) run ONE audit rule."""
    qt = emb.filter(F.col("vec_id") < _QTOK_MAX).select(
        F.expr(f"vec_id div {MAXSIM_TOKS}").alias("qdoc")
    ).distinct()
    allc = (
        qt.crossJoin(
            emb.select(
                F.expr(f"vec_id div {MAXSIM_TOKS}").alias("cdoc")
            ).distinct()
        )
        .filter(F.col("cdoc") != F.col("qdoc"))
    )
    # the two serving forms and the exact truth are independent
    # chains — overlap their eager work on driver threads (§2.6)
    two, plaid, truth = parallel_frames(
        lambda: _maxsim_score(emb, _maxsim_candidates(spark, emb)).select(
            F.col("query_doc").alias("qdoc"), F.col("doc_id").alias("cdoc")
        ),
        lambda: _plaid_topk(spark, emb).select(
            F.col("query_doc").alias("qdoc"), F.col("doc_id").alias("cdoc")
        ),
        lambda: (
            _maxsim_score(emb, allc)
            .select(
                F.col("query_doc").alias("qdoc"),
                F.col("doc_id").alias("cdoc"),
            )
            .transform(stage)
        ),
    )
    return recall_rollup(
        spark, truth, {"exact": truth, "twostage": two, "plaid": plaid}
    ).drop("prec")


q_sim_maxsim_recall.__doc__ = q_sim_maxsim_recall.__doc__.format(
    toks=MAXSIM_TOKS, np=MAXSIM_NPROBE, qt=_QTOK_MAX
)


# ---------------------------------------------------------------------------
# PLAID-style centroid-interaction serving (Santhanam et al. 2022 —
# ColBERTv2/PLAID): approximate every doc token by its IVF CELL
# CENTROID, score approximate MaxSim from the tiny (query token x
# centroid) dot table alone, keep the top-C candidate docs, exact
# MaxSim only on those.
# ---------------------------------------------------------------------------

@register(
    "q_sim_maxsim_plaid",
    oracle=f"""
    WITH assigned AS ({_SEED_ASSIGN_DUCK}
    ), {_MAXSIM_CTES}, {_plaid_ctes()}, {_maxsim_score_sql('candp')}
    {_maxsim_final_sql('candp')}
    """,
)
def q_sim_maxsim_plaid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CENTROID-INTERACTION MaxSim serving — the PLAID prune
    (Santhanam et al. 2022, the ColBERTv2 serving layout): stage 1
    approximates every doc token by its IVF cell centroid, so the
    approximate MaxSim for ALL docs is computable from the
    |query tokens| x |centroids| dot table (here 12 x 8 — corpus-size
    independent) joined onto the (doc, occupied-cell) table; the top-
    {cands} candidate docs per query survive; stage 2 runs EXACT
    MaxSim (the one shared scoring text) on the survivors only. The
    contrast with q_sim_maxsim_topk's token-probe nomination is the
    design point: token probes nominate any doc that SHARES a probed
    cell (recall-biased, candidate count data-dependent), the
    centroid prune RANKS docs on an actual (approximate) MaxSim score
    (precision-biased, candidate count fixed at {cands}) — the two
    production candidate-generation disciplines, both priced in
    q_sim_maxsim_recall. On THESE fixtures the prune measures a NULL
    (recall 0.11-0.22 vs token-probe's 1.0 across the SFs): isotropic
    random tokens give cell centroids that carry almost no signal
    about individual token dots, so the approximate ranking is
    noise-ordered — the q_sim_graph_expand/nsw2 convention of keeping
    the null visible applies; the prune pays exactly when the token
    space is clustered (actual model embeddings), and this row is
    where that payoff would show.

    Oracle replays cell assignment, the centroid dot table, the
    per-(query-token, doc) cell max, the candidate rank, and the
    exact stage bit-for-bit (all sims BIGINT ten-thousandths dots).

    Scale: stage 1 never touches a doc token vector — the centroid
    dot table broadcasts onto the (doc, cell) occupancy table (one
    row per doc per occupied cell, <= docs x min(toks, cells)); the
    exact stage reads {cands} docs x {toks}^2 dots per query. At
    100 TB the occupancy table IS the index's posting layout —
    exactly what PLAID serves from."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _plaid_topk(spark, emb)


def _plaid_topk(
    spark: SparkSession, emb: DataFrame, assigned: DataFrame | None = None
) -> DataFrame:
    """The PLAID two-stage body (centroid-interaction prune + exact
    MaxSim), factored so the build-per-run row and the persisted-store
    serving row (q_sim_maxsim_plaid_search) run ONE rule; ``assigned``
    optionally supplies the stored (vec_id, cell) token log."""
    cents = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    qt = emb.filter(F.col("vec_id") < _QTOK_MAX).select(
        F.col("vec_id").alias("qtok"),
        F.expr(f"vec_id div {MAXSIM_TOKS}").alias("qdoc"),
        F.col("embedding").alias("eq"),
    )
    cellsim = qt.join(
        F.broadcast(
            cents.select(
                F.col("vec_id").alias("cell"),
                F.col("embedding").alias("ec"),
            )
        )
    ).select(
        "qtok",
        "qdoc",
        "cell",
        F.expr(_SIM_Q_SPARK.format(a="eq", b="ec")).alias("sim_q"),
    )
    if assigned is None:
        assigned = ivf_assign(emb, cents)
    doccells = (
        assigned.select(
            F.expr(f"vec_id div {MAXSIM_TOKS}").alias("cdoc"), "cell"
        )
        .distinct()
    )
    approx = (
        doccells.join(F.broadcast(cellsim), "cell")
        .filter(F.col("cdoc") != F.col("qdoc"))
        .groupBy("qdoc", "qtok", "cdoc")
        .agg(F.max("sim_q").alias("mx"))
        .groupBy("qdoc", "cdoc")
        .agg(F.sum("mx").cast("long").alias("amaxsim_q"))
    )
    candp = topk_cut(
        approx, "qdoc", "amaxsim_q", "cdoc", PLAID_CANDIDATES, desc=True
    ).select("qdoc", "cdoc")
    return _maxsim_score(emb, candp)


q_sim_maxsim_plaid.__doc__ = q_sim_maxsim_plaid.__doc__.format(
    cands=PLAID_CANDIDATES, toks=MAXSIM_TOKS
)


# ---------------------------------------------------------------------------
# Persisted MaxSim serving — the 13th streaming deployment form
# (r13 verdict's #4 ask): streaming/maxsim_index.py persists the
# frozen centroid set + the token assignment log; both candidate-
# generation disciplines serve from it.
# ---------------------------------------------------------------------------

MAXSIM_INDEX_CACHE = "/tmp/fps_maxsim_index"


def maxsim_store_for(spark: SparkSession, sf_dir: str):
    """The persisted multi-vector store monitor for ``sf_dir``:
    centroids frozen and the full token assignment log written once,
    keyed on the corpus identity (heavy.store_key adds the code
    identity) and published by heavy.build_once."""
    import os

    from ..streaming.heavy import build_once, store_key
    from ..streaming.maxsim_index import MaxSimIndexMonitor
    from .llm_ops import corpus_file_identity

    def build(tmp: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        MaxSimIndexMonitor(tmp).init(
            emb, emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
        )

    key = store_key("maxsim", sf_dir, corpus_file_identity(sf_dir))
    store = os.path.join(MAXSIM_INDEX_CACHE, key)
    return build_once(store, build, MaxSimIndexMonitor)


from .registry import ORACLES as _ORACLES  # noqa: E402


@register("q_sim_maxsim_search", oracle=_ORACLES["q_sim_maxsim_topk"])
def q_sim_maxsim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector late-interaction retrieval SERVED FROM THE
    PERSISTED STORE — the serving form of q_sim_maxsim_topk and the
    THIRTEENTH streaming deployment form: first use freezes the
    centroid set and writes the full token assignment log
    (streaming/maxsim_index.MaxSimIndexMonitor.init — the identical
    deterministic assignment), publishing atomically under a key
    derived from the corpus identity and the package's code identity
    (heavy.store_key); arriving docs' token vectors fold in
    append-only per micro-batch (assignment is stateless under the
    frozen centroids — stream==batch + crash-replay pinned in
    tests/test_round14_ops.py). Every subsequent run is SERVE-ONLY:
    query tokens probe the frozen centroids, candidates are nominated
    from the STORED assignment log (never a fresh corpus assignment),
    and the exact MaxSim stage reads the cold full-vector corpus at
    candidate width (the shared _maxsim_score rule).

    Correctness contract: assignment is deterministic under the
    frozen centroids, so the served answer must equal the built-fresh
    one — registers q_sim_maxsim_topk's oracle text VERBATIM; a stale
    or corrupted posting log is a driver hash mismatch.

    Scale: the hot tier is one (vec_id, cell) row per token — two
    BIGINTs, ~1/64 the float bytes; nomination is a hash join of the
    tiny probe set against the cell-partitioned log; doc vectors are
    read at candidate width only (PLAID's codes-hot/vectors-cold
    split)."""
    emb = load_table(spark, sf_dir, "embeddings")
    mon = maxsim_store_for(spark, sf_dir)
    cand = _maxsim_candidates(
        spark, emb, assigned=mon.tokens(spark, after_batch_id=-1)
    )
    return _maxsim_score(emb, cand)


@register("q_sim_maxsim_plaid_search", oracle=_ORACLES["q_sim_maxsim_plaid"])
def q_sim_maxsim_plaid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLAID centroid-interaction serving FROM THE PERSISTED STORE —
    the same stored artifacts serving the second candidate-generation
    discipline: stage 1 scores approximate MaxSim from the (query
    token x frozen centroid) dot table joined onto the STORED
    (doc, occupied-cell) postings (one projection of the token log —
    no doc token vector touched), stage 2 exact-rescoring the
    survivors. Registers q_sim_maxsim_plaid's oracle text verbatim —
    the store-serve contract on the prune path.

    Scale: stage 1 reads ONLY the hot posting tier (the PLAID design
    point); with the store in place the per-query serving cost is
    corpus-size independent up to the posting scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    mon = maxsim_store_for(spark, sf_dir)
    return _plaid_topk(
        spark, emb, assigned=mon.tokens(spark, after_batch_id=-1)
    )
