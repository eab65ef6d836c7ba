"""Corpus-level curation operators beyond the dedup/quality families
in llm_ops.py: soft deduplication (down-weight instead of drop),
link-graph importance (fixed-iteration PageRank), and the Zipf
rank-frequency diagnostic.

Why these three: real training-data pipelines increasingly keep
near-duplicates but shrink their sampling weight (soft dedup), rank
web documents by link-graph centrality before quality gating
(PageRank over the crawl graph), and sanity-check a corpus's token
distribution against the Zipf law before trusting token-count-based
mixing (a corpus whose rank-frequency slope is far from -1 is usually
boilerplate- or spam-heavy).

Portability: PageRank runs ENTIRELY in BIGINT fixed-point (rank mass
scaled by 10^12, per-edge contributions via integer division) so the
iterative float drift that normally makes distributed PageRank
non-reproducible cannot occur — both engines produce bit-identical
ranks. The Zipf fit quantizes each ln() to integer micro-units per
row before the regression sums (the q_text_surprisal convention), so
the only floats are one final division and a portable round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..caching import materialize, stage
from ..functions.portable import round_agg
from ..operators.llm import doc_shingles, verified_near_dups
from .llm_ops import q_dedup_clusters  # also populates its ORACLES entry
from .registry import ORACLES, register

# ------------------------------------------------------ soft dedup


def _register_dedup_soft() -> None:
    """Closure-registered so the oracle composes the already-registered
    q_dedup_clusters oracle as a CTE (the q_dedup_cluster_stats
    convention): the weights can never drift from the clustering that
    justifies them."""
    oracle = f"""
    WITH clusters AS ({ORACLES["q_dedup_clusters"]}),
    sizes AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS n
        FROM clusters GROUP BY cluster_id
    ), member AS (
        SELECT c.doc_id, s.n
        FROM clusters c JOIN sizes s ON s.cluster_id = c.cluster_id
    )
    SELECT d.doc_id,
           coalesce(m.n, 1) AS n_copies,
           floor(1.0 / coalesce(m.n, 1) * 10000 + 0.5) / 10000 AS weight
    FROM documents d LEFT JOIN member m ON m.doc_id = d.doc_id
    """

    @register("q_dedup_soft", oracle=oracle)
    def q_dedup_soft(spark: SparkSession, sf_dir: str) -> DataFrame:
        """SOFT deduplication (SoftDedup; also the "count-and-reweight"
        mode of Lee et al.'s dedup study): instead of DROPPING
        near-duplicates, every document keeps a sampling weight of
        1/|its near-dup cluster|, so each duplicated content family
        contributes one document-equivalent of training mass and
        unique documents keep weight 1. Pipelines prefer this over
        hard dedup when duplicates carry quality signal (popular
        content is duplicated BECAUSE it is good) — the weight
        preserves the signal without the memorization risk.

        The clustering is the registered q_dedup_clusters operator
        (MinHash-LSH candidates -> exact-Jaccard verification ->
        connected components); this query adds a cluster-size census
        and a LEFT join back onto the corpus. 1/n divides one exact
        integer (IEEE-exact for the division itself) and portably
        rounds.

        Scale: everything downstream of the pair graph is
        cluster-count-sized; the weight join is a broadcast of the
        (tiny) member table against the corpus scan — no new shuffle
        beyond what the clustering already paid."""
        d = load_table(spark, sf_dir, "documents")
        clusters = q_dedup_clusters(spark, sf_dir)
        sizes = clusters.groupBy("cluster_id").agg(
            F.count("*").cast("long").alias("n")
        )
        member = clusters.join(sizes, "cluster_id").select("doc_id", "n")
        return (
            d.select("doc_id")
            .join(F.broadcast(member), "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n", F.lit(1).cast("long")).alias("n_copies"),
                (
                    F.floor(
                        F.lit(1.0)
                        / F.coalesce("n", F.lit(1).cast("long"))
                        * 10000
                        + F.lit(0.5)
                    )
                    / 10000
                ).alias("weight"),
            )
        )


_register_dedup_soft()


# -------------------------------------------------------- PageRank
PR_SCALE = 10**12  # rank mass in fixed-point trillionths
PR_ITERS = 3
PR_TOP = 20
# Broadcast gate for the per-iteration rank/incoming joins: both are
# nodes-sized (id, value) BIGINT pairs, so 500k nodes is ~10 MB, Spark's
# default autoBroadcastJoinThreshold.
PR_BROADCAST_MAX_NODES = 500_000


def _pr_oracle() -> str:
    """Unrolled fixed-point PageRank in SQL: 3 damped iterations, all
    BIGINT (contributions use integer division), over the bipartite
    customer<->supplier trade graph."""
    prev = "r0"
    iters = []
    for i in range(1, PR_ITERS + 1):
        iters.append(
            f"""inc{i} AS (
        SELECT e.dst AS id,
               CAST(sum((p.r * e.w) // e.ow) AS BIGINT) AS s
        FROM edges e JOIN {prev} p ON p.id = e.src
        GROUP BY e.dst
    ), r{i} AS (
        SELECT n.id,
               CAST((base.b * 15 + 85 * coalesce(i.s, 0)) // 100
                    AS BIGINT) AS r
        FROM nodes n CROSS JOIN base LEFT JOIN inc{i} i ON i.id = n.id
    )"""
        )
        prev = f"r{i}"
    return f"""
    WITH pair AS (
        SELECT o.o_custkey AS c, l.l_suppkey AS s,
               CAST(count(*) AS BIGINT) AS w
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_custkey, l.l_suppkey
    ), raw_edges AS (
        SELECT c * 2 AS src, s * 2 + 1 AS dst, w FROM pair
        UNION ALL
        SELECT s * 2 + 1, c * 2, w FROM pair
    ), outw AS (
        SELECT src, CAST(sum(w) AS BIGINT) AS ow
        FROM raw_edges GROUP BY src
    ), edges AS (
        SELECT e.src, e.dst, e.w, o.ow
        FROM raw_edges e JOIN outw o ON o.src = e.src
    ), nodes AS (
        SELECT DISTINCT src AS id FROM raw_edges
    ), base AS (
        SELECT CAST({PR_SCALE} // count(*) AS BIGINT) AS b FROM nodes
    ), r0 AS (
        SELECT id, base.b AS r FROM nodes CROSS JOIN base
    ), {", ".join(iters)}
    SELECT CASE WHEN id % 2 = 0 THEN 'c' || CAST(id // 2 AS VARCHAR)
                ELSE 's' || CAST(id // 2 AS VARCHAR) END AS id,
           rank_q, score, rnk
    FROM (
        SELECT id, r AS rank_q,
               floor(r / {PR_SCALE}.0 * 10000000 + 0.5) / 10000000
                   AS score,
               row_number() OVER (ORDER BY r DESC, id) AS rnk
        FROM {prev}
    ) t WHERE rnk <= {PR_TOP}
    """


@register("q_graph_pagerank", oracle=_pr_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the bipartite customer<->supplier
    trade graph (edge weight = lineitem count between the pair) — the
    link-graph-importance operator web-crawl curation runs before
    quality gating (harmonic/PageRank centrality is a core CommonCrawl
    ranking signal). Three damped iterations (d = 0.85), weighted
    edges, uniform init.

    Reproducibility is the hard part of distributed PageRank: float
    rank vectors accumulate in shuffle-dependent order, so two runs
    differ in the last bits and a rank cutoff flips. This
    implementation keeps ALL rank mass in BIGINT fixed-point
    (10^12 units): per-edge contribution is integer division
    `(r * w) div out_w`, the damping update is
    `(base*15 + 85*incoming) div 100`, and both engines floor the
    same nonnegative integers — bit-identical ranks by construction,
    at the documented cost of <= 1 unit (10^-12) truncation per edge
    per iteration.

    Scale: the edge list shuffles once to build (it IS the Q5-style
    fact join, pre-aggregated to distinct pairs); each iteration is
    one shuffle keyed by dst — the textbook Pregel round. Iteration
    count is FIXED (3), so the lineage is bounded; a production run
    at higher iteration counts would stage every few rounds exactly as operators/llm.connected_components does. The rank
    vector is nodes-sized, orders of magnitude smaller than the fact
    table."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # pair is referenced FOUR times downstream (both union branches,
    # each again under the outw join) — stage it once or the
    # single edge-build action recomputes the fact join 4x (measured
    # 4.1 s -> 2.0 s for the build at sf0.1)
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count("*").cast("long").alias("w"))
        .transform(stage)
    )
    # node ids stay BIGINT through every shuffle (customer = 2k,
    # supplier = 2k+1) — string ids tripled the edge list's in-memory
    # footprint and OOM'ed the 48x scale probe; the display form is
    # minted once, on the 20 output rows
    cid = (F.col("o_custkey") * 2).cast("long")
    sid = (F.col("l_suppkey") * 2 + 1).cast("long")
    raw = pair.select(cid.alias("src"), sid.alias("dst"), "w").unionAll(
        pair.select(sid.alias("src"), cid.alias("dst"), "w")
    )
    outw = raw.groupBy("src").agg(F.sum("w").cast("long").alias("ow"))
    # staged: every iteration reads the edges and the (small) node list
    edges = stage(raw.join(outw, "src"))
    counted = Observation("pagerank_nodes")
    nodes = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .observe(counted, F.count(F.lit(1)).alias("n"))
        .transform(stage)
    )
    base = nodes.agg(
        F.expr(f"CAST({PR_SCALE} div count(*) AS BIGINT)").alias("b")
    )
    rank = nodes.crossJoin(F.broadcast(base)).select(
        "id", F.col("b").alias("r")
    )
    # r15 (guide §3.1, §2.4): the rank vector and the incoming-sum are
    # both NODES-sized (orders of magnitude smaller than the edge
    # list), but their size ESTIMATES come from an aggregation over the
    # staged edge frame, so the planner sort-merge-joined every
    # iteration — two full exchanges + sorts of the EDGE list per
    # superstep (`scripts/plan_shape.py q_graph_pagerank` counts the
    # joins of the plan that runs). Explicit
    # broadcast hints pin both per-iteration joins to BroadcastHashJoin:
    # edges never re-shuffle after the build, and the only per-iteration
    # exchange left is the map-side-partially-aggregated contribution
    # shuffle (node-sized after partial agg). Rank mass is BIGINT
    # fixed-point, so join strategy cannot change any value. At true
    # scale the rank vector is #nodes rows — broadcastability is the
    # standard Pregel-alternative trade and the hint keeps the decision
    # deliberate rather than estimate-driven. The gate reads the node
    # count the stage job observed (no extra pass): above
    # PR_BROADCAST_MAX_NODES the edges are co-partitioned by src ONCE
    # (cached: a checkpoint forgets its partitioning) and both joins
    # sort-merge, so each iteration shuffles only the nodes-sized rank
    # and contribution frames.
    if counted.get["n"] <= PR_BROADCAST_MAX_NODES:
        side = F.broadcast
    else:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        edges = materialize(edges.repartition(n_parts, "src"))

        def side(df: DataFrame) -> DataFrame:
            return df.hint("merge")

    for _ in range(PR_ITERS):
        inc = (
            edges.join(side(rank), edges.src == rank.id)
            .select(
                F.col("dst").alias("inc_id"),
                F.expr("(r * w) div ow").alias("contrib"),
            )
            .groupBy("inc_id")
            .agg(F.sum("contrib").cast("long").alias("s"))
        )
        rank = (
            nodes.crossJoin(F.broadcast(base))
            .join(side(inc), nodes.id == inc.inc_id, "left")
            .select(
                "id",
                F.expr(
                    "CAST((b * 15 + 85 * coalesce(s, CAST(0 AS BIGINT))) "
                    "div 100 AS BIGINT)"
                ).alias("r"),
            )
        )
    w = Window.orderBy(F.col("rank_q").desc(), "nid")
    display = F.concat(
        F.when(F.col("nid") % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        F.expr("nid div 2").cast("string"),
    )
    return (
        rank.select(
            F.col("id").alias("nid"),
            F.col("r").alias("rank_q"),
            (
                F.floor(
                    F.col("r") / F.lit(float(PR_SCALE)) * 10000000 + F.lit(0.5)
                )
                / 10000000
            ).alias("score"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= PR_TOP)
        .select(display.alias("id"), "rank_q", "score", "rnk")
    )


# ------------------------------------------------------ Zipf slope
ZIPF_TOP = 100  # regression over the top-K ranks


@register(
    "q_text_zipf",
    oracle=f"""
    WITH tf AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY tok
    ), ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rnk
        FROM tf
    ), pts AS (
        SELECT CAST(floor(ln(rnk) * 1000000 + 0.5) AS BIGINT) AS x_q,
               CAST(floor(ln(n) * 1000000 + 0.5) AS BIGINT) AS y_q
        FROM ranked WHERE rnk <= {ZIPF_TOP}
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(x_q) AS BIGINT) AS sx,
               CAST(sum(y_q) AS BIGINT) AS sy,
               CAST(sum(x_q * y_q) AS BIGINT) AS sxy,
               CAST(sum(x_q * x_q) AS BIGINT) AS sxx
        FROM pts
    )
    SELECT m AS n_ranks,
           floor(CAST(m * sxy - sx * sy AS DOUBLE)
                 / (m * sxx - sx * sx) * 10000 + 0.5) / 10000
               AS zipf_slope
    FROM s
    """,
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency diagnostic: the least-squares slope of
    ln(frequency) against ln(rank) over the corpus's top-{ZIPF_TOP}
    token ranks. Natural text sits near -1 (Zipf's law); a much
    flatter slope flags template/boilerplate-heavy corpora and a much
    steeper one flags tiny-vocabulary spam — a one-number corpus
    health check quality teams run before trusting token statistics.

    Portability: each ln() quantizes to BIGINT micro-units PER ROW
    (the q_text_surprisal convention; the ln-ulp caveat of
    functions/portable.py applies), the regression moments are exact
    integer sums, and the slope is one double division portably
    rounded — no order-dependent float accumulation.

    Scale: one explode -> vocab-sized count agg (map-side combined),
    a global top-K rank over the VOCAB (not the corpus), and a 1-row
    regression reduce. The corpus is touched exactly once."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), "tok")
    pts = (
        tf.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= ZIPF_TOP)
        .select(
            F.floor(F.log(F.col("rnk").cast("double")) * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("x_q"),
            F.floor(F.log(F.col("n").cast("double")) * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("y_q"),
        )
    )
    s = pts.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("x_q").cast("long").alias("sx"),
        F.sum("y_q").cast("long").alias("sy"),
        F.sum(F.col("x_q") * F.col("y_q")).cast("long").alias("sxy"),
        F.sum(F.col("x_q") * F.col("x_q")).cast("long").alias("sxx"),
    )
    slope = (
        F.floor(
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * 10000
            + F.lit(0.5)
        )
        / 10000
    )
    return s.select(F.col("m").alias("n_ranks"), slope.alias("zipf_slope"))


q_text_zipf.__doc__ = q_text_zipf.__doc__.format(ZIPF_TOP=ZIPF_TOP)


# --------------------------------------------- PCA covariance (fit)
PCA_SAMPLE_MOD = 8  # fit on the deterministic 1/8 sample (vec_id % 8)
PCA_Q = 10**4  # per-element fixed-point scale; products carry Q^2


@register(
    "q_embed_pca_cov",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding
        FROM embeddings WHERE vec_id % {PCA_SAMPLE_MOD} = 0
    ), el AS (
        SELECT e.vec_id, t.range AS d,
               CAST(floor(e.embedding[t.range + 1] * {PCA_Q} + 0.5)
                    AS BIGINT) AS xq
        FROM e, range(64) t
    ), p AS (
        SELECT a.d AS d_i, b.d AS d_j,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a.xq * b.xq) AS BIGINT) AS sxy,
               CAST(sum(a.xq) AS BIGINT) AS sx,
               CAST(sum(b.xq) AS BIGINT) AS sy
        FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.d <= b.d
        GROUP BY a.d, b.d
    )
    SELECT d_i, d_j, n,
           floor(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n * {PCA_Q * PCA_Q})
                 * 100000000 + 0.5) / 100000000 AS cov
    FROM p
    """,
)
def q_embed_pca_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance-matrix fit — the first half of PCA
    whitening / OPQ rotation training (the preprocessing step
    embedding-dedup and ANN pipelines run before quantization; FAISS
    trains OPQ/PCA on a sample exactly like this). Emits the upper
    triangle of the 64x64 covariance matrix computed over a
    DETERMINISTIC 1/{PCA_SAMPLE_MOD} sample (vec_id modulus — fitting
    rotations on a sample is the production norm, and the modulus
    keeps the sample identical across engines and runs).

    Portability: elements quantize to BIGINT ten-thousandths; all
    three regression moments (sum, cross-sum, count) are exact BIGINT;
    cov = (n*Sxy - Sx*Sy) / (n^2 * Q^2) is one double division,
    portably rounded. BIGINT headroom: with unit-magnitude elements
    (|xq| up to Q = 1e4) the binding term is n*Sxy <= n^2 * Q^2, so
    int64 holds to n ~ 3e5 SAMPLED vectors (ADVICE r9 corrected the
    earlier ~1e6 claim), not the corpus size — raise PCA_SAMPLE_MOD
    or promote the moments to DECIMAL(38,0) in both engines (the
    money_sum convention) past that. The failure mode is ASYMMETRIC
    and would not fail cleanly: Spark wraps int64 silently while
    DuckDB promotes/raises, so an over-ceiling run DIVERGES at the
    parity gate rather than erroring on both sides — treat the
    ceiling as a hard precondition, not a soft degradation.

    Scale: explode is 64/row on the SAMPLE only; the self-join keys on
    vec_id (co-partitioned, d<=d residual) and the aggregate reduces
    straight to the fixed 2080-cell grid with map-side combine. The
    full corpus is never touched — sample-fit, corpus-apply."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % PCA_SAMPLE_MOD == 0)
        .select(
            "vec_id", F.posexplode("embedding").alias("d", "x")
        )
        .select(
            "vec_id",
            "d",
            F.floor(F.col("x") * PCA_Q + F.lit(0.5)).cast("long").alias("xq"),
        )
    )
    a = e.select(
        F.col("vec_id").alias("va"),
        F.col("d").alias("d_i"),
        F.col("xq").alias("xa"),
    )
    b = e.select(
        F.col("vec_id").alias("vb"),
        F.col("d").alias("d_j"),
        F.col("xq").alias("xb"),
    )
    p = (
        a.join(b, (F.col("va") == F.col("vb")) & (F.col("d_i") <= F.col("d_j")))
        .groupBy("d_i", "d_j")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("xa") * F.col("xb")).cast("long").alias("sxy"),
            F.sum("xa").cast("long").alias("sx"),
            F.sum("xb").cast("long").alias("sy"),
        )
    )
    cov = (
        F.floor(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n").cast("double") * F.col("n") * (PCA_Q * PCA_Q))
            * 100000000
            + F.lit(0.5)
        )
        / 100000000
    )
    return p.select("d_i", "d_j", "n", cov.alias("cov"))


q_embed_pca_cov.__doc__ = q_embed_pca_cov.__doc__.format(
    PCA_SAMPLE_MOD=PCA_SAMPLE_MOD
)


# --------------------------------------------- rendezvous sharding
RDV_SHARDS = 16


def _rdv_hash_duck(shard_expr: str) -> str:
    from ..functions.portable import hash56_sql_duckdb

    return hash56_sql_duckdb(
        f"CAST(doc_id AS VARCHAR) || ':' || CAST({shard_expr} AS VARCHAR)"
    )


@register(
    "q_shard_rendezvous",
    oracle=f"""
    WITH grid AS (
        SELECT d.doc_id, t.range AS shard,
               {_rdv_hash_duck("t.range")} AS h
        FROM documents d, range({RDV_SHARDS + 1}) t
    ), a_now AS (
        SELECT doc_id, shard FROM (
            SELECT doc_id, shard,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY h DESC, shard) AS rn
            FROM grid WHERE shard < {RDV_SHARDS}
        ) x WHERE rn = 1
    ), a_grown AS (
        SELECT doc_id, shard FROM (
            SELECT doc_id, shard,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY h DESC, shard) AS rn
            FROM grid
        ) x WHERE rn = 1
    )
    SELECT a_now.shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN a_now.shard <> a_grown.shard
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
           CAST(sum(CASE WHEN a_now.shard <> a_grown.shard
                          AND a_grown.shard = {RDV_SHARDS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_to_new
    FROM a_now JOIN a_grown ON a_now.doc_id = a_grown.doc_id
    GROUP BY a_now.shard
    """,
)
def q_shard_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENDEZVOUS (highest-random-weight) sharding — the stable shard
    assignment for corpora that grow shards over time: each document
    goes to argmax over shards of hash(doc, shard). Adding a shard
    moves ONLY the documents whose new-shard hash beats their current
    winner — an expected 1/(S+1) of the corpus, every one landing on
    the NEW shard — where modulo sharding reshuffles (S-1)/S of
    everything. The query emits the current {RDV_SHARDS}-shard census
    AND the migration audit against {RDV_SHARDS}+1 shards; the HRW
    property is registry-visible as n_moved == n_moved_to_new on
    every row.

    Portability: the weight is the shared hash56 of 'doc_id:shard';
    argmax ties break by shard index (hash equality across shards is
    ~2^-56 but the tiebreak removes even that).

    Scale: the grid is a generated {RDV_SHARDS}+1-row explode per doc
    (no join), both argmaxes ride ONE window over the same
    doc-partitioned exchange, and the census is shard-cardinality
    rows. At 100 TB this is the cheapest possible stable-assignment
    scan: one shuffle on doc_id, no state."""
    from ..functions.portable import hash56

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    grid = d.select(
        "doc_id",
        F.explode(
            F.array(*[F.lit(i) for i in range(RDV_SHARDS + 1)])
        ).alias("shard"),
    ).select(
        "doc_id",
        "shard",
        hash56(
            F.concat_ws(":", F.col("doc_id"), F.col("shard"))
        ).alias("h"),
    )
    w_all = Window.partitionBy("doc_id").orderBy(F.col("h").desc(), "shard")
    ranked = grid.select(
        "doc_id",
        "shard",
        F.row_number().over(w_all).alias("rn_grown"),
        F.when(F.col("shard") < RDV_SHARDS, True).otherwise(False).alias(
            "now_eligible"
        ),
        "h",
    )
    w_now = Window.partitionBy("doc_id").orderBy(F.col("h").desc(), "shard")
    a_grown = ranked.filter(F.col("rn_grown") == 1).select(
        "doc_id", F.col("shard").alias("shard_grown")
    )
    a_now = (
        ranked.filter("now_eligible")
        .withColumn("rn_now", F.row_number().over(w_now))
        .filter(F.col("rn_now") == 1)
        .select("doc_id", F.col("shard").alias("shard"))
    )
    moved = F.when(F.col("shard") != F.col("shard_grown"), 1).otherwise(0)
    to_new = F.when(
        (F.col("shard") != F.col("shard_grown"))
        & (F.col("shard_grown") == RDV_SHARDS),
        1,
    ).otherwise(0)
    return (
        a_now.join(a_grown, "doc_id")
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(moved).cast("long").alias("n_moved"),
            F.sum(to_new).cast("long").alias("n_moved_to_new"),
        )
    )


q_shard_rendezvous.__doc__ = q_shard_rendezvous.__doc__.format(
    RDV_SHARDS=RDV_SHARDS
)


# ------------------------------------------------- token entropy
@register(
    "q_text_entropy",
    oracle="""
    WITH tc AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, tok
    ), tn AS (
        SELECT doc_id, c,
               CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
        FROM tc
    ), m AS (
        SELECT doc_id,
               CAST(max(n) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(sum(c * CAST(floor(
                   ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
                   * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS h_q
        FROM tn GROUP BY doc_id
    )
    SELECT doc_id, n AS n_tokens, n_distinct,
           floor(h_q / CAST(n AS DOUBLE) + 0.5) / 10000 AS entropy
    FROM m
    """,
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution (Shannon) entropy in nats —
    the information-density quality feature (low entropy = repeated
    boilerplate, near-ln(n_tokens) = no repetition at all) that
    quality classifiers consume alongside the Gopher ratios and
    repetition shares.

    H = sum_t (c_t/n) ln(n/c_t), computed as an exact BIGINT sum of
    per-type terms c_t * lnq(n/c_t) (each ln quantized to integer
    ten-thousandths per row — the q_text_surprisal convention, ln-ulp
    caveat applies) divided once by n.

    Scale: one explode -> (doc, tok) counts -> per-doc reduce; the
    per-doc total rides the same aggregate via a window over the
    already-grouped TYPE table (types/doc rows, not tokens/doc) —
    two shuffles total, both on doc-ish keys, no joins."""
    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.partitionBy("doc_id")
    term_q = F.col("c") * F.floor(
        F.log(
            F.sum("c").over(w).cast("double") / F.col("c").cast("double")
        )
        * 10000
        + F.lit(0.5)
    ).cast("long")
    m = (
        tc.withColumn("term_q", term_q)
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.count("*").cast("long").alias("n_distinct"),
            F.sum("term_q").cast("long").alias("h_q"),
        )
    )
    return m.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        "n_distinct",
        (
            F.floor(F.col("h_q") / F.col("n").cast("double") + F.lit(0.5))
            / 10000
        ).alias("entropy"),
    )


# ------------------------------------- farthest-point (k-center) seeding
SEED_K = 4  # seeds selected; round r maximizes distance to rounds < r


def _seed_oracle() -> str:
    """Unrolled farthest-point traversal in SQL: exact integer squared
    L2 on quantized elements, argmax by (dist DESC, vec_id)."""
    ctes = [
        """el AS (
        SELECT vec_id, t.range AS d,
               CAST(floor(embedding[t.range + 1] * 10000 + 0.5) AS BIGINT)
                   AS xq
        FROM embeddings, range(64) t
    ), s1 AS (
        SELECT d, xq FROM el
        WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
    ), d1 AS (
        SELECT e.vec_id,
               CAST(sum((e.xq - s.xq) * (e.xq - s.xq)) AS BIGINT) AS dist
        FROM el e JOIN s1 s ON s.d = e.d GROUP BY e.vec_id
    )"""
    ]
    prev_d = "d1"
    for i in range(2, SEED_K + 1):
        # exclude already-chosen seeds from the argmax: in the
        # degenerate all-identical corpus every remaining distance is
        # 0 and the (dist DESC, vec_id) tiebreak would re-pick seed 1
        # (ADVICE r8) — the exclusion guarantees k DISTINCT seeds in
        # both engines
        picked = " UNION ALL ".join(
            ["SELECT min(vec_id) AS vec_id FROM embeddings"]
            + [f"SELECT vec_id FROM pick{j}" for j in range(2, i)]
        )
        ctes.append(
            f"""pick{i} AS (
        SELECT vec_id, dist FROM {prev_d}
        WHERE vec_id NOT IN ({picked})
        ORDER BY dist DESC, vec_id LIMIT 1
    ), s{i} AS (
        SELECT d, xq FROM el
        WHERE vec_id = (SELECT vec_id FROM pick{i})
    ), nd{i} AS (
        SELECT e.vec_id,
               CAST(sum((e.xq - s.xq) * (e.xq - s.xq)) AS BIGINT) AS dist
        FROM el e JOIN s{i} s ON s.d = e.d GROUP BY e.vec_id
    ), d{i} AS (
        SELECT p.vec_id, least(p.dist, n.dist) AS dist
        FROM {prev_d} p JOIN nd{i} n ON n.vec_id = p.vec_id
    )"""
        )
        prev_d = f"d{i}"
    picks = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS seed_idx, vec_id, dist AS dist_q "
        f"FROM pick{i}"
        for i in range(2, SEED_K + 1)
    )
    return f"""
    WITH {", ".join(ctes)}
    SELECT CAST(1 AS BIGINT) AS seed_idx,
           (SELECT min(vec_id) FROM embeddings) AS vec_id,
           CAST(0 AS BIGINT) AS dist_q
    UNION ALL {picks}
    """


@register("q_sim_seed_farthest", oracle=_seed_oracle())
def q_sim_seed_farthest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FARTHEST-POINT seeding (Gonzalez k-center traversal — the
    deterministic kmeans++ stand-in index builders use when
    reproducibility beats the D^2-sampling guarantee): seed 1 is the
    lowest vec_id; each later seed is the vector FARTHEST from the
    already-chosen set. The emitted dist_q per seed is the coverage
    radius the corpus had before that seed joined — the curve an
    index tuner reads to pick k (2x-approximation of the optimal
    k-center radius at every prefix).

    Portability: squared L2 on BIGINT ten-thousandth-quantized
    elements — distances are EXACT integers, so the argmax (ties by
    vec_id) cannot flip between engines; the only nondeterminism
    float distances would allow is gone by construction.

    Scale: each of the k-1 rounds is ONE corpus pass (zip_with +
    aggregate, JVM codegen, no explode) against a 1-row broadcast
    seed, with the running min-distance column staged per round
    so round r never recomputes rounds < r. k passes over the corpus
    is the algorithm's intrinsic cost — the same shape FAISS pays on
    one machine, here as k scans that parallelize per partition."""
    emb = load_table(spark, sf_dir, "embeddings")
    eq = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x * 10000 + F.lit(0.5)).cast("long"),
        ).alias("q"),
    )
    first = eq.agg(F.min("vec_id").alias("vid"))

    def dist_to(seed_col):
        return F.aggregate(
            F.zip_with(F.col("q"), seed_col, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    s1 = eq.join(F.broadcast(first), eq.vec_id == F.col("vid")).select(
        F.col("q").alias("sq")
    )
    d = (
        eq.crossJoin(F.broadcast(s1))
        .select("vec_id", "q", dist_to(F.col("sq")).alias("dist"))
        .transform(stage)
    )
    out = first.select(
        F.lit(1).cast("long").alias("seed_idx"),
        F.col("vid").alias("vec_id"),
        F.lit(0).cast("long").alias("dist_q"),
    )
    for i in range(2, SEED_K + 1):
        # anti-join the already-chosen seeds out of the candidate
        # frame: all picked seeds sit at dist 0, so in a degenerate
        # all-identical corpus the (dist DESC, vec_id) argmax would
        # re-pick seed 1 — exclusion guarantees k distinct seeds
        # (ADVICE r8; oracle replays the same NOT IN)
        pick = (
            d.join(out.select("vec_id"), "vec_id", "left_anti")
            .orderBy(F.col("dist").desc(), "vec_id")
            .limit(1)
        )
        out = out.unionAll(
            pick.select(
                F.lit(i).cast("long").alias("seed_idx"),
                "vec_id",
                F.col("dist").alias("dist_q"),
            )
        )
        if i < SEED_K:
            seed = eq.join(
                F.broadcast(pick.select("vec_id")), "vec_id"
            ).select(F.col("q").alias("sq"))
            d = (
                d.crossJoin(F.broadcast(seed))
                .select(
                    "vec_id",
                    "q",
                    F.least(F.col("dist"), dist_to(F.col("sq"))).alias(
                        "dist"
                    ),
                )
                .transform(stage)
            )
    return out


# ---------------------------------------------- graph degree census
@register(
    "q_graph_degree_stats",
    oracle="""
    WITH pair AS (
        SELECT o.o_custkey AS c, l.l_suppkey AS s
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_custkey, l.l_suppkey
    ), cd AS (
        SELECT CAST(count(*) AS BIGINT) AS deg FROM pair GROUP BY c
    ), sd AS (
        SELECT CAST(count(*) AS BIGINT) AS deg FROM pair GROUP BY s
    )
    SELECT 'customer' AS side, deg, CAST(count(*) AS BIGINT) AS n_nodes
    FROM cd GROUP BY deg
    UNION ALL
    SELECT 'supplier' AS side, deg, CAST(count(*) AS BIGINT) AS n_nodes
    FROM sd GROUP BY deg
    """,
)
def q_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree census of the trade graph — the companion diagnostic to
    q_graph_pagerank: per side of the bipartite graph, the histogram
    of node degrees (how many partners each customer/supplier trades
    with). Crawl curation reads exactly this before trusting
    link-graph signals: a census dominated by degree-1 nodes means
    the graph carries no ranking information, and a monster-degree
    hub predicts the skew a propagation join must survive.

    Scale: the distinct-pair aggregate is the same edge build
    PageRank pays (combinable on the fact scan); each side then
    reduces pairs -> per-node degree -> histogram, two
    map-side-combinable aggregates whose output is bounded by the
    distinct-degree count, not the node count."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )

    def census(key: str, side: str) -> DataFrame:
        return (
            pair.groupBy(key)
            .agg(F.count("*").cast("long").alias("deg"))
            .groupBy("deg")
            .agg(F.count("*").cast("long").alias("n_nodes"))
            .select(F.lit(side).alias("side"), "deg", "n_nodes")
        )

    return census("o_custkey", "customer").unionAll(
        census("l_suppkey", "supplier")
    )


# ------------------------------------------- whitening fit -> apply
WHITEN_PROBES = 3  # vectors whose whitened planes the gate pins


@register(
    "q_embed_whiten",
    oracle=f"""
    WITH el AS (
        SELECT vec_id, t.range AS d,
               CAST(floor(embedding[t.range + 1] * 10000 + 0.5) AS BIGINT)
                   AS xq
        FROM embeddings, range(64) t
    ), mom AS (
        SELECT d, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xq) AS BIGINT) AS sx,
               CAST(sum(xq * xq) AS BIGINT) AS sxx
        FROM el GROUP BY d
    )
    SELECT e.vec_id, e.d,
           floor((e.xq * m.n - m.sx)
                 / sqrt(CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE))
                 * 10000 + 0.5) / 10000 AS w
    FROM el e JOIN mom m ON m.d = e.d
    WHERE e.vec_id < {WHITEN_PROBES}
      AND m.n * m.sxx - m.sx * m.sx > 0
    """,
)
def q_embed_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension whitening, fit -> apply (the standardization pass
    ANN/PCA pipelines run before quantization; the APPLY half of the
    q_embed_pca_cov fit story): exact BIGINT per-dim moments (n, Sx,
    Sxx) over ten-thousandth-quantized elements, then the whitened
    value (x - mean)/std computed division-free as
    (n*x - Sx) / sqrt(n*Sxx - Sx^2) — integer numerator, one sqrt and
    one IEEE division on identical inputs in both engines, portably
    rounded. The gate pins the whitened planes of {p} probe vectors
    (the application itself, not just the fitted parameters);
    zero-variance dimensions are excluded by the var > 0 guard rather
    than emitting an engine-dependent inf.

    Scale: the moment fit is one map-side-combinable agg to a 64-row
    grid; the apply is a broadcast of that grid back onto the scan.
    BIGINT headroom: n*Sxx <= n^2 * Q^2 binds at n ~ 3e5 vectors (the
    q_embed_pca_cov ceiling — same fix there: sample the fit or
    promote the moments to DECIMAL(38,0))."""
    emb = load_table(spark, sf_dir, "embeddings")
    el = emb.select(
        "vec_id", F.posexplode("embedding").alias("d", "x")
    ).select(
        "vec_id",
        "d",
        F.floor(F.col("x") * 10000 + F.lit(0.5)).cast("long").alias("xq"),
    )
    mom = el.groupBy("d").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("sxx"),
    )
    var = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    w = (F.col("xq") * F.col("n") - F.col("sx")) / F.sqrt(
        var.cast("double")
    )
    return (
        el.filter(F.col("vec_id") < WHITEN_PROBES)
        .join(F.broadcast(mom), "d")
        .filter(var > 0)
        .select("vec_id", "d", round_agg(w).alias("w"))
    )


q_embed_whiten.__doc__ = q_embed_whiten.__doc__.format(p=WHITEN_PROBES)


# --------------------------------------------- triangle census
def _register_graph_triangles() -> None:
    """Closure-registered: the oracle composes the registered MinHash
    pair oracle as a CTE (the q_dedup_soft convention) so the triangle
    census can never count a different graph than dedup dedups."""
    oracle = f"""
    WITH prs AS ({ORACLES["q_dedup_minhash"]}
    ), e AS (
        SELECT DISTINCT least(doc_a, doc_b) AS a,
               greatest(doc_a, doc_b) AS b
        FROM prs
    ), deg AS (
        SELECT v, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
        GROUP BY v
    ), tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
        FROM deg
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           agg.n_nodes, tri.n_triangles, agg.n_wedges,
           CASE WHEN agg.n_wedges = 0 THEN 0.0
                ELSE floor(3.0 * tri.n_triangles / agg.n_wedges
                           * 10000 + 0.5) / 10000
           END AS transitivity
    FROM tri CROSS JOIN agg
    """

    @register("q_graph_triangles", oracle=oracle)
    def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Triangle census + global transitivity of the verified
        near-dup graph — the structure diagnostic that tells a dedup
        pipeline whether its pair graph is clique-ish (true duplicate
        families — high transitivity, so connected components are
        safe) or chain-ish (transitive drift: A~B~C where A!~C — low
        transitivity, where min-label clustering over-merges). The
        companion reading to q_dedup_cluster_stats' size census.

        Plan: edges canonicalized a<b, triangles via the standard
        oriented two-join (e1(a,b) x e2(b,c) wedge, closed by
        e3(a,c)) — ordering bounds each wedge to one orientation, so
        no triangle is counted twice and no all-pairs appears; wedges
        = sum over nodes of C(deg, 2) off a degree aggregate.
        Transitivity = 3*triangles/wedges, one IEEE division.

        Scale: wedge fan-out is sum(deg^2) — the same inverted-index
        cost class as q_dedup_recall's exact truth, bounded here by
        the verified graph's cliquish degree distribution; at crawl
        scale the standard degree-ordered orientation (high-degree
        endpoints first) caps the join's skew, which the a<b
        canonicalization already approximates on id-clustered dup
        families."""
        d = load_table(spark, sf_dir, "documents")
        sets = doc_shingles(d).transform(materialize)
        pairs = verified_near_dups(sets)
        # staged: three joins read the edges, and the cut lets the
        # shingle cache go before the 1-row result returns
        e = stage(
            pairs.select(
                F.least("doc_a", "doc_b").alias("a"),
                F.greatest("doc_a", "doc_b").alias("b"),
            ).distinct()
        )
        sets.unpersist()
        deg = (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count("*").cast("long").alias("d"))
        )
        e1 = e.select(F.col("a"), F.col("b"))
        e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
        e3 = e.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
        tri = (
            e1.join(e2, "b")
            .join(
                e3,
                (F.col("ta") == F.col("a")) & (F.col("tc") == F.col("c")),
                "left_semi",
            )
            .agg(F.count("*").cast("long").alias("n_triangles"))
        )
        agg = deg.agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges"),
        )
        edges_n = e.agg(F.count("*").cast("long").alias("n_edges"))
        trans = F.when(F.col("n_wedges") == 0, F.lit(0.0)).otherwise(
            round_agg(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")
            )
        )
        return (
            edges_n.crossJoin(F.broadcast(agg))
            .crossJoin(F.broadcast(tri))
            .select(
                "n_edges",
                "n_nodes",
                "n_triangles",
                "n_wedges",
                trans.alias("transitivity"),
            )
        )


_register_graph_triangles()
