"""LLM-data-pipeline operators (SURVEY.md §2.11): dedup family,
similarity search, text analysis — the Spark faces.

100 TB design notes (per operator):
  * MinHash-LSH (near-dedup): never all-pairs. Shingle -> k minhashes
    -> band signatures -> candidates = pairs within a band bucket
    (one shuffle on (band, sig), cost O(docs x bands)) -> exact-Jaccard
    verify only candidates. Hot buckets (boilerplate docs) are the skew
    risk: buckets above MAX_LSH_BUCKET docs are dropped outright, which
    bounds the candidate count at bands * buckets * cap^2 regardless of
    corpus skew (a boilerplate bucket at 100 TB would otherwise make
    the pair step quadratic).
  * SimHash: one pass, 64 bits of state per doc; pair detection blocks
    on hash prefix so the join is equi, not theta.
  * Embedding cosine: norms precomputed once. Exact all-pairs is
    inherently O(n^2) compare work, but it is executed as a triangle-
    blocked equi-join (broadcast block-pair table, shuffle hash join on
    the block key) so the n^2 work spreads over ~B^2/2 independent
    partitions instead of one BroadcastNestedLoopJoin task. IVF (assign
    to nearest centroid, pair within cell) is the sub-quadratic path.
  * Everything is built-in expressions (JVM-codegen'd, no Python in the
    hot path); hashes are md5-prefix-based so the DuckDB oracle can
    replay them bit-for-bit.
"""

from __future__ import annotations


import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegralType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..caching import eager_checkpoint, materialize, stage
from ..functions.portable import hash56, hash56_sql_spark, round_agg
from ..functions.text import (
    MINHASH_PARAMS,
    MINHASH_ROWS,
    P31,
    SIMHASH_BITS,
    shingle_hash_sql,
    shingles_sql,
)
from . import local

# ---------------------------------------------------------------------------
# Shingling + MinHash
# ---------------------------------------------------------------------------


def _fan_out(df: DataFrame) -> DataFrame:
    """Ensure CPU-bound expansion stages use every core: the small-SF
    fixtures are single-row-group parquets (unsplittable -> 1 scan
    partition), so shingling/hashing would otherwise run single-
    threaded. The repartition moves only the tiny source rows; on a
    real multi-file 100 TB table the scan is already wide and this is
    a no-op. Width is inferred from the scan's file count (reuses the
    relation's cached FileIndex — no .rdd plan materialization on the
    file-scan path). Non-file-backed frames (in-memory fixtures,
    derived frames in tests) report zero inputFiles; for those the
    partition count decides, so an already-wide frame is NOT forced
    through a pointless shuffle — the .rdd fallback never runs for
    the parquet scans this guards at scale."""
    p = df.sparkSession.sparkContext.defaultParallelism
    width = len(df.inputFiles()) or df.rdd.getNumPartitions()
    return df.repartition(p) if width < p else df


fan_out = _fan_out  # public name: plans use it to widen 1-file corpus
# scans before CPU-dense explode/hash projections (same no-op-at-scale
# contract as the private helper)


def doc_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, s: array<string>) — distinct word n-gram shingles.

    NOTE: materialize this frame before exploding its array — Catalyst
    otherwise re-evaluates the whole shingle expression once per
    emitted element (~|shingles| x blowup, measured 60x). Every
    shingle consumer below takes the caller's materialized frame."""
    return _fan_out(docs).select(
        "doc_id", F.expr(shingles_sql("spark", "text", n)).alias("s")
    )


def exploded_from_sets(sets: DataFrame) -> DataFrame:
    """(doc_id, shingle) from a precomputed (doc_id, s) frame. Only use
    with a persisted/cached ``sets`` — exploding an UNcached projected
    array re-evaluates the shingle expression once per element (the
    measured 60x blowup)."""
    return sets.select("doc_id", F.explode("s").alias("shingle"))


def minhash_wide(sets: DataFrame) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): all k minhashes in ONE narrow pass —
    the md5 is computed once per shingle, the k affine transforms are
    codegen'd column expressions, and the single groupBy(doc_id) gets
    map-side partial min. (The naive shingle x hash-function cross join
    recomputes the md5 k times and shuffles k x |shingles| rows — 25x
    slower at sf0.1.) ``sets`` is the caller's materialized
    doc_shingles frame, so one shingling pass also feeds the verify
    stage."""
    hashed = exploded_from_sets(sets).select(
        "doc_id", F.expr(shingle_hash_sql("spark", "shingle")).alias("x")
    )
    hcols = [
        ((F.lit(a) * F.col("x") + F.lit(b)) % P31).alias(f"h{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return (
        hashed.select("doc_id", *hcols)
        .groupBy("doc_id")
        .agg(*[F.min(f"h{i}").alias(f"mh_{i}") for i in range(len(MINHASH_PARAMS))])
    )


def minhash_signatures(sets: DataFrame) -> DataFrame:
    """(doc_id, i, mh): long-form view of minhash_wide over the
    caller's materialized shingle ``sets``."""
    wide = minhash_wide(sets)
    k = len(MINHASH_PARAMS)
    stack = ", ".join(f"{i}, mh_{i}" for i in range(k))
    return wide.selectExpr("doc_id", f"stack({k}, {stack}) AS (i, mh)")


def lsh_band_signatures(sets: DataFrame) -> DataFrame:
    """(doc_id, band, sig): band signature = '-'-joined minhashes of the
    band's rows, built from the wide form with no extra shuffle."""
    wide = minhash_wide(sets)
    bands = len(MINHASH_PARAMS) // MINHASH_ROWS
    sig_cols = [
        F.concat_ws(
            "-",
            *[
                F.col(f"mh_{b * MINHASH_ROWS + r}").cast("string")
                for r in range(MINHASH_ROWS)
            ],
        ).alias(f"sig{b}")
        for b in range(bands)
    ]
    wide_sigs = wide.select("doc_id", *sig_cols)
    stack = ", ".join(f"{b}, sig{b}" for b in range(bands))
    return wide_sigs.selectExpr("doc_id", f"stack({bands}, {stack}) AS (band, sig)")


# Per-(band, sig) bucket cap: a bucket this hot is boilerplate, not
# near-dup signal, and pairing inside it is quadratic. Mirrored in the
# DuckDB oracle (plans/llm_ops.py) so both engines define the same
# operator. Fixture buckets top out well below this.
MAX_LSH_BUCKET = 256

# Exact shingle-Jaccard over the sa/sb set columns scored_pairs
# attaches — ONE definition shared by the batch verify, the batch
# probe, and the streaming ingest (a drift here would silently fork
# the regimes' thresholding).
JACC_SQL = "CAST(size(array_intersect(sa, sb)) AS DOUBLE) / size(array_union(sa, sb))"


def lsh_candidate_pairs(
    sets: DataFrame, max_bucket: int = MAX_LSH_BUCKET
) -> DataFrame:
    """(doc_a, doc_b, n_shared): the capped_bucket_pairs candidates over
    the MinHash-LSH (band, sig) buckets of the caller's materialized
    shingle ``sets``; ``n_shared`` counts the bands the pair agrees
    on."""
    return capped_bucket_pairs(
        lsh_band_signatures(sets), ["band", "sig"], max_bucket
    )


def capped_bucket_pairs(
    keyed: DataFrame, key_cols: list[str], max_bucket: int
) -> DataFrame:
    """(doc_a, doc_b, n_shared): distinct unordered doc_id pairs that
    share a bucket of ``key_cols`` holding between 2 and
    ``max_bucket`` rows (both bounds inclusive); ``n_shared`` counts
    the capped buckets the pair shares. This is the one candidate rule
    of every blocked dedup family member: MinHash-LSH band buckets,
    the rare-shingle containment index, the image/audio hash bands
    and the video fingerprint sets. One shuffle (groupBy key_cols),
    then pairs by double-exploding each bucket's collected id array,
    so bucket size is observed and capped BEFORE any pair exists.
    Memory per group is O(max_bucket), pair output O(max_bucket^2)
    worst case. The dedup of repeated pairs is the count aggregate
    itself, so callers that gate on overlap (containment's >= 2 rare
    shingles, video's 2*n_shared >= min size) filter ``n_shared`` at
    no extra cost; the rest drop it."""
    buckets = (
        keyed.groupBy(*key_cols)
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    return (
        buckets.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )


def verified_near_dups(sets: DataFrame, threshold: float = 0.8) -> DataFrame:
    """The text near-dup graph: (doc_a, doc_b, jacc) for every capped
    MinHash-LSH candidate pair whose exact shingle-Jaccard is >=
    threshold. ``sets`` is the caller's materialized
    ``doc_shingles(docs)`` frame; it feeds both the candidate
    signatures and the verify join, so the corpus is shingled once.
    The caller owns its lifetime: materialize it at the plan root and
    unpersist it once the result is consumed."""
    return scored_pairs(
        lsh_candidate_pairs(sets), sets, JACC_SQL, "jacc", threshold
    )


def scored_pairs(
    candidates: DataFrame,
    sets: DataFrame,
    score_sql: str,
    score_name: str,
    threshold: float,
) -> DataFrame:
    """Attach both shingle sets to each candidate pair (two doc_id
    equi-joins against the persisted (doc_id, s) frame, exposed as
    ``sa``/``sb``), evaluate ``score_sql`` over them, round portably,
    keep pairs scoring >= threshold. The shared verify scaffold for
    Jaccard / containment / any future set metric."""
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            round_agg(F.expr(score_sql)).alias(score_name),
        )
        .filter(F.col(score_name) >= threshold)
    )


# Rare-shingle inverted-index cap for containment blocking: a shingle
# appearing in more than this many documents is boilerplate vocabulary
# and generates quadratic candidates without carrying containment
# signal. Mirrored in the DuckDB oracle. Recall caveat (same family as
# MAX_LSH_BUCKET): a contained pair ALL of whose shared shingles are
# over-cap is not emitted.
MAX_SHINGLE_DF = 8


def containment_pairs(
    sets: DataFrame,
    threshold: float = 0.9,
    max_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """(doc_a, doc_b, containment): pairs where the smaller document's
    shingle set is >= ``threshold`` contained in the larger's —
    |A ∩ B| / min(|A|, |B|). Catches a document EMBEDDED in a bigger
    one (quotes, concatenated crawls, boilerplate wrapping), which
    Jaccard-family dedup structurally misses: the union denominator
    dilutes the score, and length-bin blocking never pairs documents
    of very different sizes in the first place. ``sets`` is the
    caller's materialized doc_shingles frame.

    Blocking is a rare-shingle inverted index: candidates share at
    least one shingle whose document frequency is within
    [2, max_df] — capped_bucket_pairs, the same collect/cap/double-
    explode guard as MinHash-LSH, so bucket size is observed BEFORE
    any pair exists. At 100 TB the df cap is what keeps the index
    join sub-quadratic: common shingles (the quadratic mass) never
    form buckets, and a genuinely contained pair shares MANY
    shingles, so requiring n_shared >= 2 rare ones (mirrored in the
    oracle) loses essentially nothing while cutting the verify join's
    candidate volume by orders of magnitude — the arrays-attach join
    is the measured cost center at scale (measured 48x-corpus: 9.1M
    candidates, each shuffling ~4 KB of shingle arrays;
    scripts/scale_probe.py)."""
    cand = capped_bucket_pairs(
        exploded_from_sets(sets), ["shingle"], max_df
    ).filter(F.col("n_shared") >= 2)
    cont = "CAST(size(array_intersect(sa, sb)) AS DOUBLE) / least(size(sa), size(sb))"
    return scored_pairs(cand, sets, cont, "containment", threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): token-multiset simhash; bit b is the sign of
    the summed ±1 contributions of each token's hash bit b.

    One aggregation, no row blow-up: the former formulation cross-
    joined tokens x ``bits`` bit-indices and shuffled tokens*bits rows
    into a (doc_id, b) aggregate; here each bit is its own sum
    expression over the token rows (``bits`` codegen'd columns), so the
    md5 is computed once per token and the only shuffle is the per-doc
    partial/merge agg — measured ~2x on the sf0.1 pair workload.

    The token hash is the RAW 56-bit hash56 (not the P31-reduced
    shingle hash MinHash needs for affine-overflow safety): bit
    sampling wants every available bit, and 56 usable bits is what
    lets simhash_pairs widen its signature for corpus-scale block
    selectivity."""
    # r15 NOTE: a per-(doc, type) pre-aggregation (count first, weight
    # the bit sums by cnt — exact integer reweighting) was measured
    # and REVERTED: the extra (doc_id, tok) shuffle costs more than
    # the saved md5/agg rows at calibration scale (q_dedup_simhash_pairs
    # 1.60 -> 2.32 s in the round-15 full-protocol bench). The
    # single-agg form keeps the token stream entirely map-side until
    # the per-doc partial agg.
    toks = _fan_out(docs).select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    hashed = toks.select(
        "doc_id", F.expr(hash56_sql_spark("tok")).alias("x")
    )
    bit_sums = [
        F.sum(
            F.when(F.expr(f"((x >> {b}) & 1) = 1"), 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    assemble = " + ".join(
        f"CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(bits)
    )
    return (
        hashed.groupBy("doc_id")
        .agg(*bit_sums)
        .select("doc_id", F.expr(f"CAST({assemble} AS BIGINT)").alias("simhash"))
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """(doc_a, doc_b, hamming): pairs within ``max_hamming`` bits via
    pigeonhole blocking, never an all-pairs join.

    The signature splits into ``max_hamming + 1`` bit-blocks; two
    signatures within the distance MUST agree exactly on at least one
    block, so candidates = pairs sharing a (block, block-bits) bucket —
    an equi-key, one shuffle, with the same collect/cap/double-explode
    bucket guard as MinHash-LSH. Exact ``bit_count(xor)`` verifies each
    candidate.

    Recall: the BLOCKING is lossless, but the ``max_bucket`` guard
    drops buckets larger than the cap (hot buckets are boilerplate
    signatures, not near-dup signal) — a pair whose every agreeing
    block lands in an over-cap bucket is not emitted, the same caveat
    as MAX_LSH_BUCKET. Pass ``max_bucket=None`` for exact mode: every
    in-distance pair is then guaranteed, at quadratic cost inside any
    hot bucket.

    SCALE CEILING (measured, scripts/scale_probe.py): block-key
    cardinality is 2^(bits/(max_hamming+1)). The default 56-bit
    signature (one portable hash56 per token, 4 blocks x 14 bits =
    16384 keys/block) keeps bucket occupancy sub-linear in the corpus
    — the probe shows flat wall time and constant per-copy pair
    density at 48x. The narrow bits=SIMHASH_BITS_CALIB (16) width is
    fixture-calibration ONLY: its 16-key blocks fill linearly with
    the corpus and the cap then drops real pairs (the 8x probe emits
    FEWER pairs than the 4x probe; zero at 48x)."""
    nblocks = max_hamming + 1
    if bits % nblocks:
        raise ValueError(f"bits={bits} must divide into {nblocks} blocks")
    width = bits // nblocks
    mask = (1 << width) - 1
    sh = simhash(docs, bits)
    keys = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("blk"),
                    F.expr(f"(simhash >> {b * width}) & {mask}").alias("key"),
                )
                for b in range(nblocks)
            ]
        )
    ).alias("k")
    keyed = sh.select("doc_id", "simhash", keys).select(
        "doc_id", "simhash", "k.blk", "k.key"
    )
    size_ok = F.size("ms") >= 2
    if max_bucket is not None:
        size_ok = size_ok & (F.size("ms") <= max_bucket)
    buckets = (
        keyed.groupBy("blk", "key")
        .agg(F.collect_list(F.struct("doc_id", "simhash")).alias("ms"))
        .filter(size_ok)
    )
    return (
        buckets.select(F.explode("ms").alias("a"), "ms")
        .select("a", F.explode("ms").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        # verify BEFORE dedup: a bucket-mate pair agrees on one 4-bit
        # block but is usually far in the other bits, so filtering on
        # the (codegen'd) xor popcount first keeps the distinct's
        # shuffle to true pairs only, not every bucket candidate
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Embedding similarity
# ---------------------------------------------------------------------------

DOT_SQL = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0 AS DOUBLE), (s, v) -> s + v)"
)


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Precompute L2 norms once — at scale this halves the per-pair work
    and is the difference between O(pairs*d) and O(pairs*d + n*d)."""
    return emb.withColumn(
        "norm", F.expr(f"sqrt({DOT_SQL.format(a=vec_col, b=vec_col)})")
    )


def topk_cut(
    df: DataFrame, key, score: str, item: str, k: int, desc: bool = False
) -> DataFrame:
    """The one per-key top-k cut of every vector search: ``df``'s rows
    numbered within each ``key`` (a column name or a list of them) by
    ``score`` ascending (descending with ``desc``), ties to the smaller
    ``item``, keeping ``rank <= k``. The ``rank`` column stays for the
    caller's select. This is the global step of REPOSE's shape: the
    candidates are already local to the key (a broadcast probe or
    shortlist), and the window keeps only the per-key winners. The tie
    rule is the oracles' ``ORDER BY score, item``, so both engines keep
    the same rows."""
    order = F.col(score).desc() if desc else F.col(score)
    w = Window.partitionBy(key).orderBy(order, F.col(item))
    return df.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _query_side(queries: DataFrame) -> DataFrame:
    """(query_id, eq, nq): the broadcast query side of a cosine search."""
    return with_norm(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("eq"),
        F.col("norm").alias("nq"),
    )


def _cells(centroids: DataFrame) -> DataFrame:
    """(cell, ec, nc): the centroid side of every IVF quantizer step."""
    return with_norm(centroids).select(
        F.col("vec_id").alias("cell"),
        F.col("embedding").alias("ec"),
        F.col("norm").alias("nc"),
    )


def _cell_cos(vec: str, norm: str):
    """Cosine of the ``vec`` column (its norm in ``norm``) against a
    ``_cells`` row — ranked only after round_agg (round-before-rank:
    sub-ulp evaluation-order differences between engines must not
    flip a cell)."""
    return F.expr(DOT_SQL.format(a=vec, b="ec")) / (F.col(norm) * F.col("nc"))


def ivf_probe(
    rows: DataFrame,
    centroids: DataFrame,
    n: int,
    key: str = "query_id",
    vec: str = "eq",
    norm: str = "nq",
    on: str | None = None,
) -> DataFrame:
    """``rows`` joined to each row's ``n`` best IVF cells — the one
    centroid probe. Cells rank by the round_agg'd cosine descending,
    ties to the smaller cell, per ``key``; the result is (``key``,
    ``cell``, the other ``rows`` columns, the centroid vector ``ec``).
    The centroid side broadcasts; ``on`` narrows the candidate cells to
    those a row already names (two-level routing), otherwise every
    cell is ranked. The DuckDB twin is ``_assign_duck(..., rn)`` with
    ``rn <= n``."""
    cands = rows.join(F.broadcast(_cells(centroids)), on)
    rest = [c for c in cands.columns if c not in (key, "cell", "nc")]
    scored = cands.select(
        key, "cell", *rest, round_agg(_cell_cos(vec, norm)).alias("qcos")
    )
    return topk_cut(scored, key, "qcos", "cell", n, desc=True).drop(
        "qcos", "rank"
    )


def _pinned_width(a: DataFrame, b: DataFrame, keys, floor: int = 0):
    """Both sides of a pair-scoring join repartitioned on the join
    ``keys`` to max(defaultParallelism, ``floor``) partitions. AQE
    coalesces post-shuffle partitions by BYTES, and the replicated sides
    of an O(n^2) interpreted-fold stage (the one compute-bound stage of
    the embed family, 8->32-core scaling ratio 2.1) are only a few MB at
    calibration scale, so AQE packed that stage onto 2-3 tasks while
    the other cores idled. A numbered repartition is the per-stage fix
    (a global AQE floor regressed the iterative tail): the join reuses
    the exchange (same key, same width, no extra shuffle), and AQE never
    coalesces a user-numbered repartition. The width follows the
    cluster's core count, not a local[32] constant."""
    n = max(a.sparkSession.sparkContext.defaultParallelism, floor)
    return a.repartition(n, *keys), b.repartition(n, *keys)


def cosine_pairs(emb: DataFrame, threshold: float, n_blocks: int = 16) -> DataFrame:
    """(vec_a, vec_b, cos): ALL unordered pairs with cosine >= threshold
    — exact, no recall loss.

    Plan shape: instead of the theta join ``vec_a < vec_b`` (a
    BroadcastNestedLoopJoin whose n^2 compares funnel through however
    many tasks hold the streamed side), each vector is hashed to one of
    ``n_blocks`` triangle blocks and both sides equi-join on the
    (bi, bj) block-pair key via a broadcast pair table. Same O(n^2)
    compare work, but shuffled into B(B+1)/2 independent hash-join
    partitions that scale out with the cluster. Each side is replicated
    ~B/2 x in the shuffle — the standard triangle-partitioning trade.
    For sub-quadratic candidate generation see cosine_pairs_ivf."""
    spark = emb.sparkSession
    # NOTE r14: stays createDataFrame deliberately — swapping this
    # table for the pure-JVM literal_frame changed the optimizer's
    # cardinality/size estimate of the triangle join's inputs and
    # degraded the heavy pair stage ~2x (measured); the Python-task
    # materialization cost is overlapped wall time here.
    block_pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi INT, bj INT",
    )
    e = with_norm(emb).withColumn(
        "blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int")
    )
    # Left rows land in every pair-key whose bi is their block; right
    # rows in every pair-key whose bj is — so block pair (p, q), p <= q,
    # holds exactly (block p) x (block q) and the join key is the
    # composite (bi, bj): B(B+1)/2 distinct shuffle keys.
    a = (
        e.select(
            F.col("vec_id").alias("ida"),
            F.col("embedding").alias("ea"),
            F.col("norm").alias("na"),
            "blk",
        )
        .join(F.broadcast(block_pairs), F.col("blk") == F.col("bi"))
        .drop("blk")
    )
    b = (
        e.select(
            F.col("vec_id").alias("idb"),
            F.col("embedding").alias("eb"),
            F.col("norm").alias("nb"),
            "blk",
        )
        .join(F.broadcast(block_pairs), F.col("blk") == F.col("bj"))
        .drop("blk")
    )
    cos = F.expr(DOT_SQL.format(a="ea", b="eb")) / (F.col("na") * F.col("nb"))
    # the triangle stage is never narrower than its block count
    a, b = _pinned_width(a, b, ["bi", "bj"], floor=n_blocks)
    # Cross-block pairs (bi < bj) appear exactly once with arbitrary id
    # order (fixed by least/greatest); same-block pairs appear twice and
    # are halved by the ida < idb filter.
    return (
        a.join(b, ["bi", "bj"])
        .filter((F.col("bi") < F.col("bj")) | (F.col("ida") < F.col("idb")))
        .select(
            F.least("ida", "idb").alias("vec_a"),
            F.greatest("ida", "idb").alias("vec_b"),
            round_agg(cos).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def topk_neighbors(emb: DataFrame, queries: DataFrame, k: int = 3) -> DataFrame:
    """(query_id, neighbor_id, rank, cos): brute-force top-k cosine.
    The query side is broadcast — the corpus never shuffles."""
    cos = F.expr(DOT_SQL.format(a="eq", b="embedding")) / (F.col("nq") * F.col("norm"))
    q = _query_side(queries)
    scored = (
        with_norm(emb)
        .join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            round_agg(cos).alias("cos"),
        )
    )
    return topk_cut(scored, "query_id", "cos", "neighbor_id", k, desc=True).select(
        "query_id", "neighbor_id", "rank", "cos"
    )


def topk_neighbors_l2(emb: DataFrame, queries: DataFrame, k: int = 3) -> DataFrame:
    """(query_id, neighbor_id, rank, sqdist_q): brute-force top-k by
    SQUARED L2 — the metric twin of topk_neighbors, for auditing the
    PQ/ADC path on the ranking it actually optimizes (r6 advice: with
    unnormalized fixture vectors, cosine ground truth conflates metric
    mismatch with quantization loss). Distances are the same integer
    ten-thousandths SQDIST_Q_SQL the ADC pipeline uses, so the rank
    order is deterministic in both engines. Query side broadcasts;
    the corpus never shuffles."""
    # query self-dots once per query (broadcast side), corpus
    # self-dots once per corpus row — not per (query, corpus) pair
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("eq"),
        F.expr(NORM2_SQL.format(a="embedding")).alias("nq2"),
    )
    dist = SQDIST_Q_PRE_SQL.format(
        a="eq", b="embedding", na2="nq2", nb2="nb2"
    )
    scored = (
        emb.withColumn("nb2", F.expr(NORM2_SQL.format(a="embedding")))
        .join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(dist).alias("sqdist_q"),
        )
    )
    return topk_cut(scored, "query_id", "sqdist_q", "neighbor_id", k).select(
        "query_id", "neighbor_id", "rank", "sqdist_q"
    )


def ivf_assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cell): assign each vector to its max-cosine centroid —
    the IVF coarse quantizer. At scale, search then touches only the
    probe-cell's vectors instead of the whole corpus."""
    scored = with_norm(emb).join(F.broadcast(_cells(centroids))).select(
        "vec_id", "cell", round_agg(_cell_cos("embedding", "norm")).alias("cos")
    )
    # argmax as max_by over a single BIGINT key — identical semantics
    # to ivf_probe at n=1 (max cos, ties to the smallest cell; a test
    # pins the two against each other and the oracle) but a plain
    # aggregate: map-side partials, no per-vec sort,
    # and the shuffle carries one (vec_id, best) pair per map task
    # instead of every scored row. The key packs the fixed-point cosine
    # with the cell tiebreak: cos is already round_agg'd so
    # floor(cos*10^4 + 0.5) recovers its integer numerator exactly, and
    # shifting it left 32 bits leaves room for any realistic centroid
    # count (cell < 2^32). A struct ordering key would be semantically
    # identical but its aggregation buffer is not UnsafeRow-mutable, so
    # Spark falls back to SortAggregate — the BIGINT key keeps the
    # whole argmax inside HashAggregate (measured on sf0.1: the struct
    # variant regressed q_dedup_embed_ivf ~3x).
    key = F.expr("CAST(floor(cos * 10000 + 0.5) AS BIGINT) * 4294967296 - cell")
    return scored.groupBy("vec_id").agg(F.max_by("cell", key).alias("cell"))


def ivf_assign_multi(
    emb: DataFrame, centroids: DataFrame, nprobe: int
) -> DataFrame:
    """(vec_id, cell): each vector assigned to its ``nprobe`` best
    cells — the multi-probe quantizer for pair generation. A pair
    straddling one cell boundary still shares a cell as long as the
    boundary cell is within either vector's top-nprobe, recovering the
    recall the single-assignment quantizer loses at the documented
    ~nprobe^2 increase in within-cell compare work. Ranking is on the
    portably rounded cosine (round-before-rank) with the cell id as
    tiebreak, so the assignment replays exactly in the DuckDB oracle.
    nprobe=1 callers should use ivf_assign (plain HashAggregate argmax
    — no window).

    SCALE CEILING, stated: the top-nprobe window shuffles all n x k
    scored (vec, cell) rows on vec_id — unlike ivf_assign's argmax,
    which map-side-combines to one row per vector before the shuffle.
    Fine for k in the hundreds-to-low-thousands; for corpus-scale k,
    route hierarchically first (argmax-assign to a coarse super-cell
    level, then multi-assign only among that super-cell's children —
    the standard two-level IVF), composing this function with a
    pruned centroid set."""
    return ivf_probe(
        with_norm(emb), centroids, nprobe, "vec_id", "embedding", "norm"
    ).select("vec_id", "cell")


# Per-cell membership cap of the cell-blocked pair joins (cosine_pairs_ivf,
# nsw_graph): a cell larger than this is sub-split before the within-cell
# self-join. The rule is _sub_split's: number each cell's members by
# vec_id and bucket the numbers at the cap, so sub-cell ``sub`` holds
# members sub*cap+1 .. (sub+1)*cap, and pairs join on (cell, sub).
# Without it the join is O(cell^2) on whatever the quantizer produces — a
# degenerate centroid set or a dense embedding region at 100 TB puts one
# huge cell's square into a single join key (straggler/OOM), the exact
# failure mode MAX_LSH_BUCKET guards against on the LSH path. Unlike that
# cap we sub-split rather than drop: dense regions are where the
# duplicates ARE, so oversized cells keep their intra-sub-cell pairs and
# only lose the sub-cell-straddling ones (documented recall trade,
# deterministic, mirrored in the DuckDB oracle).
MAX_IVF_CELL = 4096


def _sub_split(assigned: DataFrame, max_cell: int) -> DataFrame:
    """``assigned`` (vec_id, cell) with the ``sub`` cell of the
    MAX_IVF_CELL rule: a per-cell sort of 2-long rows (no embeddings
    attached), which bounds the pair join's per-key fan-out at
    max_cell^2 regardless of quantizer quality."""
    w = Window.partitionBy("cell").orderBy("vec_id")
    return assigned.withColumn(
        "sub",
        ((F.row_number().over(w) - F.lit(1)) / F.lit(max_cell)).cast("bigint"),
    )


def cosine_pairs_ivf(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float,
    max_cell: int = MAX_IVF_CELL,
    nprobe: int = 1,
    assignment: DataFrame | None = None,
) -> DataFrame:
    """(vec_a, vec_b, cos): near-dup pairs generated WITHIN IVF cells
    only — the sub-quadratic scale path for embedding dedup. Pair work
    drops from O(n^2) to O(sum min(cell_i, max_cell)^2 * ceil(cell_i /
    max_cell)); recall is bounded by the quantizer (pairs split across
    cells are missed — the ANN trade) and, for cells above
    ``max_cell``, by the deterministic sub-split (pairs straddling
    sub-cells are missed).

    ``nprobe > 1`` assigns each vector to its nprobe best cells
    (ivf_assign_multi): a pair split across one cell boundary is
    recovered whenever the two top-nprobe sets intersect, at ~nprobe^2
    the compare work; pairs found via two shared cells dedup through
    the final distinct (identical rounded cos both times, so distinct
    is exact).

    Cells over ``max_cell`` are sub-split (the MAX_IVF_CELL rule)."""
    # persist the assignment: it is 3 longs per vector (exactly what a
    # production pipeline checkpoints), and BOTH branches of the
    # self-join consume it — uncached, the whole quantizer subtree
    # (centroid broadcast + score + argmax agg) executes twice.
    # ``assignment`` lets a caller that ALSO needs the raw (vec_id,
    # cell) frame (e.g. semantic dedup's centroid distances) compute
    # the quantization once and share it — it must be exactly
    # ivf_assign(emb, centroids) / ivf_assign_multi(...) output.
    if assignment is not None and nprobe != 1:
        # the dedup DISTINCT and the assignment arity are coupled to
        # nprobe; a multi-probe assignment with nprobe=1 (or vice
        # versa) would silently emit duplicate or over-deduped pairs —
        # multi-probe callers let this function compute the assignment
        raise ValueError(
            "cosine_pairs_ivf: precomputed `assignment` is only "
            "supported with nprobe=1 (pass the ivf_assign output)"
        )
    base = (
        assignment
        if assignment is not None
        else (
            ivf_assign(emb, centroids)
            if nprobe <= 1
            else ivf_assign_multi(emb, centroids, nprobe)
        )
    )
    assigned = _sub_split(base, max_cell).transform(materialize)
    e = with_norm(emb).join(assigned, "vec_id")
    a = e.select(
        "cell",
        "sub",
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
    )
    b = e.select(
        "cell",
        "sub",
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
    )
    cos = F.expr(DOT_SQL.format(a="ea", b="eb")) / (F.col("na") * F.col("nb"))
    a, b = _pinned_width(a, b, ["cell", "sub"])
    out = (
        a.join(b, ["cell", "sub"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", round_agg(cos).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )
    # multi-probe can surface the same pair via two shared cells; the
    # rounded cos is identical both times, so distinct is an exact
    # dedup. Skipped on the nprobe=1 path (no duplicates possible —
    # saves the extra shuffle).
    return out.distinct() if nprobe > 1 else out


def topk_neighbors_ivf(
    emb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """(query_id, neighbor_id, rank, cos): IVF-probed top-k cosine —
    the ANN search that the ivf_assign quantizer exists for. Each query
    ranks the centroids, probes only its ``nprobe`` best cells, and
    scores just those cells' members; recall vs brute-force
    topk_neighbors is bounded by the quantizer (a true neighbor
    assigned to an unprobed cell is missed — the documented ANN trade,
    tunable via nprobe).

    Scale: per-query compare work drops from O(corpus) to
    O(sum of probed cell sizes). The corpus never shuffles — the
    (query, probed-cell) table is queries x nprobe rows and BROADCASTS
    onto the assigned corpus scan; the only wide op is the per-query
    top-k window, whose input is already cell-pruned. Probe ranking is
    on the round_agg'd cosine (round-before-rank) so the probed cell
    set replays identically in the DuckDB oracle."""
    probes = ivf_probe(_query_side(queries), centroids, nprobe).select(
        "query_id", "cell", "eq", "nq"
    )
    return _probed_topk(emb, centroids, probes, k)


def _probed_topk(
    emb: DataFrame, centroids: DataFrame, probes: DataFrame, k: int
) -> DataFrame:
    """The scan + cut after an IVF probe: the probe table broadcasts
    onto the cell-assigned corpus, and each query keeps its top-k
    probed members by rounded cosine."""
    e = with_norm(emb).join(ivf_assign(emb, centroids), "vec_id")
    cos = F.expr(DOT_SQL.format(a="embedding", b="eq")) / (F.col("norm") * F.col("nq"))
    scored = (
        e.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            round_agg(cos).alias("cos"),
        )
    )
    return topk_cut(scored, "query_id", "cos", "neighbor_id", k, desc=True).select(
        "query_id", "neighbor_id", "rank", "cos"
    )


def radius_neighbors_ivf(
    emb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    radius_q: int,
    nprobe: int = 2,
) -> DataFrame:
    """(query_id, neighbor_id, dist_q): RADIUS (threshold) search over
    the IVF index — every probed-cell member within quantized squared
    L2 ``radius_q`` of the query, the vector-store query form top-k
    cannot express ("all matches within distance r": dedup sweeps,
    GDPR similarity holds, duplicate-claim verification). Each query
    ranks the centroids on the portably rounded cosine, probes its
    ``nprobe`` best cells, scores just those members in exact BIGINT
    ten-thousandths squared L2, and keeps survivors under the
    threshold. Recall vs the exact radius truth is bounded by the
    quantizer exactly as in topk_neighbors_ivf (audited in
    q_sim_radius_recall).

    Scale: the cheapest search in the family — the probe table is
    queries x nprobe rows BROADCAST onto the cell-pruned corpus scan,
    the threshold is a pushed filter, and unlike top-k there is NO
    per-query window at all: no shuffle touches the candidate rows.
    Result size is data-dependent (the radius contract), so callers
    own the downstream cap."""
    assigned = ivf_assign(emb, centroids)
    probes = ivf_probe(_query_side(queries), centroids, nprobe).select(
        "query_id", "cell", "eq"
    )
    return (
        emb.join(assigned, "vec_id")
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(SQDIST_Q_SQL.format(a="eq", b="embedding")).alias(
                "dist_q"
            ),
        )
        .filter(F.col("dist_q") <= radius_q)
    )


def topk_neighbors_ivf2(
    emb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    supers: DataFrame,
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """(query_id, neighbor_id, rank, cos): TWO-LEVEL IVF probed top-k —
    the hierarchical routing the ivf_assign_multi docstring's scale
    ceiling points at. Flat IVF ranks ALL centroids per query; at
    corpus-scale cell counts (10^5-10^6 centroids for 10^9+ vectors,
    the FAISS sqrt(n) rule) that per-query centroid scan is itself a
    corpus-sized broadcast. The two-level form ranks |supers| coarse
    super-centroids, descends into the winning super-cell, and ranks
    only ITS children — per-query centroid work drops from
    O(|centroids|) to O(|supers| + |children per super|), the standard
    sqrt split. Recall is bounded by the routing (a true neighbor
    under a losing super's child is missed — the documented trade on
    top of flat IVF's, audited in q_ann_recall's ivf2 row).

    Composition: the child->super routing table IS ivf_assign run on
    the centroids themselves; query routing is ivf_assign on the query
    set; everything downstream is topk_neighbors_ivf's probe/scan
    shape. All ranking on portably rounded cosines (round-before-rank)
    so the full two-level descent replays in the DuckDB oracle."""
    c2s = ivf_assign(centroids, supers).select(
        F.col("vec_id").alias("cell"), F.col("cell").alias("sup")
    )
    qsup = ivf_assign(
        queries.select("vec_id", "embedding"), supers
    ).select(F.col("vec_id").alias("query_id"), F.col("cell").alias("sup"))
    probes = ivf_probe(
        _query_side(queries)
        .join(F.broadcast(qsup), "query_id")
        .join(F.broadcast(c2s), "sup"),  # only the winning super's children
        centroids,
        nprobe,
        on="cell",
    ).select("query_id", "cell", "eq", "nq")
    return _probed_topk(emb, centroids, probes, k)


def knn_classify(emb: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """(query_id, predicted_label, actual_label, n_votes): k-NN
    majority-vote label prediction — the embedding-classifier pattern
    LLM pipelines use for quality filtering (label a small seed set,
    predict over the corpus, keep the docs classified as high-quality).
    Ties break to the smallest label.

    Scale: neighbors come from topk_neighbors (query side broadcasts,
    corpus never shuffles); the vote table is queries x k rows, and the
    per-query argmax is the same packed-BIGINT max_by trick as
    ivf_assign — vote count in the high bits, label tiebreak in the
    low — so the whole vote stays inside HashAggregate."""
    nn = topk_neighbors(emb, queries, k=k)
    lbl = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nbr_label")
    )
    votes = (
        nn.join(lbl, "neighbor_id")
        .groupBy("query_id", "nbr_label")
        .agg(F.count("*").alias("n_votes"))
    )
    key = F.expr("n_votes * 4294967296 - nbr_label")
    pred = votes.groupBy("query_id").agg(
        F.max_by("nbr_label", key).alias("predicted_label"),
        F.max(key).alias("max_key"),
    )
    truth = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("actual_label")
    )
    return pred.join(truth, "query_id").select(
        "query_id",
        F.col("predicted_label").cast("long").alias("predicted_label"),
        F.col("actual_label").cast("long").alias("actual_label"),
        # decode the winning vote count back out of the packed key
        ((F.col("max_key") + F.col("predicted_label")) / F.lit(4294967296))
        .cast("long")
        .alias("n_votes"),
    )


def label_centroids_long(emb: DataFrame) -> DataFrame:
    """(label, pos, m, n_vectors): per-label mean embedding in LONG
    format — one row per (label, dimension), m = round_agg'd mean of
    that dimension. Elementwise array aggregation expressed
    relationally: posexplode to (label, pos, x) rows, avg per
    (label, pos) with map-side partials. The long shape is the portable
    result surface: every cell is a scalar, so the driver's
    canonicalizer (which cannot hash raw array cells) and the DuckDB
    oracle replay it directly.

    Scale: the exploded frame is rows x dim — linear, and the
    (label, pos) grouping key is tiny (labels x dim cells), so the
    merge side of the agg is trivially small; the n_vectors join
    touches labels rows and broadcasts."""
    e = emb.select("label", F.posexplode("embedding").alias("pos", "x"))
    cent = e.groupBy("label", "pos").agg(
        round_agg(F.avg(F.col("x").cast("double"))).alias("m")
    )
    counts = emb.groupBy("label").agg(F.count("*").alias("n_vectors"))
    return cent.join(counts, "label").select(
        F.col("label").cast("long").alias("label"),
        F.col("pos").cast("long").alias("pos"),
        "m",
        "n_vectors",
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """(label, n_vectors, centroid): per-label mean VECTOR — the array
    API for nearest-class-mean classification or seeded IVF quantizer
    init. Built on label_centroids_long, reassembling each centroid in
    position order via sorted collect (array_sort on (pos, m) structs —
    no window, no UDF). The reassembly touches labels x dim rows, not
    the corpus. NOTE: the centroid column is ArrayType — fine for
    in-engine composition, but result surfaces that must replay through
    the driver/oracle hash gate should use the long format instead."""
    return (
        label_centroids_long(emb)
        .groupBy("label", "n_vectors")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("centroid")
        )
        .select("label", "n_vectors", "centroid")
    )


# ---------------------------------------------------------------------------
# Near-dup cluster formation (connected components)
# ---------------------------------------------------------------------------


def _twophase_star_rounds(
    edges: DataFrame, max_rounds: int, stats: dict
) -> DataFrame:
    """Alternating large-star / small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") until the edge set
    is a star forest: every edge (src, dst) then points a non-root
    node at its component's MINIMUM node. Converges in O(log n) rounds
    regardless of component diameter — the extreme-scale form the
    min-label loop cannot provide on path-shaped graphs.

    ``edges`` must be canonical (src > dst), deduplicated. Each round
    is a fixed number of distributed joins/aggs; the only driver-side
    action is one star-forest violation count per round.

    Each round's output is staged to TRUNCATE LINEAGE — without it the
    logical plan nests the previous round's whole tree and Catalyst
    re-analysis grows exponentially (measured: driver OOM on a
    1,000-link chain from plan-tree strings alone)."""
    e = stage(edges)
    for r in range(1, max_rounds + 1):
        # large-star: every node u connects its LARGER neighbors to
        # m(u) = min(Gamma(u) + {u}); needs the symmetric view
        s = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = (
            s.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least("src", "mn").alias("m"))
        )
        large = (
            s.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star: every node u connects its smaller-or-self
        # neighborhood to its minimum; canonical edges already point
        # small, so the neighborhood is u's dst set
        lmins = large.groupBy("src").agg(F.min("dst").alias("m"))
        j = large.join(lmins, "src")
        small = (
            j.select(F.col("dst").alias("a"), F.col("m").alias("b"))
            .union(j.select(F.col("src").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("src"), F.least("a", "b").alias("dst")
            )
            .distinct()
            .transform(stage)
        )
        # converged iff a star forest: no node has two distinct roots,
        # and no root is itself a leaf (no chains). EXACT check — a
        # single union-count action per round, not a checksum.
        multi = (
            small.groupBy("src")
            .agg(F.countDistinct("dst").alias("k"))
            .filter(F.col("k") > 1)
            .select(F.lit(1).alias("viol"))
        )
        chains = (
            small.select("dst")
            .join(
                small.select(F.col("src").alias("dst")).distinct(), "dst", "left_semi"
            )
            .select(F.lit(1).alias("viol"))
        )
        not_star = multi.union(chains).limit(1).count()
        e = small
        if not_star == 0:
            stats["twophase_rounds"] = r
            return e
    raise RuntimeError(
        f"two-phase connected components did not converge in {max_rounds} rounds"
    )


def connected_components(
    pairs: DataFrame,
    max_iter: int = 25,
    switch_after: int = 4,
    check_every: int = 2,
    _stats: dict | None = None,
) -> DataFrame:
    """(doc_id, cluster_id): connected components over an undirected
    near-dup pair graph; cluster_id = the smallest doc_id in the
    component — the canonical keeper every member dedups onto. This is
    the step that turns pairwise near-dup output into keeper sets.

    Hybrid two-phase execution:

    1. Pregel-style min-label propagation for up to ``switch_after``
       iterations (one equi-join shuffle each). Real near-dup graphs
       are diameter-small (clusters are cliques-ish), so this phase
       alone usually converges. Convergence is checked every
       ``check_every`` iterations — intermediate iterations stay lazy
       (lineage depth <= check_every), halving driver-side actions vs
       the check-per-iteration form.
    2. If phase 1 hasn't converged, the surviving graph is CONTRACTED
       through the current labels (endpoints mapped to their label,
       self-loops dropped — cliques already merged collapse to
       supernodes) and handed to alternating large-star/small-star
       rounds (Kiveris et al.), which finish in O(log n) rounds
       regardless of diameter — the 100 TB guard for crawl-mirror
       chains (A~B~C~...) whose diameter equals their length, where
       min-label alone would need one shuffle per link.

    Labels only ever decrease toward the component minimum, and the
    minimum node's label is itself in both phases, so the hybrid
    yields exactly min-of-component. Non-convergence raises rather
    than returning wrong clusters; the driver-side loop is control
    flow only — every data operation is a distributed join/agg.
    ``_stats`` (optional dict) receives ``phase1_iters`` /
    ``twophase_rounds`` for probes and tests.

    Two executions, one answer. When the staged edge frame fits the
    local-execution gate (operators/local.py: 2*NSW_DEG*LOCAL_MAX
    edge rows, both orientations), the bounded collect that tests the
    gate is also the payload: the ids are ranked (Arrow's sort, byte
    order for strings — Spark's StringType order), min-labels with
    pointer jumping run in numpy (_cc_local), and the labels come back
    as a local frame; no job per round. Edges over the gate, or an id
    type that is neither integer nor string, take the hybrid above.
    A null endpoint is no node: its pair labels only the other id."""
    stats = _stats if _stats is not None else {}
    # Both edge orientations come out of ONE projection of `pairs`, so
    # the stage job runs the pair DAG exactly once and callers never
    # persist what they pass in. A persist alone re-analyzes the pair
    # DAG in every iteration (staging: 11.5 s -> 2.3 s on a 96-edge
    # sf0.1 graph). A null id is no node: its rows drop here, and a
    # null dst (the other orientation's dropped src) links nothing.
    a, b = F.col("doc_a"), F.col("doc_b")
    edges = stage(
        pairs.select(
            F.inline(
                F.array(
                    F.struct(a.alias("src"), b.alias("dst")),
                    F.struct(b.alias("src"), a.alias("dst")),
                )
            )
        ).filter(F.col("src").isNotNull())
    )
    fast = _cc_local(edges)
    if fast is not None:
        return fast
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
        .persist()
    )
    cached = labels  # the persisted frame backing the current labels
    for it in range(1, min(switch_after, max_iter) + 1):
        nbr_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_label"))
        )
        # carry the old label through the propagation join so the
        # convergence check is a filter on the already-persisted frame,
        # not a second labels-vs-labels join+shuffle per iteration
        step = labels.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            F.col("cluster_id").alias("old_label"),
            F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("nbr_label"), F.col("cluster_id")),
            ).alias("cluster_id"),
        )
        labels = step.select("doc_id", "cluster_id")
        if it % check_every == 0 or it == min(switch_after, max_iter):
            step = step.persist()
            changed = (
                step.filter(F.col("cluster_id") != F.col("old_label"))
                .limit(1)
                .count()
            )
            cached.unpersist()
            cached = step
            labels = step.select("doc_id", "cluster_id")
            if changed == 0:
                stats["phase1_iters"] = it
                return labels
    stats["phase1_iters"] = min(switch_after, max_iter)
    # phase 2: two-phase star rounds on the label-contracted graph.
    # Contract from the staged edges frame (one orientation of it),
    # not `pairs`, whose DAG would run a second time.
    ls = labels.select(
        F.col("doc_id").alias("src"), F.col("cluster_id").alias("lbl_a")
    )
    ld = labels.select(
        F.col("doc_id").alias("dst"), F.col("cluster_id").alias("lbl_b")
    )
    contracted = (
        edges.filter(F.col("src") > F.col("dst"))
        .join(ls, "src")
        .join(ld, "dst")
        .filter(F.col("lbl_a") != F.col("lbl_b"))
        .select(
            F.greatest("lbl_a", "lbl_b").alias("src"),
            F.least("lbl_a", "lbl_b").alias("dst"),
        )
        .distinct()
    )
    stars = _twophase_star_rounds(contracted, max_rounds=max_iter, stats=stats)
    roots = stars.select(
        F.col("src").alias("cluster_id"), F.col("dst").alias("root")
    )
    return labels.join(roots, "cluster_id", "left").select(
        "doc_id",
        F.coalesce(F.col("root"), F.col("cluster_id")).alias("cluster_id"),
    )


def _cc_local(edges: DataFrame) -> DataFrame | None:
    """connected_components' under-gate execution over the staged
    (src, dst) frame, or None when the gate or the id type sends it to
    the hybrid. Each id's label starts as its own rank; a round hooks
    every label onto its smallest neighbouring label (np.minimum.at),
    then jumps pointers until every label is a root. Labels only fall
    and stay inside their component, and at the fixed point both ends
    of every edge share one, which is the component's smallest rank."""
    kind = edges.schema["src"].dataType
    if not isinstance(kind, IntegralType) and kind != StringType():
        return None
    rows = local.collect(edges, 2 * NSW_DEG)
    if rows is None:
        return None
    ids = pc.unique(rows.column("src"))
    ids = ids.take(pc.sort_indices(ids))
    rows = rows.filter(pc.is_valid(rows.column("dst")))
    a = pc.index_in(rows.column("src"), value_set=ids).to_numpy()
    b = pc.index_in(rows.column("dst"), value_set=ids).to_numpy()
    lab = np.arange(len(ids))
    while True:
        nxt = lab.copy()
        np.minimum.at(nxt, lab[a], lab[b])
        while (nxt[nxt] != nxt).any():
            nxt = nxt[nxt]
        if (nxt == lab).all():
            break
        lab = nxt
    schema = StructType(
        [StructField("doc_id", kind), StructField("cluster_id", kind)]
    )
    return local.frame(
        edges.sparkSession,
        pa.table({"doc_id": ids, "cluster_id": ids.take(lab)}),
        schema,
    )


def neardup_probe(
    is_new,
    sets: DataFrame,
    sigs: DataFrame,
    threshold: float = 0.8,
    max_bucket: int = MAX_LSH_BUCKET,
) -> DataFrame:
    """The one text batch-vs-corpus near-dup probe, shared by
    incremental_dedup (q_dedup_incremental) and the streaming
    NearDupIngest (the shape incremental_dedup eagerly checkpoints;
    factored out so the plan stays inspectable — tests assert the
    collected capped bucket index and equi-probe here): corpus
    (band, sig) buckets as collect_list arrays capped at
    ``max_bucket``, batch signatures equi-join the index, candidates
    verify by exact shingle-Jaccard. Returns the distinct batch
    doc_ids with a near-dup in the corpus. It is not
    capped_bucket_pairs: the index is one-sided (only corpus rows
    form buckets, and a bucket holding one corpus doc still pairs
    with the batch), where capped_bucket_pairs pairs within buckets.
    The image twin is operators/multimodal.band_probe."""
    old_buckets = (
        sigs.filter(~is_new)
        .groupBy("band", "sig")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") <= max_bucket)
    )
    cand = (
        sigs.filter(is_new)
        .join(old_buckets, ["band", "sig"])
        .select(F.col("doc_id").alias("doc_a"), F.explode("ids").alias("doc_b"))
        .distinct()
    )
    return (
        scored_pairs(cand, sets, JACC_SQL, "jacc", threshold)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )


def dedup_decisions(
    ids: DataFrame, drop_exact: DataFrame, near: DataFrame
) -> DataFrame:
    """(doc_id, action): classify each id as drop_exact / drop_near /
    keep given the two drop id-sets — the shared decision tail of the
    batch (incremental_dedup) and streaming (NearDupIngest) ingestion
    regimes; the precedence order lives in exactly one place."""
    return (
        ids.join(drop_exact.withColumn("ex", F.lit(1)), "doc_id", "left")
        .join(near.select("doc_id").withColumn("nr", F.lit(1)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("ex").isNotNull(), F.lit("drop_exact"))
            .when(F.col("nr").isNotNull(), F.lit("drop_near"))
            .otherwise(F.lit("keep"))
            .alias("action"),
        )
    )


def incremental_dedup(
    docs: DataFrame,
    new_sql: str,
    n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = MAX_LSH_BUCKET,
) -> DataFrame:
    """(doc_id, action) for every NEW-batch document: ``drop_exact`` if
    its text digest matches any CORPUS (non-batch) document,
    ``drop_near`` if exact shingle-Jaccard vs some corpus document
    reaches ``threshold`` (via the band-bucket probe), else ``keep`` —
    the continuous-ingestion dedup pattern, where each crawl batch
    probes the standing corpus instead of self-joining the world.
    ``new_sql`` is a SQL predicate over ``doc_id`` selecting the batch.
    (Batch-internal duplicates are the batch's own self-dedup pass —
    q_dedup_exact / q_dedup_minhash — not this operator's concern.)

    Scale: the asymmetric shape is the point. The corpus side is
    reduced to its (band, sig) bucket index — collected id arrays,
    capped at ``max_bucket`` exactly like capped_bucket_pairs (a hot
    bucket is boilerplate, not signal) — which is the artifact a
    production pipeline persists between runs; the probe is an
    equi-join of BATCH signatures against that index, so per-ingest
    cost is O(batch x bands), never O(corpus^2), and the corpus never
    reshuffles for the probe. Digest match is a broadcast-able
    left-semi on the 32-byte md5. Verification attaches shingle sets
    only to (batch, corpus-candidate) pairs.

    Deployment note (ADVICE r7): this operator EAGERLY executes a
    Spark job (the cache-hygiene checkpoint below), and on a
    non-local master it requires ``sc.setCheckpointDir`` pointed at a
    SHARED filesystem (HDFS/S3) at session build — without it the
    call raises RuntimeError rather than guessing a driver-local
    path. See caching.eager_checkpoint."""
    is_new = F.expr(new_sql)
    dig = docs.select("doc_id", F.md5("text").alias("dg"), is_new.alias("is_new"))
    drop_exact = (
        dig.filter("is_new")
        .join(dig.filter(~F.col("is_new")).select("dg"), "dg", "left_semi")
        .select("doc_id")
    )
    # cache hygiene (r7): sets/sigs feed only the INTERMEDIATE probe
    # chain, so the small `near` id-set is reliably checkpointed NOW
    # and both corpus-sized caches are unpersisted before returning —
    # zero persisted residue per call, however long the session lives
    # (the r6 formulation left both cached until LRU eviction). The
    # persists still pay for themselves inside the eager phase: sets
    # feeds signature build + pair verify, sigs feeds index + probe.
    # Measured trade: ~+0.5 s fixed per call at sf0.1 (checkpoint I/O
    # + one extra digest-pass source scan) — constant, not a curve
    # change (SCALING.md r7: exponent 1.03), and negligible against
    # corpus scans at real scale.
    sets = doc_shingles(docs, n).transform(materialize)
    sigs = lsh_band_signatures(sets).transform(materialize)
    near = eager_checkpoint(
        neardup_probe(is_new, sets, sigs, threshold, max_bucket)
    )
    sigs.unpersist()
    sets.unpersist()
    return dedup_decisions(docs.filter(is_new).select("doc_id"), drop_exact, near)


# ---------------------------------------------------------------------------
# Exact-substring dedup (span removal)
# ---------------------------------------------------------------------------


def substring_dedup_stats(
    docs: DataFrame, n: int = 10, min_count: int = 2
) -> DataFrame:
    """(doc_id, n_tokens, n_dropped, kept_hash): exact-substring dedup —
    the span-removal step of Lee et al., "Deduplicating Training Data
    Makes Language Models Better" (the ExactSubstr pass), approximated
    at n-token granularity: every n-token span whose n-gram occurs
    >= ``min_count`` times in the CORPUS — including repeats WITHIN a
    single document, per the paper's any->=2-occurrences rule — is
    removed from every occurrence site (doc-level dedup keeps one
    copy; boilerplate removal keeps zero). Output is the per-doc
    kept/dropped token accounting plus an md5-prefix fingerprint of
    the kept text, all scalar cells.

    Plan: corpus scan -> (doc_id, toks) token arrays
    -> positional n-grams (posexplode fused into the projection —
    see doc_shingles for the re-evaluation blowup this avoids) ->
    8-byte hash56 gram keys -> occurrence-count frequency agg -> equi-join
    back + per-doc collect of duplicated starts (small: only dup-gram
    positions) -> the removal itself is a single VECTORIZED projection,
    `filter(toks, (t, i) -> no dup span covers i)` — no token-level
    join, no token-level shuffle, no per-doc sorted collect of the
    whole corpus (the first formulation did all three and cost ~3x).

    Scale: the gram shuffle carries (hash56, doc_id, start) — ~20
    bytes per token, never gram text. The starts table is one row per
    DUPLICATED gram occurrence (a small fraction of tokens), collected
    to one array per affected doc; its join onto the corpus is an
    equi-join AQE broadcasts when small. Skew: a boilerplate n-gram
    shared by millions of docs makes one hot gram key in the
    join-back; output is still one row per occurrence (linear), and
    AQE skew-join splits the straggler. The coverage test is
    O(tokens x dup-starts-in-doc) inside codegen — bounded by doc
    length squared only for pathological all-duplicate docs.

    Deployment note (ADVICE r7): eagerly executes a Spark job (the
    cache-hygiene checkpoint) and on a non-local master requires
    ``sc.setCheckpointDir`` on a SHARED filesystem at session build —
    raises RuntimeError otherwise. See caching.eager_checkpoint."""
    # cache hygiene (r7): hg feeds only the INTERMEDIATE dup/starts
    # chain — the small per-affected-doc starts table is reliably
    # checkpointed below and hg unpersisted before returning, so the
    # operator leaves zero persisted residue. base is NOT cached: the
    # final join recomputes the split from source (one extra narrow
    # scan) instead of pinning a corpus-sized token-array frame.
    base = _fan_out(docs).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(toks) >= {n} THEN "
                f"transform(sequence(0, size(toks) - {n}), "
                f"i -> concat_ws(' ', slice(toks, i + 1, {n}))) "
                f"ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("start", "gram"),
    )
    # persisted: feeds BOTH the frequency agg and the join-back, so the
    # gram text is built+hashed once per token (~20 B/token of cache)
    hg = grams.select(
        "doc_id", "start", hash56(F.col("gram")).alias("h")
    ).persist()
    dup = (
        hg.groupBy("h")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= min_count)
        .select("h")
    )
    starts = eager_checkpoint(
        hg.join(dup, "h")
        .groupBy("doc_id")
        .agg(F.collect_list("start").alias("starts"))
    )
    hg.unpersist()
    # materialize the span-coverage filter ONCE: Spark's subexpression
    # elimination cannot dedupe lambda expressions, so deriving both
    # n_dropped and kept_hash from F.expr(kept) directly would run the
    # O(tokens x dup-starts) scan twice per document
    kept = (
        f"filter(toks, (t, i) -> NOT exists("
        f"coalesce(starts, CAST(array() AS ARRAY<INT>)), "
        f"s -> i >= s AND i < s + {n}))"
    )
    return (
        base.join(starts, "doc_id", "left")
        .select("doc_id", "toks", F.expr(kept).alias("kept"))
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            (F.size("toks") - F.size("kept")).cast("long").alias("n_dropped"),
            F.substring(F.md5(F.concat_ws(" ", "kept")), 1, 8).alias("kept_hash"),
        )
    )


# ---------------------------------------------------------------------------
# Paragraph-level exact dedup (line dedup)
# ---------------------------------------------------------------------------

# Keeper-key packing headroom: pno must stay below 2^20 (10M tokens
# per document at the default 10-token paragraphs) so (doc_id, pno)
# packs into one BIGINT and the keeper argmin stays a plain
# HashAggregate (the ivf_assign packed-key rationale). The guard
# raises loudly instead of silently mis-ranking a pathological doc.
PARA_PNO_LIMIT = 1 << 20


def paragraph_dedup_stats(docs: DataFrame, p: int = 10) -> DataFrame:
    """(doc_id, n_paras, paras_dropped, n_tokens, tokens_dropped,
    kept_hash): paragraph-level EXACT dedup — the CCNet/RefinedWeb
    line-dedup pass (Wenzek et al., CCNet; Penedo et al., RefinedWeb),
    the granularity real pipelines run most often after doc-level
    exact dedup: segment every document into paragraphs, hash each
    paragraph, and remove every occurrence of any paragraph seen >= 2
    times corpus-wide EXCEPT the canonical first copy (keep-first by
    (doc_id, position)). Doc-level dedup cannot see a boilerplate
    header shared by a million distinct pages; span-level ExactSubstr
    (substring_dedup_stats) can, but at ~10x the gram-index cost —
    paragraph hashing is the cheap standard middle.

    Segmentation: production corpora split on the paragraph delimiter
    ('\\n\\n' or '\\n'); the fixture text is single-line space-
    tokenized, so paragraphs here are fixed ``p``-token blocks — the
    same segment-hash-count-remove machinery with a deterministic
    segmenter both engines replay (slice of the token array; a real
    corpus swaps in split(text, '\\n\\n') and nothing else changes).

    Plan: corpus scan -> per-doc paragraph explode (linear, no
    shuffle) -> md5 paragraph digest -> ONE hash aggregate keyed by
    digest (count + packed-keeper argmin, map-side combined — the
    shuffle carries 32-byte digests + two longs, never paragraph
    text) -> equi-join back (AQE-broadcast when the dup set is
    small) -> per-doc accounting agg. Skew: a boilerplate paragraph
    shared by millions of docs is ONE hot digest key in the
    join-back; output stays one row per occurrence and AQE skew-join
    splits the straggler — same profile as substring_dedup_stats'
    gram join."""
    base = docs.select("doc_id", F.split("text", " ").alias("toks"))
    paras = (
        base.select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size("toks") - 1) / F.lit(p)).cast("int"),
                )
            ).alias("pno"),
        )
        .select(
            "doc_id",
            "pno",
            F.expr(f"slice(toks, pno * {p} + 1, {p})").alias("ptoks"),
        )
        .select(
            "doc_id",
            "pno",
            F.size("ptoks").alias("n_ptoks"),
            F.concat_ws(" ", "ptoks").alias("ptext"),
        )
    )
    packed = (
        f"CASE WHEN pno < {PARA_PNO_LIMIT} THEN "
        f"doc_id * {PARA_PNO_LIMIT} + pno "
        f"ELSE CAST(raise_error('paragraph_dedup: pno >= 2^20 "
        f"(doc over {PARA_PNO_LIMIT * p} tokens)') AS BIGINT) END"
    )
    occ = paras.select(
        "doc_id",
        "pno",
        "n_ptoks",
        "ptext",
        F.md5("ptext").alias("h"),
        F.expr(packed).alias("k"),
    )
    grp = occ.groupBy("h").agg(F.min("k").alias("keep_k"))
    marked = occ.join(grp, "h").withColumn(
        "dropped", F.col("k") != F.col("keep_k")
    )
    kept_struct = F.when(
        ~F.col("dropped"), F.struct("pno", "ptext")
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_paras"),
        F.sum(F.when(F.col("dropped"), 1).otherwise(0))
        .cast("long")
        .alias("paras_dropped"),
        F.sum("n_ptoks").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("dropped"), F.col("n_ptoks")).otherwise(0))
        .cast("long")
        .alias("tokens_dropped"),
        F.substring(
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["ptext"],
                    ),
                )
            ),
            1,
            8,
        ).alias("kept_hash"),
    )


# Content-defined chunking: a token whose hash56 % CDC_MOD == 0 closes
# the current chunk, so expected chunk length is CDC_MOD tokens and the
# boundary positions depend only on CONTENT, never on offsets.
CDC_MOD = 6
CDC_CID_LIMIT = 1 << 20


def cdc_chunk_stats(docs: DataFrame, mod: int = CDC_MOD) -> DataFrame:
    """(doc_id, n_chunks, chunks_dropped, n_tokens, tokens_dropped,
    kept_hash): CONTENT-DEFINED chunking dedup — the FastCDC/rsync
    boundary trick applied to text: a chunk ends at any token whose
    hash56 is ≡ 0 (mod ``mod``), so boundaries are a pure function of
    local content. Fixed-block segmentation (paragraph_dedup_stats)
    loses every downstream block to misalignment when one token is
    inserted at the front of a shared boilerplate; content-defined
    boundaries re-synchronize within ~mod tokens, which is why backup
    and web-corpus dedup systems chunk this way. Dedup rule is
    identical to the paragraph pass: corpus-wide repeat removal,
    keep-first canonical copy by packed (doc_id, chunk_index), per-doc
    kept/dropped accounting + kept-text fingerprint.

    Plan: corpus scan -> per-doc (pos, token) explode -> boundary flag
    (one md5 per token, codegen) -> chunk index via an EXCLUSIVE
    running sum over the doc_id window (the boundary token belongs to
    the chunk it closes) -> chunk re-assembly agg -> the same ONE
    digest-keyed hash aggregate + join-back as paragraph dedup. Two
    shuffles carry (doc_id)-keyed token rows and 32-byte digests; the
    window is per-document (bounded by doc length), never global.
    Skew profile as paragraph_dedup_stats: a viral chunk is one hot
    digest key, AQE splits the join-back straggler."""
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("i", "tok"),
    )
    flagged = tok.withColumn(
        "f", F.when(hash56(F.col("tok")) % mod == 0, 1).otherwise(0)
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cids = flagged.select(
        "doc_id",
        "i",
        "tok",
        F.coalesce(F.sum("f").over(w), F.lit(0)).cast("long").alias("cid"),
    )
    chunks = cids.groupBy("doc_id", "cid").agg(
        F.count("*").cast("long").alias("n_ctoks"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("ctext"),
    )
    packed = (
        f"CASE WHEN cid < {CDC_CID_LIMIT} THEN "
        f"doc_id * {CDC_CID_LIMIT} + cid "
        f"ELSE CAST(raise_error('cdc_chunks: cid >= 2^20') AS BIGINT) END"
    )
    occ = chunks.select(
        "doc_id",
        "cid",
        "n_ctoks",
        "ctext",
        F.md5("ctext").alias("h"),
        F.expr(packed).alias("k"),
    )
    grp = occ.groupBy("h").agg(F.min("k").alias("keep_k"))
    marked = occ.join(grp, "h").withColumn(
        "dropped", F.col("k") != F.col("keep_k")
    )
    kept_struct = F.when(~F.col("dropped"), F.struct("cid", "ctext"))
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("dropped"), 1).otherwise(0))
        .cast("long")
        .alias("chunks_dropped"),
        F.sum("n_ctoks").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("dropped"), F.col("n_ctoks")).otherwise(0))
        .cast("long")
        .alias("tokens_dropped"),
        F.substring(
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["ctext"],
                    ),
                )
            ),
            1,
            8,
        ).alias("kept_hash"),
    )


# ---------------------------------------------------------------------------
# Product-quantization (PQ) compressed ANN
# ---------------------------------------------------------------------------

# Squared L2 distance via the three-dot-product identity |a|^2 - 2a.b
# + |b|^2 (each dot is DOT_SQL's sequential fold, so the float
# evaluation order is fixed and the DuckDB oracle reproduces it
# bit-for-bit), then quantized to integer ten-thousandths: BIGINT
# partial distances make the cross-subspace SUM exactly associative —
# no float-summation-order hazard anywhere in the ADC pipeline.
SQDIST_Q_SQL = (
    "CAST(floor(("
    + DOT_SQL.format(a="{a}", b="{a}")
    + " - 2 * " + DOT_SQL.format(a="{a}", b="{b}")
    + " + " + DOT_SQL.format(a="{b}", b="{b}")
    + ") * 10000 + 0.5) AS BIGINT)"
)

# The norm-precomputed twin (r14): the two self-dots |a|^2 and |b|^2
# are PER-VECTOR quantities, but SQDIST_Q_SQL re-folds them per PAIR —
# on a pair-scoring stage that is 3 interpreted HOF folds per row
# where one suffices. Callers compute the self-dot once per vector
# (NORM2_SQL, carried through the pair join like with_norm's norm) and
# the pair expression folds only the cross dot. Bit-identical to
# SQDIST_Q_SQL: the self-dot FOLD produces the same double wherever it
# is evaluated, and the final (na2 - 2*ab + nb2) combines the same
# three doubles in the same order (micro-verified: 0 mismatches over
# 2M random pairs; the DuckDB oracle text is untouched).
NORM2_SQL = DOT_SQL.format(a="{a}", b="{a}")
SQDIST_Q_PRE_SQL = (
    "CAST(floor(({na2} - 2 * "
    + DOT_SQL.format(a="{a}", b="{b}")
    + " + {nb2}) * 10000 + 0.5) AS BIGINT)"
)


def _subvectors(emb: DataFrame, m: int, d_sub: int, id_col: str, vec_col: str) -> DataFrame:
    """(id, sub, sv): split each vector into ``m`` contiguous
    ``d_sub``-dim subvectors — a narrow per-row fan-out (no shuffle).

    The slice start embeds a dimension guard: a vector whose length is
    not exactly m * d_sub raises at scan time instead of silently
    producing empty subvectors (which would quantize to garbage codes
    that still LOOK well-formed downstream). Folding the guard into the
    start expression — rather than a separate assert_true projection —
    keeps column pruning from optimizing the check away."""
    d = m * d_sub
    start = (
        f"CASE WHEN size({vec_col}) = {d} THEN sub * {d_sub} + 1 "
        f"ELSE CAST(raise_error('pq: {vec_col} dim <> {d} (m={m} x d_sub={d_sub})') AS INT) END"
    )
    subs = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub")
    return emb.select(F.col(id_col), F.col(vec_col), subs).select(
        id_col,
        "sub",
        F.expr(f"slice({vec_col}, {start}, {d_sub})").alias("sv"),
    )


def pq_codes(
    emb: DataFrame, codebook: DataFrame, m: int = 8, d_sub: int = 8
) -> DataFrame:
    """(vec_id, sub, code): product-quantization codes (Jegou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011).
    Each vector's ``m`` subvectors are independently assigned to the
    nearest codebook centroid (squared L2, deterministic code-id
    tie-break), so a d-float vector compresses to ``m`` small ints —
    the representation that lets 100 TB of raw embeddings fit hot in
    ~1/32 the bytes while distances stay approximable.

    ``codebook`` must be (sub, code, cv) with <= a few hundred rows per
    subspace — it broadcasts; the corpus never shuffles for coding.
    Assignment is a packed-BIGINT argmin: min(dist_q * 256 + code) —
    lexicographic (dist, code) because PQ codes are one byte (< 256)
    by contract — recovered with % 256. A struct-min is semantically
    identical but its aggregation buffer is not UnsafeRow-mutable, so
    Spark falls back to SortAggregate (a per-partition sort of the
    whole corpus-coding stream); the packed key keeps the argmin
    inside HashAggregate with map-side partials — the ivf_assign
    finding applied to coding (r8)."""
    sv = _subvectors(emb, m, d_sub, "vec_id", "embedding")
    dist = SQDIST_Q_SQL.format(a="sv", b="cv")
    scored = sv.join(F.broadcast(codebook), "sub").select(
        "vec_id", "sub", "code", F.expr(dist).alias("dist_q")
    )
    return (
        scored.groupBy("vec_id", "sub")
        .agg(F.min(F.col("dist_q") * 256 + F.col("code")).alias("bk"))
        .select("vec_id", "sub", (F.col("bk") % 256).cast("int").alias("code"))
    )


def pq_codebook_from(emb: DataFrame, n_codes: int, m: int = 8, d_sub: int = 8) -> DataFrame:
    """(sub, code, cv): a deterministic codebook — the subvectors of the
    ``n_codes`` lowest vec_ids, one centroid set per subspace (the same
    seeding convention as ivf_assign's vec_id<8 centroids; a k-means
    refinement would drop in here without changing any consumer)."""
    seeds = emb.filter(F.col("vec_id") < n_codes)
    return _subvectors(seeds, m, d_sub, "vec_id", "embedding").select(
        "sub", F.col("vec_id").cast("int").alias("code"), F.col("sv").alias("cv")
    )


def pq_codebook_refine(
    emb: DataFrame,
    codebook: DataFrame,
    iters: int = 1,
    m: int = 8,
    d_sub: int = 8,
    mean_scale: int = 6,
) -> DataFrame:
    """(sub, code, cv): Lloyd refinement of a PQ codebook, one k-means
    per SUBSPACE run as a single grouped job (the extra grouping key is
    the subspace id — same shape as kmeans_refine with (sub, code)
    where it has cell). This is how production PQ codebooks are
    actually trained (FAISS ProductQuantizer::train): the seeded
    codebook (pq_codebook_from) is the init, each iteration assigns
    every subvector to its nearest code (exact-integer quantized L2,
    deterministic code tie-break) and replaces each code vector with
    its cluster's per-dimension mean. Codes that lose all members drop
    out (standard Lloyd).

    Engine-portable by the kmeans_refine convention: assignment argmin
    on the BIGINT-quantized distance, means floor-round quantized at
    ``mean_scale`` decimals before becoming the next iteration's code
    vectors — the whole trajectory replays bit-for-bit in an oracle.

    Scale shape per iteration: one broadcast-codebook assignment over
    the corpus subvectors (never shuffles the vectors; the argmin is
    the packed-key HashAggregate of pq_codes), one posexplode to
    (sub, code, dim, x) with map-side partial means, and an
    m x n_codes x d_sub reassembly aggregate."""
    sv = _subvectors(emb, m, d_sub, "vec_id", "embedding")
    cb = codebook
    dist = SQDIST_Q_SQL.format(a="sv", b="cv")
    for _ in range(iters):
        assigned = (
            sv.join(F.broadcast(cb), "sub")
            .select("vec_id", "sub", "code", F.expr(dist).alias("dist_q"))
            .groupBy("vec_id", "sub")
            .agg(F.min(F.col("dist_q") * 256 + F.col("code")).alias("bk"))
            .select("vec_id", "sub", (F.col("bk") % 256).cast("int").alias("code"))
        )
        longf = assigned.join(sv, ["vec_id", "sub"]).select(
            "sub", "code", F.posexplode("sv").alias("pos", "x")
        )
        means = longf.groupBy("sub", "code", "pos").agg(
            round_agg(F.avg(F.col("x").cast("double")), scale=mean_scale).alias("v")
        )
        cb = means.groupBy("sub", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))),
                lambda s: s["v"],
            ).alias("cv")
        )
    return cb


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    k: int = 3,
    m: int = 8,
    d_sub: int = 8,
) -> DataFrame:
    """(query_id, neighbor_id, rank, adist_q): asymmetric-distance (ADC)
    top-k over PQ codes. The query keeps its exact subvectors; each
    corpus vector is represented only by its ``m`` codes, and the
    approximate distance is the sum of per-subspace lookup-table
    entries: d(q, x) ~ sum_s LUT[q, s, code(x, s)].

    Scale shape: the LUT is |queries| x m x |codes| rows — it and the
    query side broadcast; the corpus-side codes table (the only big
    frame) flows through ONE hash join on (sub, code) and ONE hash
    aggregate keyed (query_id, neighbor_id). Partial distances are
    BIGINT ten-thousandths, so the agg is an exact integer sum with
    map-side combine. The final per-query rank window only ever sees
    |queries| partitions of corpus size — queries are few by contract
    (same contract as topk_neighbors)."""
    codes = pq_codes(emb, codebook, m, d_sub)
    qsv = _subvectors(
        queries.select(F.col("vec_id").alias("query_id"), "embedding"),
        m,
        d_sub,
        "query_id",
        "embedding",
    )
    dist = SQDIST_Q_SQL.format(a="sv", b="cv")
    lut = qsv.join(F.broadcast(codebook), "sub").select(
        "query_id", "sub", "code", F.expr(dist).alias("pdist_q")
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pdist_q").alias("adist_q"))
    )
    return topk_cut(scored, "query_id", "adist_q", "neighbor_id", k).select(
        "query_id", "neighbor_id", "rank", "adist_q"
    )


# Elementwise residual (vector - centroid), computed in DOUBLE: both
# casts are exact (float widens losslessly) and IEEE subtraction is
# correctly rounded, so the residual arrays are bit-identical across
# engines and everything downstream (subvector slices, quantized
# distances) inherits the established PQ portability.
RESID_SQL = "zip_with({a}, {b}, (x, c) -> CAST(x AS DOUBLE) - CAST(c AS DOUBLE))"


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    n_codes: int = 16,
    k: int = 3,
    nprobe: int = 2,
    m: int = 8,
    d_sub: int = 8,
) -> DataFrame:
    """(query_id, neighbor_id, rank, adist_q): IVFADC — the fused
    IVF + PQ index (Jegou et al., TPAMI 2011, §V; the FAISS IVFADC
    layout), and the shape a production 100 TB ANN deployment actually
    runs: the coarse quantizer routes (per-query work is O(probed
    cells), never O(corpus)) AND the corpus inside each cell is stored
    only as ``m`` one-byte PQ codes of the RESIDUAL (vector - its cell
    centroid), scored by broadcast lookup table. Before this fusion
    the engine's best plan was either sub-linear (topk_neighbors_ivf:
    probes raw floats) or compressed (pq_topk: full compressed scan),
    never both — r7 verdict's top item.

    Residual coding is what makes the fusion better than its parts:
    within a cell the residual distribution is tighter than the raw
    corpus, so the same codebook budget quantizes finer; the code
    approximates ||(q-c) - code(x-c)||^2 ~ ||q-x||^2 for x in a
    probed cell c.

    Composition, not new machinery: cell assignment is ivf_assign
    (persisted — the 3-longs-per-vector artifact a production
    pipeline checkpoints), residual coding is pq_codes over the
    residual frame with a residual codebook (pq_codebook_from's
    seeding convention: subvectors of the ``n_codes`` lowest vec_ids'
    residuals), probing is topk_neighbors_ivf's rounded-cosine
    centroid rank, and the LUT/ADC scan is pq_topk's — except the LUT
    is keyed (query, PROBED CELL, sub, code), because the query's
    residual differs per probed cell.

    Scale shape: the corpus-sized frames are the assignment (3 longs/
    vector) and the code table (m small ints/vector ~ 1/32 the float
    bytes); the ADC scan is ONE hash join of the code table against a
    |queries| x nprobe x m x n_codes broadcast LUT followed by one
    exact-integer hash aggregate — map-side combined, corpus never
    shuffles. Per-query compare work is O(sum of probed cell sizes)
    like the IVF path, at PQ bytes per compare.

    Decomposed (r12) into ivfpq_artifacts (the persistable index:
    residual codebook + cell-tagged code table) and ivfpq_scan (the
    probe/LUT/ADC stage over those artifacts) so the build-per-run
    query and the persisted-store serving path (streaming/
    pq_index.py) run ONE rule — this function is now just their
    composition."""
    cb, codes = ivfpq_artifacts(emb, centroids, n_codes, m, d_sub)
    return ivfpq_scan(
        codes, cb, centroids, queries, k=k, nprobe=nprobe, m=m, d_sub=d_sub
    )


def ivfpq_artifacts(
    emb: DataFrame,
    centroids: DataFrame,
    n_codes: int = 16,
    m: int = 8,
    d_sub: int = 8,
):
    """(codebook, codes): the IVFADC index AT REST — the residual PQ
    codebook (sub, code, cv; m x n_codes rows, trained once on the
    ``n_codes`` lowest vec_ids' residuals — FROZEN thereafter, the
    production convention: retraining would re-code the corpus) and
    the cell-tagged code table (vec_id, sub, code, cell; m one-byte
    codes + one cell id per vector ~ 1/32 the float bytes). These two
    frames plus the centroid set ARE what a compressed serving node
    persists (the DiskANN memory-bounded layout: codes hot, full
    vectors cold in the corpus parquet)."""
    assigned = ivf_assign(emb, centroids).transform(materialize)
    rseed = _residuals(emb.filter(F.col("vec_id") < n_codes), assigned, centroids)
    cb = _subvectors(rseed, m, d_sub, "vec_id", "embedding").select(
        "sub", F.col("vec_id").cast("int").alias("code"), F.col("sv").alias("cv")
    )
    return cb, _residual_codes(emb, assigned, centroids, cb, m, d_sub)


def pq_code_batch(
    arrivals: DataFrame,
    codebook: DataFrame,
    centroids: DataFrame,
    m: int = 8,
    d_sub: int = 8,
) -> DataFrame:
    """(vec_id, sub, code, cell): code an ARRIVING batch against the
    frozen codebook + centroid set — the incremental fold of the
    compressed index (coding is per-vector and stateless given the
    training artifacts, so the fold is append-only: no stored row is
    ever touched). The same residual-coding step as ivfpq_artifacts,
    restricted to the batch."""
    assigned = ivf_assign(arrivals, centroids)
    return _residual_codes(arrivals, assigned, centroids, codebook, m, d_sub)


def _residuals(emb: DataFrame, assigned: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, embedding): each vector minus its assigned cell's
    centroid (RESID_SQL)."""
    cents = centroids.select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec")
    )
    return (
        emb.join(assigned, "vec_id")
        .join(F.broadcast(cents), "cell")
        .select(
            "vec_id",
            F.expr(RESID_SQL.format(a="embedding", b="cvec")).alias("embedding"),
        )
    )


def _residual_codes(
    emb: DataFrame,
    assigned: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    m: int,
    d_sub: int,
) -> DataFrame:
    """(vec_id, sub, code, cell): the one residual-coding step — pq_codes
    of each vector's residual, tagged with its assigned cell."""
    return pq_codes(_residuals(emb, assigned, centroids), codebook, m, d_sub).join(
        assigned, "vec_id"
    )


def ivfpq_scan(
    codes: DataFrame,
    codebook: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int | None = 3,
    nprobe: int = 2,
    m: int = 8,
    d_sub: int = 8,
) -> DataFrame:
    """(query_id, neighbor_id, rank, adist_q): the IVFADC probe/LUT/
    ADC stage over prebuilt artifacts — see ivfpq_topk (whose scan
    this is, verbatim) for the algorithm and scale shape. ``k=None``
    skips the final top-k window and returns the scored
    (query_id, neighbor_id, adist_q) frame (the radius-scan hook)."""
    probes = ivf_probe(_query_side(queries), centroids, nprobe).select(
        "query_id",
        "cell",
        F.expr(RESID_SQL.format(a="eq", b="ec")).alias("qrv"),
    )
    d = m * d_sub
    start = (
        f"CASE WHEN size(qrv) = {d} THEN sub * {d_sub} + 1 "
        f"ELSE CAST(raise_error('ivfpq: query dim <> {d} "
        f"(m={m} x d_sub={d_sub})') AS INT) END"
    )
    qsv = probes.select(
        "query_id",
        "cell",
        "qrv",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
    ).select(
        "query_id",
        "cell",
        "sub",
        F.expr(f"slice(qrv, {start}, {d_sub})").alias("sv"),
    )
    dist = SQDIST_Q_SQL.format(a="sv", b="cv")
    lut = qsv.join(F.broadcast(codebook), "sub").select(
        "query_id", "cell", "sub", "code", F.expr(dist).alias("pdist_q")
    )
    scored = (
        codes.join(F.broadcast(lut), ["cell", "sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pdist_q").alias("adist_q"))
    )
    if k is None:
        # radius mode (ivfpq_radius_scan): the caller thresholds the
        # scored frame instead of ranking it — no per-query window
        return scored
    return topk_cut(scored, "query_id", "adist_q", "neighbor_id", k).select(
        "query_id", "neighbor_id", "rank", "adist_q"
    )


def ivfpq_radius_scan(
    codes: DataFrame,
    codebook: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    radius_adc: int,
    nprobe: int = 2,
    m: int = 8,
    d_sub: int = 8,
) -> DataFrame:
    """(query_id, neighbor_id, adist_q): RADIUS form of the IVFADC
    scan — every probed-cell code row whose ADC distance is within
    ``radius_adc`` (the FAISS range_search shape on IVFPQ). Shares
    ivfpq_scan's probe/LUT/ADC stages verbatim (k=None returns the
    scored frame); the threshold replaces the per-query top-k window,
    so like radius_neighbors_ivf NO shuffle touches the candidate
    rows. ADC distances are approximations, so radius callers pass a
    SLACKED cut and exact-verify survivors against the full-vector
    tier (q_sim_pq_radius) — the two-stage radius discipline."""
    scored = ivfpq_scan(
        codes, codebook, centroids, queries,
        k=None, nprobe=nprobe, m=m, d_sub=d_sub,
    )
    return scored.filter(F.col("adist_q") <= radius_adc)


# ---------------------------------------------------------------------------
# Lloyd refinement for the coarse quantizer
# ---------------------------------------------------------------------------


def kmeans_refine(
    emb: DataFrame, centroids: DataFrame, iters: int = 2, mean_scale: int = 6
) -> DataFrame:
    """(cell, cvec): ``iters`` Lloyd iterations over a seeded coarse
    quantizer — assign every vector to its max-cosine centroid, then
    replace each centroid with its cell's per-dimension mean. The
    refinement step the IVF/PQ codebook docstrings point at: better
    centroids = tighter cells = better ANN recall at the same probe
    budget.

    Engine-portable by construction: the assignment argmax runs on the
    portably ROUNDED cosine (ivf_assign), and each mean is floor-round
    quantized at ``mean_scale`` decimals before it becomes the next
    iteration's centroid — so the fixed point the oracle replays is
    identical bit-for-bit and sub-ulp float-sum order can never fork
    the trajectory across engines.

    Scale shape per iteration: one broadcast-centroid assignment over
    the corpus (never shuffles the vectors), one posexplode to
    (cell, dim, x) rows — linear in n x d with map-side partial
    means — and a cells x d reassembly aggregate. Cells that lose all
    members drop out (standard Lloyd); production would persist each
    iteration's assignment, exactly like cosine_pairs_ivf's
    ``assignment`` reuse hook."""
    cents = centroids.select("vec_id", "embedding")
    for _ in range(iters):
        assigned = ivf_assign(emb, cents)
        longf = assigned.join(emb.select("vec_id", "embedding"), "vec_id").select(
            "cell", F.posexplode("embedding").alias("pos", "x")
        )
        means = longf.groupBy("cell", "pos").agg(
            round_agg(F.avg(F.col("x").cast("double")), scale=mean_scale).alias("v")
        )
        cents = (
            means.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))),
                    lambda s: s["v"],
                ).alias("embedding")
            )
            .select(F.col("cell").alias("vec_id"), "embedding")
        )
    return cents.select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec")
    )


# ---------------------------------------------------------------------------
# Navigable-small-world (NSW) graph index — batch build + beam search
# ---------------------------------------------------------------------------

NSW_DEG = 4   # out-links kept per node at build (2*deg after symmetrize)
NSW_BEAM = 8  # beam width during search
NSW_HOPS = 3  # expansion rounds (fixed unroll — the kmeans/BPE discipline)
HNSW_L1_MOD = 8  # layer-1 keeps vec_ids with hash56 % 8 == 0 (~1/8)


def hnsw_layer1(df: DataFrame) -> DataFrame:
    """The rows of ``df`` on HNSW layer 1: the deterministic ~1/8
    hash sample (``hash56(vec_id) % HNSW_L1_MOD == 0``) standing in
    for HNSW's geometric level assignment, cut at one level. Every
    layer-1 build, insert and search (hnsw_entries) takes its members
    here."""
    return df.filter(hash56(F.col("vec_id")) % HNSW_L1_MOD == 0)


def nsw_graph(
    emb: DataFrame,
    centroids: DataFrame,
    deg: int,
    max_cell: int = MAX_IVF_CELL,
    nprobe: int = 2,
    keep_dist: bool = False,
) -> DataFrame:
    """(src, dst): a degree-bounded navigable proximity graph — the
    batch construction of the NSW/HNSW index family (Malkov et al.;
    the production ANN default FAISS-HNSW/DiskANN serves from). Each
    node links to its ``deg`` nearest candidates by EXACT quantized
    squared L2, with candidates drawn from the multiprobe IVF
    cell-blocked generator (the cosine_pairs_ivf machinery, minus the
    similarity threshold — neighbor selection wants each node's
    nearest candidates regardless of absolute similarity), then edges
    are symmetrized: a link kept by either endpoint is navigable from
    both — the NSW bidirectional-link rule, so per-node degree is
    bounded by 2*deg.

    Scale: candidate work is the capped-cell pair join (never
    all-pairs, O(sum min(cell, max_cell)^2) compares); the top-deg
    selection is a per-src window over candidate lists already bounded
    by the cell cap; the output is <= 2*deg rows per node — the
    linear-size index a 100 TB corpus can actually persist. Production
    builds would iterate (NN-descent: re-generate candidates from the
    current graph's 2-hop neighborhood and re-select) — each round is
    exactly this function's join+window shape over the previous
    adjacency.

    The symmetrize step makes hub nodes: a node may be SELECTED by
    arbitrarily many others, so adopted in-links are unbounded. The
    final shrink (HNSW's neighbor-list truncation) re-prunes every
    node's merged edge list back to its 2*deg nearest -- the graph
    comes out directed, which beam search is indifferent to, and the
    per-node degree bound that makes the index linear-size holds
    unconditionally.

    ``keep_dist=True`` returns (src, dst, dist_q) instead of
    (src, dst) — the SCORED adjacency a persisted index store needs:
    incremental inserts re-prune touched nodes' edge lists by
    distance, so a store that dropped dist_q would have to re-score
    every stored edge on every insert batch."""
    base = (
        ivf_assign_multi(emb, centroids, nprobe)
        if nprobe > 1
        else ivf_assign(emb, centroids)
    )
    assigned = _sub_split(base, max_cell)
    # self-dots once per vector (NORM2_SQL), not 2x per candidate pair
    e = (
        emb.select("vec_id", "embedding")
        .withColumn("nrm2", F.expr(NORM2_SQL.format(a="embedding")))
        .join(assigned, "vec_id")
    )
    a = e.select(
        "cell",
        "sub",
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm2").alias("na2"),
    )
    b = e.select(
        "cell",
        "sub",
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm2").alias("nb2"),
    )
    # multiprobe can emit a pair via two shared cells with an identical
    # BIGINT distance — distinct is an exact dedup
    cand = (
        a.join(b, ["cell", "sub"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.expr(
                SQDIST_Q_PRE_SQL.format(
                    a="ea", b="eb", na2="na2", nb2="nb2"
                )
            ).alias("dist_q"),
        )
        .distinct()
    )
    sym = cand.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"), "dist_q"
    ).unionByName(
        cand.select(
            F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"), "dist_q"
        )
    )
    return _nsw_shrink(sym, deg, keep_dist=keep_dist)


def _nsw_shrink(sym: DataFrame, deg: int, keep_dist: bool = False) -> DataFrame:
    """Per-node top-deg selection, bidirectional-link adoption, HNSW
    shrink to 2*deg — over a scored (src, dst, dist_q) candidate
    frame. Shared by the round-0 build (nsw_graph) and the NN-descent
    refinement (nsw_descent) so the selection rule cannot fork. The
    union dedups the both-endpoints-kept doubles exactly on the
    symmetric BIGINT distance."""
    kept = topk_cut(sym, "src", "dist_q", "dst", deg).select(
        "src", "dst", "dist_q"
    )
    und = kept.unionByName(
        kept.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "dist_q"
        )
    ).distinct()
    out = _reprune(und, deg)
    return out if keep_dist else out.select("src", "dst")


def _reprune(edges: DataFrame, deg: int) -> DataFrame:
    """(src, dst, dist_q): every node's edge list cut back to its
    2*deg nearest (dist_q, then dst) — the HNSW shrink that keeps the
    per-node degree bound after a build, an insert or a delete."""
    return topk_cut(edges, "src", "dist_q", "dst", 2 * deg).select(
        "src", "dst", "dist_q"
    )


def _pair_dist(pairs: DataFrame, emb: DataFrame) -> DataFrame:
    """``pairs`` with ``dist_q`` attached: the quantized squared L2 of
    each canonical (vec_a, vec_b) = (least, greatest) pair of ``emb``
    ids, other columns passed through; pairs whose ids ``emb`` lacks
    drop. The self-dots are folded once per vector (NORM2_SQL), and
    SQDIST_Q_PRE_SQL's result is bit-identical to SQDIST_Q_SQL's.

    The one pair score of nsw_descent and nsw_delete's bridge: once
    per undirected pair in canonical argument order (ADVICE r10), as
    nsw_graph scores its cell pairs. Scoring each direction separately
    would evaluate the float fold in two summation orders ((A-2C)+B
    vs (B-2C)+A), and at a quantization boundary dist_q(s,d) could
    differ from dist_q(d,s): then the exact-distance dedups
    (_nsw_shrink's union, nsw_delete's merge) fail and one neighbor
    occupies two of a node's 2*deg slots. One score per pair makes
    the distance symmetric by construction."""

    def side(v: str, e: str, n: str) -> DataFrame:
        return emb.select(
            F.col("vec_id").alias(v),
            F.col("embedding").alias(e),
            F.expr(NORM2_SQL.format(a="embedding")).alias(n),
        )

    pre = SQDIST_Q_PRE_SQL.format(a="es", b="ed", na2="na2", nb2="nb2")
    return (
        pairs.join(side("vec_a", "es", "na2"), "vec_a")
        .join(side("vec_b", "ed", "nb2"), "vec_b")
        .withColumn("dist_q", F.expr(pre))
        .drop("es", "ed", "na2", "nb2")
    )


def nsw_insert(
    emb_idx: DataFrame,
    adj_scored: DataFrame,
    arrivals: DataFrame,
    deg: int,
) -> DataFrame:
    """(src, dst, dist_q): the SCORED adjacency after inserting
    ``arrivals`` (vec_id, embedding) into an existing NSW graph — the
    HNSW insert rule (Malkov & Yashunin 2018, Alg. 1) expressed as
    dataflow, and the operation that makes a persisted index SERVABLE:
    production builds once, then folds arriving vectors in per batch
    instead of rebuilding (the q_dedup_incremental pattern for
    graphs).

    Each arrival beam-searches the CURRENT graph exactly like a query
    (nsw_beam: entry at the indexed corpus' min vec_id, NSW_HOPS
    monotone rounds of width NSW_BEAM, exact BIGINT-quantized L2),
    links to its final beam's ``deg`` nearest nodes, and hands each
    linked node the reverse edge (the bidirectional-link rule).
    Touched nodes' merged edge lists are then re-pruned to their 2*deg
    nearest — nsw_graph's shrink, applied to the union — so the
    per-node degree bound that keeps the index linear-size holds
    across any number of insert batches. Reverse edges reuse the
    arrival beam's dist_q (scored once per undirected pair, so the
    distance is symmetric by construction — the NN-descent ADVICE-r10
    rule).

    Arrivals deliberately do NOT link to each other within a batch
    (the incremental-store convention shared with streaming image
    dedup: a batch self-links next round, when its members are part
    of the indexed corpus); their beams see only ``emb_idx``.

    Scale: per arrival the beam touches O(beam * 2*deg * hops) nodes
    independent of corpus size; new edges are <= 2*deg rows per
    arrival; the re-shrink is one per-src window over the stored
    adjacency union the new edges — linear in index size, zero
    all-pairs anywhere."""
    q = arrivals.select("vec_id", "embedding")
    final_beam = nsw_beam(emb_idx, q, adj_scored.select("src", "dst"))
    links = topk_cut(final_beam, "query_id", "dist_q", "node", deg).select(
        F.col("query_id").alias("src"), F.col("node").alias("dst"), "dist_q"
    )
    rev = links.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "dist_q"
    )
    merged = adj_scored.select("src", "dst", "dist_q").unionByName(
        links
    ).unionByName(rev)
    return _reprune(merged, deg)


def nsw_delete(
    emb: DataFrame,
    adj_scored: DataFrame,
    deletions: DataFrame,
    deg: int,
) -> DataFrame:
    """(src, dst, dist_q): the SCORED adjacency after deleting
    ``deletions`` (vec_id) from an existing NSW graph — the delete
    consolidation that completes the persisted-index lifecycle
    (init/insert/search existed; a vector could never LEAVE the
    index, so a dedup pipeline dropping documents or a GDPR unindex
    request had no path). The rule is FreshDiskANN's (Singh et al.
    2021, Alg. 4): deleted nodes' edge lists are dropped; a surviving
    node u that lost an edge to deleted d adopts d's surviving
    out-neighbors as repair candidates (u -> w for w in N_out(d),
    w alive, w != u) — bridging the hole d leaves so the graph stays
    navigable — and every touched list re-prunes to its 2*deg
    nearest (nsw_insert's shrink, the shared degree bound).

    Repair candidates are scored by _pair_dist, once per undirected
    pair, so a repair edge that coincides with a surviving build-time
    edge carries the identical BIGINT distance and the exact-distance
    dedup collapses them. (Insert-era edges
    score query-side first rather than canonically; a coinciding
    repair could then differ by one quantization ulp and briefly
    occupy a second slot — a quality nuance, not a correctness
    hazard, and compaction re-prunes it away.)

    Scale: edges INTO the deleted set are <= 2*deg * |D| rows, so
    repair candidates are O(|D| * deg^2) — linear in the delete
    batch, independent of corpus size; membership tests are
    key-partitioned anti/semi joins (the delete set is corpus-derived
    and deliberately NOT broadcast — the q_decontaminate rule); the
    re-prune is one per-src window. Nothing rebuilds, nothing is
    all-pairs."""
    dels = deletions.select("vec_id")
    d_src = dels.withColumnRenamed("vec_id", "src")
    d_dst = dels.withColumnRenamed("vec_id", "dst")
    live_src = adj_scored.join(d_src, "src", "left_anti")
    kept = live_src.join(d_dst, "dst", "left_anti")
    lost = live_src.join(d_dst, "dst", "left_semi").select(
        F.col("src").alias("u"), F.col("dst").alias("d")
    )
    # deleted nodes' surviving out-neighbors: the bridge targets
    dout = (
        adj_scored.join(d_src, "src", "left_semi")
        .join(d_dst, "dst", "left_anti")
        .select(F.col("src").alias("d"), F.col("dst").alias("w"))
    )
    pairs = (
        lost.join(dout, "d")
        .filter(F.col("u") != F.col("w"))
        .select(
            F.col("u").alias("src"),
            F.col("w").alias("dst"),
            F.least("u", "w").alias("vec_a"),
            F.greatest("u", "w").alias("vec_b"),
        )
        .distinct()
    )
    bridge = _pair_dist(pairs, emb).select("src", "dst", "dist_q")
    merged = kept.select("src", "dst", "dist_q").unionByName(bridge).distinct()
    return _reprune(merged, deg)


def nsw_descent(emb: DataFrame, adj: DataFrame, deg: int) -> DataFrame:
    """(src, dst): ONE NN-descent refinement round (Dong et al.,
    WWW 2011) over an nsw_graph adjacency — the iterate the round-0
    build's docstring promises: each node's candidate set becomes its
    current out-neighbors PLUS their out-neighbors (a neighbor of my
    neighbor is likely my neighbor — the principle that converges
    k-NN graphs without all-pairs), every candidate is exact-scored
    in quantized squared L2, and the same select/adopt/shrink rule
    re-derives a degree-bounded graph.

    Scale: the 2-hop fan-out is n x (2*deg)^2 rows — LINEAR in the
    corpus at fixed degree; scoring joins the candidate list to the
    vector table twice (key-partitioned equi-joins); selection is the
    same per-src window as round 0. Production iterates until the
    edge-change rate drops below a threshold; every round is exactly
    this function's shape.

    Candidates are canonicalized to UNDIRECTED (least, greatest)
    pairs and scored once each (_pair_dist) before symmetrizing —
    nsw_graph's rule; symmetrizing the candidate set also matches
    NN-descent's actual rule (Dong et al. draw from in- AND
    out-neighborhoods)."""
    hop2 = adj.alias("a").join(
        adj.alias("b"), F.col("a.dst") == F.col("b.src")
    ).select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
    cand = (
        adj.select("src", "dst")
        .unionByName(hop2)
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("vec_a"),
            F.greatest("src", "dst").alias("vec_b"),
        )
        .distinct()
    )
    scored = _pair_dist(cand, emb)
    sym = scored.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"), "dist_q"
    ).unionByName(
        scored.select(
            F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"), "dist_q"
        )
    )
    return _nsw_shrink(sym, deg)


def nsw_beam(
    emb: DataFrame,
    queries: DataFrame,
    adj: DataFrame,
    beam: int = NSW_BEAM,
    entries: DataFrame | None = None,
    keep_visited: bool = False,
) -> DataFrame:
    """(query_id, node, dist_q): the final beam after NSW_HOPS
    monotone expansion rounds over ``adj`` — the search primitive
    nsw_search ranks and the HNSW hierarchy chains (layer k's best
    beam node seeds layer k-1). Seeding: ``entries``, an explicit
    per-query (query_id, node) frame (the HNSW descent hand-off),
    else the corpus' smallest id.

    The beam is MONOTONE: every round's candidate set contains the
    previous beam, so the final beam is exactly the best ``beam``
    nodes ever visited and the trajectory is deterministic end-to-end
    (BIGINT distances, vec_id tiebreaks) — the property that lets the
    DuckDB oracle unroll identical rounds.

    Two executions, one answer. When the vectors and the queries fit
    the local-execution gate (operators/local.py: LOCAL_MAX rows and
    its byte budget, the adjacency 2*NSW_DEG edges per row), the
    bounded collects that test the gate are also the payload: every
    hop of every query runs in numpy on the driver (_beam_local) — no
    job per hop — and the beam comes back as a local frame. Above the
    gate the DataFrame loop below runs: per query the search touches
    O(beam * 2*deg * hops) nodes — independent of corpus size;
    frontier frames are tiny and BROADCAST onto the adjacency and
    corpus scans; the corpus never shuffles.

    ``keep_visited=True`` returns EVERY node the search ever scored
    (the union of the seed and all expansion candidate sets, scored
    once at the end) instead of the final beam — the filtered-search
    primitive: a selective predicate starves a width-``beam`` result
    list, but the visited set is the search's full O(beam * 2*deg *
    hops) footprint, so ranking the predicate's matches over it
    recovers candidates the beam itself truncated, at zero extra
    traversal cost."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("eq")
    )
    held = _beam_payload(emb, adj)
    if held is not None:
        fast = _beam_local(q, held, beam, entries, keep_visited)
        if fast is not None:
            return fast

    def score(cand: DataFrame) -> DataFrame:
        # ONE broadcast per scoring pass: the query vectors are
        # attached to the (tiny) candidate frame first, so the corpus
        # join broadcasts a single |cand|-row relation instead of
        # collecting two separate broadcast children per hop — at
        # sf0.1 each broadcast collect costs 150-350 ms of fixed
        # stage latency, and a beam pays score() NSW_HOPS+1 times
        # (measured r14: ~0.5 s/hop -> ~0.35 s/hop).
        cq = cand.join(F.broadcast(q), "query_id")
        return emb.join(
            F.broadcast(cq), F.col("vec_id") == F.col("node")
        ).select(
            "query_id",
            "node",
            F.expr(SQDIST_Q_SQL.format(a="eq", b="embedding")).alias(
                "dist_q"
            ),
        )

    if entries is None:
        entry = emb.agg(F.min("vec_id").alias("node"))
        seed = q.select("query_id").crossJoin(F.broadcast(entry))
    else:
        seed = entries.select("query_id", "node")
    wb = Window.partitionBy("query_id").orderBy("dist_q", "node")
    # Above the gate each round's beam is staged:
    # the monotone recursion cand = cur ∪ expand(cur) references
    # ``cur`` TWICE, so an unchecked lineage doubles per hop — 2^hops
    # copies of the seed subtree in the plan, ~2.5 MiB task binaries
    # per stage, and exponential recomputation (Spark dedupes no
    # common subplans outside exchange reuse). Measured r12: the
    # unstaged form OOM'ed a default-heap driver sweeping the
    # full registry at the ANN cluster. The staged frames are
    # |queries| x beam rows, so the cost is NSW_HOPS materializations
    # — the jobs the local path exists to avoid.
    #
    # Candidate sets are NOT distinct-ed per hop (r14): a duplicate
    # candidate (a node reachable from several beam nodes, or already
    # in the beam) scores to the SAME (query_id, node, dist_q) row,
    # so the duplicates sort adjacently under (dist_q, node) and one
    # lag() comparison inside the ranking window drops them — the
    # per-hop DISTINCT exchange (shuffle + AQE stage + broadcast
    # rebuild of the deduped frame) disappears while the ranked beam
    # stays bit-identical. The visited set dedups ONCE at the end for
    # the same reason.
    cur = stage(score(seed))
    vis = seed.select("query_id", "node")
    for _ in range(NSW_HOPS):
        nbrs = adj.join(
            F.broadcast(cur.select("query_id", "node")),
            F.col("src") == F.col("node"),
        ).select("query_id", F.col("dst").alias("node"))
        cand = cur.select("query_id", "node").unionByName(nbrs)
        if keep_visited:
            vis = vis.unionByName(cand)
        cur = (
            score(cand)
            .withColumn(
                "_dup",
                F.coalesce(
                    F.lag("node").over(wb) == F.col("node"), F.lit(False)
                ),
            )
            .filter(~F.col("_dup"))
            .drop("_dup")
            .transform(topk_cut, "query_id", "dist_q", "node", beam)
            .drop("rank")
            .transform(stage)
        )
    return score(vis.distinct()) if keep_visited else cur


def _beam_payload(emb: DataFrame, adj: DataFrame) -> tuple | None:
    """(ids, vt, bb, indptr, nbr): the corpus and adjacency as numpy
    arrays for the local beam, or None when either bounded collect
    overflows the local gate, the matrix outgrows its byte
    budget, the corpus is empty (it has no dim), or the rows are not
    the plain integer-id, equal-length float vectors the kernel
    assumes; the DataFrame loop then answers. ``ids`` is sorted;
    ``vt`` is the (dim, n) transposed float64 matrix and ``bb`` each
    vector's self-dot; the adjacency is CSR over ``ids`` positions
    (``nbr`` keeps raw dst ids — a dst absent from the corpus drops
    when scored, as the loop's inner join drops it; edges out of such
    a node are never expanded, since only scored nodes expand)."""
    vrows = local.collect(emb.select("vec_id", "embedding"))
    if vrows is None or not vrows.num_rows:
        return None
    erows = local.collect(adj.select("src", "dst"), 2 * NSW_DEG)
    if erows is None:
        return None
    vids = vrows.column("vec_id")
    if (
        not pa.types.is_integer(vids.type)
        or vids.null_count
        or not pa.types.is_integer(erows.schema.field("src").type)
        or not pa.types.is_integer(erows.schema.field("dst").type)
    ):
        return None
    V = local.dense(vrows.column("embedding").combine_chunks())
    if V is None:
        return None
    ids = vids.to_numpy().astype(np.int64)
    order = np.argsort(ids, kind="stable")
    ids, V = ids[order], V[order]
    if (ids[1:] == ids[:-1]).any():
        return None
    vt = np.ascontiguousarray(V.T)
    erows = erows.drop_null()
    src = erows.column("src").to_numpy().astype(np.int64)
    dst = erows.column("dst").to_numpy().astype(np.int64)
    pos, ok = local.positions(ids, src)
    pos, dst = pos[ok], dst[ok]
    order = np.argsort(pos, kind="stable")
    indptr = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(np.bincount(pos, minlength=len(ids)), out=indptr[1:])
    return ids, vt, local.fold(vt, vt), indptr, dst[order]


def _beam_local(
    q: DataFrame,
    held: tuple,
    beam: int,
    entries: DataFrame | None,
    keep_visited: bool,
) -> DataFrame | None:
    """nsw_beam's under-gate execution: the queries and their seeds
    (each bounded like the corpus) are collected, _beam_rows runs every
    hop on the driver, and the rows come back as a local frame. None
    when the queries or seeds overflow the gate or the queries are not
    the corpus' plain vectors."""
    qt = q.schema["query_id"].dataType
    qrows = local.collect(q.select(F.col("query_id").cast("bigint"), "eq"))
    if qrows is None or qrows.column(0).null_count:
        return None
    Q = local.dense(qrows.column(1).combine_chunks())
    if Q is None or (len(Q) and Q.shape[1] != held[1].shape[0]):
        return None
    qid = qrows.column(0).to_numpy()
    if entries is None:  # the corpus' sorted ids are at hand
        qi = np.arange(len(qid))
        node = np.full(len(qi), held[0][0], np.int64)
    else:
        e = local.collect(
            entries.select(
                F.col("query_id").cast("bigint"), F.col("node").cast("bigint")
            )
        )
        if e is None:
            return None
        e = e.drop_null()
        eid = e.column(0).to_numpy()
        o = np.argsort(eid, kind="stable")
        eid, enode = eid[o], e.column(1).to_numpy()[o]
        # every seed of a query row's id reaches that row's one beam
        lo = np.searchsorted(eid, qid, "left")
        cnt = np.searchsorted(eid, qid, "right") - lo
        qi = np.repeat(np.arange(len(qid)), cnt)
        node = enode[np.repeat(lo, cnt) + _runs(cnt)]
    schema = StructType(
        [
            StructField("query_id", qt),
            StructField("node", LongType()),
            StructField("dist_q", LongType()),
        ]
    )
    return local.frame(
        q.sparkSession,
        _beam_rows(qid, Q, qi, node, held, beam, keep_visited),
        schema,
    )


def _runs(cnt: np.ndarray) -> np.ndarray:
    """0..c-1 for every count c, concatenated."""
    return np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt)


def _beam_rows(
    qid: np.ndarray,
    Q: np.ndarray,
    qi: np.ndarray,
    node: np.ndarray,
    held: tuple,
    beam: int,
    keep_visited: bool,
) -> pa.Table:
    """The loop's rounds for every query at once: query row ``qi``
    starts from seed ``node``; candidates dedup by (query, node) before
    the (dist_q, node) cut, nodes absent from the corpus drop when
    scored, and distances are SQDIST_Q_SQL's — per-dimension
    sequential folds of the self- and cross-dots, ((aa - 2*ab) + bb)
    quantized."""
    ids, vt, bb, indptr, nbr = held
    qt = np.ascontiguousarray(Q.T)
    aa = local.fold(qt, qt)

    def score(qi, node):
        pos, ok = local.positions(ids, node)
        qi, node, pos = qi[ok], node[ok], pos[ok]
        ab = local.fold(qt[:, qi], vt[:, pos])
        dist = np.floor(((aa[qi] - 2 * ab) + bb[pos]) * 10000 + 0.5)
        return qi, node, pos, dist.astype(np.int64)

    qi, node = _dedup(qi, node)
    visited = [(qi, node)]
    qi, node, pos, dist = score(qi, node)
    for _ in range(NSW_HOPS):
        # every beam node's CSR edge run, flattened
        lo = indptr[pos]
        cnt = indptr[pos + 1] - lo
        owner = np.repeat(np.arange(len(pos)), cnt)
        qi, node = _dedup(
            np.concatenate([qi, qi[owner]]),
            np.concatenate([node, nbr[lo[owner] + _runs(cnt)]]),
        )
        if keep_visited:
            visited.append((qi, node))
        qi, node, pos, dist = score(qi, node)
        o = np.lexsort((node, dist, qi))
        qi, node, pos, dist = qi[o], node[o], pos[o], dist[o]
        keep = np.arange(len(qi)) - np.searchsorted(qi, qi) < beam
        qi, node, pos, dist = qi[keep], node[keep], pos[keep], dist[keep]
    if keep_visited:
        qi, node, pos, dist = score(
            *_dedup(*(np.concatenate(c) for c in zip(*visited)))
        )
    return pa.table(
        {
            "query_id": pa.array(qid[qi], pa.int64()),
            "node": pa.array(node, pa.int64()),
            "dist_q": pa.array(dist, pa.int64()),
        }
    )


def _dedup(qi: np.ndarray, node: np.ndarray):
    """Distinct (query, node) pairs."""
    o = np.lexsort((node, qi))
    qi, node = qi[o], node[o]
    keep = np.ones(len(qi), bool)
    keep[1:] = (qi[1:] != qi[:-1]) | (node[1:] != node[:-1])
    return qi[keep], node[keep]


def hnsw_entries(
    emb: DataFrame,
    queries: DataFrame,
    adj1: DataFrame,
    beam: int = NSW_BEAM,
) -> DataFrame:
    """(query_id, node): the HNSW descent hand-off — a layer-1 beam
    over ``adj1`` through the layer-1 corpus ``hnsw_layer1(emb)``,
    from its smallest id, reduced to each query's best node (dist_q,
    then node), which seeds that query's base-layer beam (nsw_beam
    ``entries``). The one layer-1 descent every two-layer search
    runs. Every endpoint of a layer-1 adjacency is a layer-1 member
    (builds, inserts and delete bridges only link members), so the
    beam scores exactly the nodes it would over the whole corpus."""
    beam1 = nsw_beam(hnsw_layer1(emb), queries, adj1, beam=beam)
    return topk_cut(beam1, "query_id", "dist_q", "node", 1).select(
        "query_id", "node"
    )


def _rank_nodes(
    cand: DataFrame, k: int, exclude: DataFrame | None
) -> DataFrame:
    """(query_id, neighbor_id, rank, dist_q): the final rank of a
    scored (query_id, node, dist_q) frame — tombstoned ids
    (``exclude``, a vec_id frame) and self-matches dropped BEFORE
    ranking, so ranks stay gapless over the survivors, then the
    top-``k`` by (dist_q, node)."""
    if exclude is not None:
        cand = cand.join(
            exclude.select(F.col("vec_id").alias("node")), "node", "left_anti"
        )
    cand = cand.filter(F.col("node") != F.col("query_id"))
    return topk_cut(cand, "query_id", "dist_q", "node", k).select(
        "query_id", F.col("node").alias("neighbor_id"), "rank", "dist_q"
    )


def hnsw_search(
    emb: DataFrame,
    queries: DataFrame,
    adj0: DataFrame,
    adj1: DataFrame,
    k: int = 3,
    beam: int = NSW_BEAM,
    exclude: DataFrame | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, rank, dist_q): two-layer HNSW search
    (Malkov & Yashunin 2018) over the corpus ``emb``, the base-layer
    graph ``adj0`` and the layer-1 graph ``adj1`` — the layer-1
    descent (hnsw_entries, which derives the layer-1 members from
    ``emb``), base-layer beam seeded at each query's hand-off node,
    final top-k. ONE implementation shared by the build-per-run audit
    query (q_sim_hnsw_topk) and the persisted-index serving path
    (streaming/ann_index.py), so the search rule cannot fork between
    the benchmarked form and the deployed form.

    Scale: both beams touch O(beam * 2*deg * hops) nodes per query
    independent of corpus size; the hand-off is a 1-row-per-query
    frame — the hierarchy adds one tiny broadcast join to the
    serving path.

    ``exclude`` (a vec_id frame) is the tombstone mask: excluded ids
    are dropped from the final beam BEFORE ranking, so a search
    served from a store with pending tombstones can never return a
    deleted vector (see nsw_search)."""
    entries0 = hnsw_entries(emb, queries, adj1, beam=beam)
    cur = nsw_beam(emb, queries, adj0, beam=beam, entries=entries0)
    return _rank_nodes(cur, k, exclude)


def hnsw_visited(
    emb: DataFrame,
    queries: DataFrame,
    adj0: DataFrame,
    adj1: DataFrame,
) -> DataFrame:
    """(query_id, node, dist_q): every node the two-layer search over
    ``emb`` scores — the layer-1 descent (hnsw_entries), then the
    base-layer beam's full visited set (nsw_beam keep_visited). The one
    visited-set search: hnsw_filtered_search ranks a predicate's
    matches over it, and the store's radius search thresholds it."""
    entries0 = hnsw_entries(emb, queries, adj1)
    return nsw_beam(emb, queries, adj0, entries=entries0, keep_visited=True)


def hnsw_filtered_search(
    emb: DataFrame,
    queries: DataFrame,
    adj0: DataFrame,
    adj1: DataFrame,
    filt_ids: DataFrame,
    k: int = 3,
    exclude: DataFrame | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, rank, dist_q): two-layer HNSW search
    under a metadata predicate — the filtered-HNSW answer to the
    problem q_ann_filtered_recall's 'post' row prices (a selective
    filter starves a truncated top-k): the hierarchy descends and the
    base-layer beam expands EXACTLY as in hnsw_search — traversal
    runs through non-matching nodes, because they are the graph's
    bridges — but the result ranks the predicate's matches
    (``filt_ids``, a vec_id frame) over the search's FULL VISITED SET
    (nsw_beam keep_visited), not over the width-NSW_BEAM final list.
    Over-expansion is bounded by the footprint the unfiltered search
    already pays — O(beam * 2*deg * hops) scored nodes per query —
    so the filter costs zero extra traversal; widening the beam is
    the recall knob when selectivity bites (the q_ann_hnsw_beam
    audit's serving knob).

    ``exclude`` composes the tombstone mask (delete lifecycle), so a
    store serves filtered searches with pending deletes correctly."""
    vis = hnsw_visited(emb, queries, adj0, adj1)
    cand = vis.join(
        filt_ids.select(F.col("vec_id").alias("node")), "node", "left_semi"
    )
    return _rank_nodes(cand, k, exclude)


def nsw_search(
    emb: DataFrame,
    queries: DataFrame,
    adj: DataFrame,
    k: int = 3,
    exclude: DataFrame | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, rank, dist_q): greedy beam search over
    an nsw_graph adjacency — nsw_beam (width NSW_BEAM, every query
    entering at the corpus' min vec_id) ranked to the final top-``k``
    (self-matches excluded). See nsw_beam for the seeding, monotone-
    beam, and scale properties.

    ``exclude`` (a vec_id frame) drops excluded ids from the final
    beam BEFORE ranking — the tombstone mask of the persisted-index
    delete lifecycle: the beam may traverse THROUGH a tombstoned node
    (its edges bridge the graph until compaction rewrites them) but a
    tombstoned id can never be RETURNED, and ranks stay gapless over
    the survivors. A compacted adjacency contains no deleted nodes,
    so there the mask is a no-op enforcing the contract."""
    return _rank_nodes(nsw_beam(emb, queries, adj), k, exclude)
