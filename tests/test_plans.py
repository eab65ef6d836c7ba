"""Physical-plan regression tests: the scale-critical plan properties
(pushdown, pruning, broadcast, bucketing) asserted so a future edit
can't silently trade them away. These are the properties the .explain
audit verified; see README 'Designed-for-100-TB choices'."""

from __future__ import annotations

import re

import pytest

from flink_pipeline_spark.plans import query_fns

from .conftest import SF_DIR

QUERIES = query_fns()  # one registry build


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def _read_schemas(plan: str) -> list[list[str]]:
    """Column lists of each FileScan (ReadSchema is rendered truncated,
    so parse the scan's output attribute list instead)."""
    return [
        s.split(",") if s else []
        for s in re.findall(r"FileScan parquet[^\[]*\[([^\]]*)\]", plan)
    ]


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "q_filter_range")
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan
    # column pruning: the 11-column lineitem scan reads only 4 columns
    schemas = _read_schemas(plan)
    assert schemas and all(len(s) <= 4 for s in schemas)


def test_flagship_prunes_columns(spark):
    plan = _plan(spark, "q_flagship")
    schemas = _read_schemas(plan)
    assert schemas and all(len(s) <= 7 for s in schemas), schemas


def test_dim_joins_broadcast(spark):
    for name in ("q_join_inner", "q_broadcast_lookup", "q_shipping_priority"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast join"


def test_asof_join_is_single_window_pass(spark):
    """The as-of join must stay a window formulation — exactly one
    shuffle (hashpartitioning on user_id), no join operator."""
    plan = _plan(spark, "q_join_asof")
    assert "Join" not in plan.replace("AdaptiveSparkPlan", "")
    assert plan.count("Exchange hashpartitioning") == 1


def test_minhash_no_cartesian(spark):
    plan = _plan(spark, "q_dedup_minhash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_allpairs_cosine_is_equijoin(spark):
    """Exact all-pairs cosine must stay the triangle-blocked equi-join,
    never a theta join (BNLJ funnels all n^2 compares through the
    streamed side's tasks)."""
    plan = _plan(spark, "q_dedup_embed_cosine")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_blocked_equijoin(spark):
    """Candidate blocking must be the (lang, length-bin) equi-join, not
    a lang-only near-cartesian."""
    plan = _plan(spark, "q_dedup_ngram_jaccard")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ranked_topk_no_global_window(spark):
    """Ranked reports take top-k distributed (TakeOrderedAndProject)
    and attach rank over the <= k survivors — a global WindowExec here
    is the single-partition cliff the bench log used to warn about."""
    for name in ("q_shipping_priority", "q_returned_items", "q_text_tokens"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "Window" not in plan, name


def test_salted_agg_two_stages(spark):
    plan = _plan(spark, "q_skew_salted_agg")
    # partial agg on (key, salt) then final on key: two hash-agg pairs
    assert plan.count("HashAggregate") >= 4


def test_decontaminate_hits_not_broadcast(spark):
    """Only the benchmark shingle set may carry a broadcast hint. The
    contaminated-ids set is corpus-derived (its size scales with the
    corpus), so a forced broadcast there is an OOM cliff at 100 TB —
    the join-back must be left to AQE."""
    df = QUERIES["q_decontaminate"](spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed


def test_pack_sequences_no_shard_wide_doc_window(spark):
    """Two-pass packing: the per-doc running sum must be partitioned by
    the doc_id-range sub-shard, never by (lang, source) alone — one
    shard of a 100 TB corpus in a single window task is the straggler
    cliff the two-pass formulation exists to avoid. The shard-level
    prefix sum may only run over aggregated sub-shard totals."""
    import re

    plan = _plan(spark, "q_pack_sequences")
    windows = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert windows, plan
    for spec in windows:
        if "doc_id" in spec:
            assert "sub_id" in spec.split("doc_id")[0], spec


def test_dedup_exact_shuffles_digest_not_text(spark):
    """The exact-dedup exchange must carry the 128-bit md5 digest, not
    the document text — the shuffle key is what rides the wire at
    100 TB."""
    plan = _plan(spark, "q_dedup_exact")
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges, plan
    for keys in exchanges:
        assert "text" not in keys, keys


def test_bucketed_join_no_exchange_under_smj(spark):
    """The bucketed join's SortMergeJoin must consume the bucketed
    scans DIRECTLY — no Exchange on either side (the on-disk bucketing
    satisfies the distribution requirement). Only the final rollup may
    shuffle."""
    from flink_pipeline_spark.plans.pipeline_queries import bucketed_tables

    bo, bl = bucketed_tables(spark, SF_DIR)
    plan = (
        bo.hint("merge")
        .join(bl.hint("merge"), bo.o_orderkey == bl.l_orderkey)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_ivf_topk_probe_table_broadcasts(spark):
    """The IVF search must broadcast the (query, probed-cell) table
    onto the corpus — the corpus side never exchanges for the probe
    join. (The per-query top-k window legitimately shuffles the
    already-cell-pruned candidates.)"""
    plan = _plan(spark, "q_sim_ivf_topk")
    assert "BroadcastHashJoin" in plan, plan


def test_funnel_single_exchange_three_windows(spark):
    """All three funnel-stage windows must stack on ONE user_id
    exchange — the corpus shuffles once, not once per stage."""
    plan = _plan(spark, "q_event_funnel")
    # match partitioning on user_id ALONE (the stacked-window exchange):
    # the count-distinct Expand exchange also carries user_id among its
    # five keys, and Catalyst orders those keys nondeterministically, so
    # a prefix match would sometimes count it too
    stage_exchanges = re.findall(
        r"Exchange hashpartitioning\(user_id#\d+L?, \d+\)", plan
    )
    assert plan.count("Window") == 3, plan
    assert len(stage_exchanges) == 1, plan


def test_tfidf_persists_tf_and_partitions_topk(spark):
    """The df branch must reuse the persisted tf table (no second
    corpus scan), and the top-3 window must partition by doc_id with
    Spark's rank-limit pushdown (WindowGroupLimit), never a global
    window."""
    plan = _plan(spark, "q_text_tfidf")
    # tf join side + df derivation both read the persisted tf table
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "WindowGroupLimit" in plan, plan


def test_zscore_stats_broadcast_back(spark):
    """The tiny per-type moments table is broadcast onto the event
    stream; a window-over-event_type here would funnel the corpus
    through #types partitions."""
    plan = _plan(spark, "q_zscore_outliers")
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan


def test_containment_no_cartesian(spark):
    """Containment candidates come from df-capped rare-shingle buckets
    (collect/cap/double-explode) — never a cartesian or nested-loop
    pair join."""
    plan = _plan(spark, "q_dedup_containment")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_text_chunks_zero_exchange(spark):
    """Chunking is a pure narrow map: one scan, one generate, NO
    exchange — a shuffle here would mean the chunk explode got
    separated from its projection."""
    plan = _plan(spark, "q_text_chunks")
    assert "Exchange" not in plan, plan
    assert plan.count("FileScan") == 1, plan


def test_incremental_dedup_corpus_index_shape(spark):
    """The batch probe must join the corpus's collected bucket index
    (collect_list agg), and the digest match must stay a left-semi —
    the asymmetric shapes that keep per-ingest cost O(batch). Since
    the r7 cache-hygiene rework the probe stage executes eagerly and
    is checkpointed, so its plan is asserted on the factored-out
    neardup_probe; the returned frame keeps the left-semi digest
    match."""
    from pyspark.sql import functions as F

    from flink_pipeline_spark.catalog import load_table
    from flink_pipeline_spark.operators.llm import (
        doc_shingles,
        lsh_band_signatures,
        neardup_probe,
    )

    docs = load_table(spark, SF_DIR, "documents")
    sets = doc_shingles(docs)
    probe_plan = neardup_probe(
        F.expr("doc_id % 10 = 0"), sets, lsh_band_signatures(sets)
    )._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" in probe_plan, probe_plan
    plan = _plan(spark, "q_dedup_incremental")
    assert "LeftSemi" in plan, plan


# Queries whose physical plan legitimately contains a
# BroadcastNestedLoopJoin: every entry is a SMALL broadcast side driving
# a non-equi or unconditioned join — never two large inputs.
#   - centroid/query-side ANN broadcasts (8-row centroids / k-row query
#     sets; the corpus side never shuffles): ivf family, topk, knn
#   - 1-row denominator broadcasts (corpus totals joined onto every
#     row): mixture/source-mix/tfidf
#   - non-equi range/interval semantics with the small side broadcast:
#     range join, anti-join cleanup
_ALLOWED_BNLJ = {
    "q_anti_join_cleanup",
    "q_dedup_embed_ivf",
    "q_dedup_embed_ivf_multiprobe",
    "q_join_range",
    "q_knn_classify",
    "q_mixture_resample",
    "q_sim_ivf",
    "q_sim_ivf_topk",
    "q_sim_topk",
    "q_source_mix",
    "q_text_tfidf",
    # r6: 1-row broadcast denominator cross joins (the source-mix
    # pattern) and compositions of the already-vetted searches
    "q_ann_recall",          # composes q_sim_topk/q_sim_ivf_topk + 1-row denom
    "q_dedup_semantic",      # composes q_dedup_embed_ivf's centroid broadcast
    "q_dsir_weights",        # 1-row smoothing-constants broadcast
    "q_mixture_temperature", # 1-row share-denominator broadcast
    "q_text_surprisal",      # 1-row corpus-total broadcast
    "q_sim_kmeans",          # per-iteration tiny-centroid broadcast assignments
    "q_text_bm25",           # 1-row (N, avgdl) constants broadcast
    # r7: same vetted classes
    "q_dedup_recall",        # composes the three pair queries + 1-row truth denom
    "q_quality_linear",      # 1-row smoothing-constants + bias broadcasts
    "q_search_hybrid",       # composes q_text_bm25 + the k-row query-side cosine
    "q_text_surprisal_2g",   # 1-row corpus-total broadcast (unigram convention)
    "q_sim_sq_topk",         # 1-row lo/hi codebook + k-row query broadcasts
    # r8: same vetted classes
    "q_sim_ivfpq_topk",      # q_sim_ivf_topk's k-row query x 8-row centroid probe rank
    "q_sim_ivf2_topk",       # two-level variant: tiny super/child routing grids
    "q_quality_ppl_bucket",  # composes q_text_surprisal_2g (vetted 1-row total)
    "q_text_langid_ngram",   # <=256-bucket x L-class weight grid + 1-row doc-total broadcast
    # r8 continued: same vetted classes
    "q_bpe_round2_pairs",    # 1-row argmax-merge broadcast onto the type table
    "q_bpe_encode",          # two 1-row merge broadcasts onto the type table
    "q_decontaminate_bloom", # 1-row packed-filter broadcast (the Bloom bitset)
    "q_sim_ivfpq_rerank",    # composes q_sim_ivfpq_topk (vetted) + k-row re-rank
    "q_embed_truncate_recall",  # composes q_sim_topk + k-row truncated query side
    "q_vocab_coverage",      # 1-row corpus-total denominator broadcast
    "q_mixture_domain",      # vetted centroid-argmax assign + 1-row denom
    "q_search_ndcg",         # composes q_text_bm25 + 1-row DCG/IDCG audit join
    "q_attribution",         # 1-row share-denominator broadcast
    "q_text_pmi_collocations",  # 1-row (T, B) constants broadcast
    "q_quality_calibration",  # composes q_quality_linear (vetted 1-row consts)
    "q_mixture_doremi",      # composes both LMs (vetted) + 1-row denominators
    "q_sim_graph_expand",    # composes q_sim_ivfpq_topk (vetted) + k-row expansion
    # r8 session 2/3: same vetted classes
    "q_sim_binary_topk",     # 1-row packed-midpoint codebook + k-row query broadcasts
    "q_text_surprisal_kn",   # 1-row KN smoothing-constants broadcast
    "q_select_mmr",          # composes the k-row relevance shortlist + pair sims
    "q_heavy_hitters",       # 1-row corpus-total broadcast onto the candidate grid
    "q_idle_rich_customers", # 1-row global-average scalar broadcast
    # r8 session 4: same vetted classes
    "q_important_parts",     # 1-row (total, count) scalar gate broadcast
    "q_graph_pagerank",      # 1-row base-mass constant broadcast per iteration
    "q_rfm_segments",        # 1-row reference-date broadcast
    "q_error_rate_control",  # 1-row global-rate scalar broadcast
    # r9: same vetted classes
    "q_dedup_image_phash_recall",  # 1-row truth-denominator broadcast
    "q_dedup_embed_recall",  # composes the vetted IVF pair queries + 1-row denom
    "q_time_travel",         # 1-row corpus-midpoint scalar broadcast
    "q_error_rate_cusum",    # 1-row global-rate scalar broadcast onto the day grid
    "q_mine_hard_negatives", # broadcast anchor side, the q_sim_topk class
    "q_graph_triangles",     # two 1-row census-scalar broadcasts
    "q_error_rate_ewma",     # 1-row global-rate scalar broadcast (the CUSUM class)
    # r10: same vetted classes
    "q_sim_nsw_topk",        # 1-row entry-point broadcast onto the query set
    # the dominant BNLJ here is the 64-anchor x corpus NON-EQUI
    # broadcast join building the sampled truth — linear-but-large
    # O(n*s) by design, not just scalar gates — plus two 1-row
    # denominator broadcasts (ADVICE r10: name what the lint exempts)
    "q_dedup_embed_recall_sampled",
    "q_quantile_sketch",     # 1-row (n, k) totals broadcast onto the 3-row grid
    "q_unigram_em",          # 1-row vocab-total + 1-row scored-vocab broadcasts
    "q_sim_nsw_descent",     # 1-row entry-point broadcast (the nsw class)
    "q_sim_hnsw_topk",       # 1-row layer-1 entry broadcast (the nsw class)
    # r11: same vetted classes
    "q_sim_nsw_insert",      # 1-row entry broadcasts x2 (insert + audit beams)
    "q_sim_hnsw_search",     # 1-row layer entry broadcasts over the STORED graph
    "q_ann_hnsw_beam",       # 1-row entry + denominator broadcasts x3 beams
    "q_dedup_audio_fp_recall",  # 1-row truth-denominator broadcast
}
# r11 entries, tightened per ADVICE r11: instead of a blanket
# exemption, each query carries the MAXIMUM number of BNLJ nodes its
# vetted plan contains — a regression that introduces an additional
# (possibly unbounded) nested-loop join anywhere in these queries
# trips the gate even though the query is "allowed".
_BNLJ_MAX = {
    "q_ann_filtered_recall": 5,  # tightened to the exact current count
                                 # (r12 verdict #6): 2 vetted IVF
                                 # searches' probe-rank/query
                                 # broadcasts + truth + the 1-row
                                 # denominator — the graph row's beam
                                 # BNLJs live in checkpointed sub-jobs
                                 # since the r12 lineage fix, so any
                                 # growth here is a real regression
    "q_sim_filtered_topk": 2,    # the q_sim_ivf_topk class: 8-row
                                 # centroid quantizer broadcast + k-row
                                 # query probe rank (filter only shrinks)
    # the dominant BNLJ is the |word types| x SEED_MULTI loss-probe
    # grid (instr-filtered — non-equi by nature), bounded at
    # |types| x 24 and corpus-independent, plus the unigram family's
    # 1-row scored-vocab broadcasts
    "q_unigram_prune": 12,
    "q_unigram_encode": 12,       # same vetted loss-probe grid (composes
                                 # the pruned-vocab builder) + 1-row
                                 # vocab broadcasts
    # r12: the nsw-family beams localCheckpoint per hop (the lineage
    # fix), so their 1-row entry Cross broadcasts now live in the
    # checkpointed sub-jobs and the FINAL plans this gate audits carry
    # zero or near-zero BNLJs — the counted entries below are the
    # residual non-beam broadcasts
    "q_ann_delete_recall": 1,    # broadcast-query non-equi truth join
                                 # (the vetted linear audit class)
    "q_sim_ivfpq_serve": 1,      # the probe stage's tiny centroid
                                 # broadcast (the q_sim_ivf_topk class)
    "q_sim_ivfpq_delete": 1,     # same class, over the masked code log
    "q_drift_projection": 1,     # 1-row n_dims_used scalar broadcast
    "q_dedup_video_fp_recall": 1,  # 1-row truth-denominator broadcast
    # r13, exact current counts (all vetted classes):
    "q_dedup_unindex_pq": 1,     # the probe stage's tiny centroid
                                 # broadcast (the q_sim_ivfpq_serve class)
    "q_dedup_unindex_recall": 1,  # broadcast-query non-equi truth join
                                 # (the q_ann_delete_recall class)
    "q_sim_ivfpq_rewrite": 1,    # the probe stage's centroid broadcast
    "q_sim_radius": 2,           # centroid-quantizer broadcast + k-row
                                 # query probe rank (the q_sim_ivf_topk
                                 # class, minus its top-k window)
    "q_sim_pq_radius": 1,        # the probe stage's centroid broadcast
                                 # (the q_sim_ivfpq_serve class)
    "q_sim_radius_recall": 4,    # the ivf row's 2 + the pq row's
                                 # centroid broadcast + the 1-row
                                 # truth-denominator broadcast
    "q_sim_maxsim_topk": 2,      # token-probe rank + assignment
                                 # centroid broadcasts (q_sim_ivf_topk
                                 # class at token granularity)
    "q_sim_maxsim_plaid": 2,     # centroid dot-table + assignment
                                 # centroid broadcasts (the
                                 # q_sim_ivf_topk class)
    "q_sim_maxsim_recall": 5,    # twostage's 2 + plaid's 2 + the
                                 # truth's qdoc x docs grid broadcast
                                 # (audit-only, 3 x |docs| rows)
    "q_ann_drift_refresh": 6,    # two searches x (centroid broadcast +
                                 # probe rank) + exact-truth query
                                 # broadcast + the 1-row gate broadcast
    "q_pq_drift_refresh": 1,     # the truth stage's broadcast-query
                                 # non-equi join (both IVFADC chains'
                                 # probe broadcasts live in the
                                 # checkpointed shortlist sub-jobs)
    # r14, exact current counts:
    "q_pq_refresh_serve": 1,     # the probe stage's tiny centroid
                                 # broadcast (the q_sim_ivfpq_serve
                                 # class, over the refreshed store)
    "q_pq_refresh_serve_recall": 1,  # the 1-row n_truth denominator
                                 # cross broadcast (served + truth
                                 # lists are checkpointed sub-jobs)
    "q_pq_rewrite_trigger": 2,   # two 1-row n_tombs scalar cross
                                 # broadcasts (one per audited store)
    "q_sim_ivfpq_delete_hd": 1,  # the probe stage's centroid broadcast
                                 # (the q_sim_ivfpq_delete class)
    "q_sim_ivfpq_rewrite_hd": 1,  # same class, compacted log
    "q_sim_maxsim_search": 1,    # the token-probe rank's centroid
                                 # broadcast (assignment comes from
                                 # the stored log, dropping the
                                 # in-query row's second BNLJ)
    "q_sim_maxsim_plaid_search": 1,  # the centroid dot-table broadcast
                                 # (occupancy comes from the stored
                                 # log)
    "q_gexp_clustered": 1,       # the 1-row n_truth denominator cross
                                 # broadcast (method lists checkpointed)
    "q_nsw_descent_clustered": 6,  # four 1-row hit/denominator scalar
                                 # cross broadcasts per round's row
                                 # build (search+link lists are
                                 # checkpointed sub-jobs)
    "q_plaid_clustered": 5,      # the registered maxsim recall row's
                                 # counts (twostage 2 + plaid 2 + the
                                 # truth's qdoc x docs grid broadcast)
    "q_hnsw_beam_clustered": 3,  # the registered beam sweep's three
                                 # 1-row denominator cross broadcasts
}
# Row-at-a-time Python execution allowed ONLY for the UDTF coverage
# demo (SURVEY §2.10 U5): Spark UDTFs are inherently BatchEvalPython.
# Everything else must stay JVM-side or Arrow-batched (MapInPandas /
# ArrowEvalPython).
_ALLOWED_ROW_PYTHON = {"q_udtf_explode"}


def test_registry_wide_no_cartesian_no_row_python(spark):
    """Registry-wide scale-discipline sweep: NO registered query may
    plan a CartesianProduct, a row-at-a-time Python eval (outside the
    UDTF demo), or an unvetted BroadcastNestedLoopJoin. This is the
    .explain audit as a regression gate — a future edit that silently
    degrades a join to a cartesian or drops to row-Python fails here,
    with the offending plan printed."""
    fns = query_fns()
    offenders: dict[str, list[str]] = {
        "CartesianProduct": [],
        "BatchEvalPython": [],
        "BroadcastNestedLoopJoin": [],
    }
    for name in sorted(fns):
        plan = _plan(spark, name)
        if "CartesianProduct" in plan:
            offenders["CartesianProduct"].append(name)
        if "BatchEvalPython" in plan and name not in _ALLOWED_ROW_PYTHON:
            offenders["BatchEvalPython"].append(name)
        n_bnlj = plan.count("BroadcastNestedLoopJoin")
        if n_bnlj and name in _BNLJ_MAX:
            if n_bnlj > _BNLJ_MAX[name]:
                offenders["BroadcastNestedLoopJoin"].append(
                    f"{name} ({n_bnlj} > max {_BNLJ_MAX[name]})"
                )
        elif n_bnlj and name not in _ALLOWED_BNLJ:
            offenders["BroadcastNestedLoopJoin"].append(name)
    assert not any(offenders.values()), offenders


def test_quality_gate_zero_shuffle(spark):
    """The C4-style gate is one narrow projection: a single scan, no
    exchange — a shuffle would mean the metrics or the rule chain got
    separated from the scan."""
    plan = _plan(spark, "q_quality_gate")
    assert "Exchange" not in plan, plan
    assert plan.count("FileScan") == 1, plan
