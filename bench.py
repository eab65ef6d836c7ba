#!/usr/bin/env python
"""Benchmark driver (SURVEY.md §3.3, M6): times the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": total_secs, "unit": "sec",
   "queries": {name: secs, ...}, "sf": ...}

Protocol (reference experiment.py parity):
  * One UNTIMED warm-up sweep runs every headline query once, so JVM
    codegen, parquet footer caching, and Python-worker spawn aren't
    billed to repeat 1 (the reference's own first repeats show the
    same cold-start in its results.csv).
  * The timed sweep then runs $SPARK_GRAFT_BENCH_REPEATS times
    (default 5; the reference's --num-repeats default is 3,
    experiment.py:364) and the JSON line reports the PER-QUERY
    MEDIAN — the defensible statistic on this VM, whose CPU delivery
    swings 2-5x in multi-second windows (measured with a pure-Python
    burn test; a 3-sample median can land entirely inside one such
    window, 5 samples ride it out).
  * The two-stage pipeline (the reference's actual workload: demux
    convert + per-sample align) runs the same number of repeats with
    up to 3 attempts each through flink_pipeline_spark.benchmark's
    Experiment (experiment.py:341-357) and appends one CSV
    row per attempt to $SPARK_GRAFT_BENCH_CSV (default
    ./bench_results.csv) in the reference's exact results.csv schema
    (experiment.py:259-269):
      repeat_num,attempt_num,retcode,log_file,total_secs,bcl_secs,align_secs
    with bcl_secs = our convert stage, align_secs = our align stage.

Each query is forced end-to-end with a noop sink (full computation, no
driver-side collect cost).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q_flagship",
    "q_filter_range",
    "q_shipping_priority",
    "q_local_supplier_volume",
    "q_returned_items",
    "q_join_inner",
    "q_join_asof",
    "q_window_rank",
    "q_stream_tumbling",
    "q_stream_session",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_sim_topk",
    "q_text_tokens",
    "q_grouped_transform",
    # training data: decontamination is the join-heavy one, packing
    # the window-heavy one, split the pure-map one
    "q_train_split",
    "q_decontaminate",
    "q_pack_sequences",
    # scale-path dedup: simhash pairing is the largest correctness
    # workload (the unsuffixed name is the 56-bit corpus-scale config,
    # _calib the 16-bit one), IVF the sub-quadratic ANN path
    "q_dedup_simhash_pairs",
    "q_dedup_embed_ivf",
    "q_dedup_embed_ivf_multiprobe",
    # the shipped dedup pipeline end-to-end — pairs -> connected-
    # component clusters -> keeper apply is the actual 100 TB workload
    "q_dedup_simhash_pairs_calib",
    "q_dedup_containment",
    "q_dedup_clusters",
    "q_dedup_apply",
    "q_dedup_substring",
    "q_dedup_incremental",
    "q_dedup_embed_apply",
    # corpus-heavy scoring: semantic dedup (SemDeDup keeper rule over
    # the capped IVF pair graph) and the unigram-LM surprisal scorer
    "q_dedup_semantic",
    "q_text_surprisal",
    # the bigram-type join, the broadcast weight table, and the
    # text-family recall audit (exact inverted-index truth + three
    # pair generators — the heaviest composition)
    "q_text_surprisal_2g",
    "q_quality_linear",
    "q_dedup_recall",
    "q_search_hybrid",
    # quantizer training (2 Lloyd iterations) — the recurring index-
    # build job of the ANN family
    "q_sim_kmeans",
    # trained PQ codebook (per-subspace Lloyd) + ADC search over it
    "q_sim_pq_trained",
    # ANN search + classifier over embeddings, and the stream-static
    # dimension join — what a data pipeline runs hot
    "q_sim_ivf_topk",
    # PQ/ADC compressed search — the 100 TB keep-it-hot path
    "q_sim_pq_topk",
    # asymmetric SQ8 — the second compression path
    "q_sim_sq_topk",
    # token-budget data selection — two-phase bin-offset plan
    "q_token_budget_select",
    # the end-to-end corpus -> training-shard manifest (dedup keeper +
    # quality gate + cluster split + shards)
    "q_build_training_set",
    # paragraph-level exact dedup (the CCNet/RefinedWeb line pass),
    # the learned char-trigram langid, IVFADC (fused IVF-probe +
    # PQ-residual search), and the mixture-weighted manifest
    "q_dedup_paragraph",
    "q_text_langid_ngram",
    "q_sim_ivfpq_topk",
    # exact re-rank of the ADC shortlist — the serving-path pair
    "q_sim_ivfpq_rerank",
    "q_build_training_set_weighted",
    # two-level IVF routing (the corpus-scale-centroid regime)
    "q_sim_ivf2_topk",
    # Bloom-filter decontamination — the packed-word filter build +
    # k-probe corpus scan, with the exact-truth FP audit inline
    "q_decontaminate_bloom",
    # one-pass per-doc quality flags, BPE type-table merges, the
    # quality-binned curriculum handoff, and the SCD2 change history
    # (lag->filter->lead on one exchange)
    "q_gopher_rules",
    "q_bpe_encode",
    "q_curriculum_order",
    "q_scd2_history",
    # content-defined chunking (the insertion-robust granularity),
    # winnowing (the MOSS local-guarantee pair generator), the MinHash
    # estimator audit, the DoReMi-shape reweighter (composes both LMs),
    # and the Q7 join shape
    "q_dedup_cdc_chunks",
    "q_winnow_fingerprint",
    "q_dedup_minhash_estimate",
    "q_mixture_doremi",
    "q_nation_trade_volume",
    # 1-bit codes + Hamming shortlist + exact re-rank, the Q21
    # semi+anti shape, Kneser-Ney smoothing stats, and MMR (the
    # integer-greedy applyInPandas over relational shortlist+sims)
    "q_sim_binary_topk",
    "q_waiting_suppliers",
    "q_big_orders",
    "q_text_surprisal_kn",
    "q_select_mmr",
    "q_knn_classify",
    "q_stream_enrich",
    # the Q17/Q13/Q14 join shapes (correlated-avg de-correlation,
    # outer-join-condition double agg, conditional-agg ratio) and the
    # two-phase phi-heavy-hitter scan
    "q_small_qty_revenue",
    "q_cust_order_dist",
    "q_promo_revenue",
    "q_heavy_hitters",
    "q_banded_revenue",
    "q_idle_rich_customers",
    # the Q8/Q9/Q4 shapes (double-role nation share, infix-LIKE profit
    # grid, correlated-EXISTS check), fixed-point PageRank (3 Pregel
    # rounds), soft dedup (cluster census + weight join on the CC
    # machinery), and the replicate-and-salt skew join
    "q_market_share",
    "q_product_profit",
    "q_order_priority_check",
    "q_graph_pagerank",
    "q_dedup_soft",
    "q_join_skew_salted",
    # three global ntile windows, k narrow corpus passes, the PCA
    # covariance self-join to the 2080-cell grid, rendezvous sharding,
    # token entropy, and the Zipf diagnostic
    "q_rfm_segments",
    "q_sim_seed_farthest",
    "q_embed_pca_cov",
    "q_shard_rendezvous",
    "q_text_entropy",
    "q_text_zipf",
    # event analytics: the robust MAD screen, the Markov transition
    # grid, the DAU/WAU stickiness report, degree census, p-chart
    # monitor, and LTV grid
    "q_anomaly_mad",
    "q_events_markov",
    "q_active_users",
    "q_graph_degree_stats",
    "q_error_rate_control",
    "q_cohort_ltv",
    # TF-IDF is the corpus-heaviest text op (explode + two aggs + join
    # + per-doc top-k); the funnel and sessionizer exercise the
    # stacked-window-one-exchange shape
    "q_text_tfidf",
    "q_event_funnel",
    "q_sessionize",
    # the CDC merge-apply round trip (two key joins over the snapshot
    # pair), the image perceptual near-dup (codec + band blocking +
    # verify), and the embedding recall audit (the exact
    # triangle-blocked cosine truth is the heavy stage)
    "q_cdc_apply",
    "q_dedup_image_phash",
    "q_dedup_embed_recall",
    # the AS OF read, the PII pass (pure string scan), the dup-3gram
    # screen (position-explode cost class), and the incremental
    # image-probe form
    "q_time_travel",
    "q_pii_scrub",
    "q_text_dup_ngram_fraction",
    "q_dedup_image_phash_incremental",
    # the KMV cardinality sketch and the dataset card (composes
    # dedup-apply + PII + KMV + Gopher per source)
    "q_distinct_kmv",
    "q_dataset_card",
    # the EWMA chart (grid-pandas sequential scan), the mixture
    # interleave order (global training-order materialization), the
    # triangle census (composed pair graph), and the stratified split
    # (per-stratum window)
    "q_error_rate_ewma",
    "q_interleave_order",
    "q_graph_triangles",
    "q_split_stratified",
    # image dedup shipped end-to-end (pairs -> CC -> keeper)
    "q_dedup_image_apply",
    # NSW graph-index ANN (build + beam), the sampled-truth embedding
    # recall audit (the linear-cost 100 TB face of the O(n^2) full
    # audit), the mergeable bottom-k quantile sketch, the dHash
    # gradient image method, the unigram-LM EM round, the NN-descent
    # refinement round, and the two-layer HNSW hierarchy
    "q_sim_nsw_topk",
    "q_dedup_embed_recall_sampled",
    "q_quantile_sketch",
    "q_dedup_image_dhash",
    "q_unigram_em",
    "q_sim_nsw_descent",
    "q_sim_hnsw_topk",
    # the ANN serving split — q_sim_hnsw_topk prices BUILD (both layer
    # graphs per run); q_sim_hnsw_search prices SERVING (beam probes
    # over the persisted store: the warm-up sweep publishes the store
    # once, the timed repeats never rebuild); q_sim_nsw_insert prices
    # the per-batch incremental fold between them
    "q_sim_hnsw_search",
    "q_sim_nsw_insert",
    # the audio fingerprint near-dup pairs (third modality), the
    # two-sample KS drift decision, the unigram prune+encode trainer
    # rounds, the Count-Min sketch, and filtered-ANN search + its
    # pre/post recall audit
    "q_dedup_audio_fp",
    "q_drift_ks",
    "q_unigram_prune",
    "q_unigram_encode",
    "q_freq_cm",
    "q_freq_cm_width",
    "q_sim_filtered_topk",
    "q_ann_filtered_recall",
    "q_drift_embed",
    # the ANN delete lifecycle (batch compaction, its rebuild-
    # equivalence audit, the store-served two-layer form), filtered
    # search over the persisted graph, the compressed serving split vs
    # the build-per-run rerank, the multivariate drift projection gate,
    # and the video frame-fp near-dup family (fourth modality)
    "q_sim_nsw_delete",
    "q_ann_delete_recall",
    "q_sim_hnsw_delete",
    "q_sim_hnsw_filtered",
    "q_sim_ivfpq_serve",
    "q_drift_projection",
    "q_dedup_video_fp",
    "q_dedup_video_fp_recall",
    # the masked post-delete compressed serve next to its offline-
    # rewrite twin (the pair prices the deferred-mask cost and what
    # compaction buys back); dedup->unindex on both index families
    # plus its keeper-recall audit; MaxSim late interaction; radius
    # search on both families; and the drift-triggered index refresh
    "q_sim_ivfpq_delete",
    "q_sim_ivfpq_rewrite",
    "q_dedup_unindex",
    "q_dedup_unindex_pq",
    "q_dedup_unindex_recall",
    "q_sim_maxsim_topk",
    "q_sim_maxsim_recall",
    "q_sim_radius",
    "q_sim_pq_radius",
    "q_sim_hnsw_radius",
    "q_sim_radius_recall",
    "q_ann_drift_refresh",
    # the compressed drift refresh, the PLAID centroid prune,
    # drift->refresh->SERVE on both persisted families, the MaxSim
    # store-served pair (vs their build-per-run twins above), the
    # high-density masked/rewritten pair the rewrite trigger prices
    # (vs the ~zero delta of the 1/8-density pair above), and the
    # trigger row itself
    "q_pq_drift_refresh",
    "q_sim_maxsim_plaid",
    "q_pq_refresh_serve",
    "q_ann_refresh_serve",
    "q_sim_maxsim_search",
    "q_sim_maxsim_plaid_search",
    "q_sim_ivfpq_delete_hd",
    "q_sim_ivfpq_rewrite_hd",
    "q_pq_rewrite_trigger",
]


def _run_pipeline_experiment(spark, repeats: int, csv_path: str) -> None:
    """The reference's Experiment.execute() on our Pipeline:
    benchmark.Experiment runs N repeats of up to max_retries attempts,
    appending one CSV row per attempt as it goes."""
    from flink_pipeline_spark.benchmark import Experiment, ExperimentConf
    from flink_pipeline_spark.pipeline import Pipeline, PipelineConf
    from flink_pipeline_spark.sources.fixtures import fixture_df

    pairs = fixture_df(spark, "read_pairs")

    def workload() -> dict:
        out = tempfile.mkdtemp(prefix="bench_pipe_")
        shutil.rmtree(out)  # Pipeline requires a fresh output dir
        try:
            res = Pipeline(spark, PipelineConf(output_dir=out)).run(pairs)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return {
            "bcl_secs": round(res.convert_secs, 3),
            "align_secs": round(res.align_secs, 3),
        }

    conf = ExperimentConf(results_csv=csv_path, num_repeats=repeats)
    if not Experiment(conf).execute(workload):
        raise RuntimeError(
            f"a pipeline repeat failed {conf.max_retries} times"
        )


def _wipe_persisted_stores() -> None:
    """Remove the persisted index-store roots BEFORE any query runs
    (VERDICT r14 "what's wrong" #1): the serve-form queries
    (q_sim_ivfpq_serve, q_pq_refresh_serve, the store-form HNSW/maxsim
    rows, ...) build their index on first use and atomically publish it
    under a content-keyed path, so state surviving OUTSIDE one bench
    invocation would flatter every later run — cross-run precomputation,
    not optimization. Wiping here makes each bench invocation pay the
    first build itself (inside the untimed warm-up sweep, exactly where
    a declared warm-store serving row belongs: the timed rows measure
    the serve path, and a bench run on a clean machine and a re-run now
    produce the same timings by construction)."""
    from flink_pipeline_spark.plans.llm_ops import HNSW_INDEX_CACHE
    from flink_pipeline_spark.plans.maxsim import MAXSIM_INDEX_CACHE
    from flink_pipeline_spark.plans.pq_serve import PQ_INDEX_CACHE

    for root in (HNSW_INDEX_CACHE, PQ_INDEX_CACHE, MAXSIM_INDEX_CACHE):
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5"))
    csv_path = os.environ.get(
        "SPARK_GRAFT_BENCH_CSV",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_results.csv"),
    )

    from flink_pipeline_spark.plans import query_fns
    from flink_pipeline_spark.session import EngineConf, get_session

    _wipe_persisted_stores()

    # Round-3 finding (the r2 regression note): 8 post-shuffle
    # partitions under-parallelize the post-shuffle stages on local[32]
    # at sf0.1 — q_window_rank 0.39 -> 0.34 and q_join_inner 0.77 ->
    # 0.47 (med of 3, warm) when widened to 32. One partition per core
    # is the right default here; at real scale set
    # SPARK_GRAFT_SHUFFLE_PARTITIONS ~ 2-3x total cores.
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus)))
    spark = get_session(
        EngineConf(
            app_name="flink_pipeline_spark_bench",
            master=f"local[{cpus}]",
            shuffle_partitions=shuffle,
        )
    )

    fns = query_fns()

    def sweep(record: dict[str, list[float]] | None) -> None:
        for name in HEADLINE:
            t0 = time.time()
            fns[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            if record is not None:
                record[name].append(time.time() - t0)
        # a few queries persist() intermediates (shingle sets); each
        # re-invocation builds a fresh plan, so drop the previous
        # sweep's cached copies instead of accumulating them
        spark.catalog.clearCache()

    sweep(None)  # warm-up: JVM codegen, file listing, worker spawn
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(repeats):
        sweep(samples)
    timings = {n: round(statistics.median(v), 3) for n, v in samples.items()}
    best = {n: round(min(v), 3) for n, v in samples.items()}

    _run_pipeline_experiment(spark, repeats, csv_path)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The driver records only a bounded TAIL of stdout (BENCH_r05's
    # "parsed": null was this line outgrowing it), so stdout gets the
    # COMPACT contract line — medians only — and everything else
    # (min-of-N, notes, raw samples) goes to the bench_full.json
    # sidecar next to this script.
    full = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        # min-of-N alongside the median: this VM's CPU delivery
        # swings 2-5x, so the min is the plan's capability and
        # the median the expected wall time; round-1 reported
        # best-of-2, comparable to queries_min.
        "queries_min": best,
        "value_min": round(sum(best.values()), 3),
        "protocol": f"warmup+median_of_{repeats}",
        "notes": (
            "noise calibration (r3 vs r4, byte-identical code): "
            "single-run per-query deltas swing -29%..+22%, so "
            "treat +/-25% as this sandbox's noise band — only "
            "median-of-5-vs-median-of-5 deltas larger than that "
            "are real. r6: q_dedup_simhash_pairs now names the 56-bit "
            "config (r5's _wide series) and the former 16-bit holder "
            "is benched as _calib; q_dedup_embed_ivf runs with the "
            "max_cell=32 sub-split active. Earlier finding stands: "
            "shuffle_partitions = one per core at sf0.1"
        ),
        "samples": {n: [round(x, 3) for x in v] for n, v in samples.items()},
        "sf": sf_val,
    }
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json"),
        "w",
    ) as f:
        json.dump(full, f, indent=1)
    # r8 (VERDICT r7 #8): surface min-of-N in the driver-recorded line
    # so sub-second jitter stops reading as round-over-round
    # regression. The driver's stdout tail is bounded (~2000 chars —
    # the r05 outgrow), so: compact separators (no spaces), and the
    # minima ride as a FLOAT ARRAY in the same iteration order as
    # "queries" (a second full name->min dict would not fit).
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": full["value"],
                "unit": "sec",
                "queries": timings,
                "value_min": full["value_min"],
                "queries_min_ordered": [best[n] for n in timings],
                "protocol": full["protocol"],
                "sf": sf_val,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
