"""Round-11 operator tests: the persisted ANN index serving form —
incremental insert (nsw_insert pinned by Python re-implementation),
the ANNIndexMonitor store (stream==batch for the TENTH deployment
form, crash-replay idempotence, loud-fail guards), and the serving
query's build-once/search-only contract."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from flink_pipeline_spark.catalog import load_table
from flink_pipeline_spark.operators.llm import (
    hnsw_search,
    nsw_graph,
    nsw_insert,
)
from flink_pipeline_spark.plans.llm_ops import (
    EMBED_MULTI_MAX_CELL,
    EMBED_PAIR_NPROBE,
    HNSW_L1_MOD,
    IVF_SEED_CENTROIDS,
    NSW_ARRIVAL_MOD,
    NSW_ARRIVAL_REM,
    NSW_BEAM,
    NSW_DEG,
    NSW_HOPS,
    PQ_QUERY_MAX,
)
from flink_pipeline_spark.streaming.ann_index import ANNIndexMonitor

SMALL_SF = "/root/testdata/sf0.001"


def _seq_dot(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s += float(x) * float(y)
    return s


def _dist_q(a, b):
    return int(
        math.floor(
            ((_seq_dot(a, a) - 2 * _seq_dot(a, b)) + _seq_dot(b, b)) * 10000
            + 0.5
        )
    )


def _split(spark):
    from flink_pipeline_spark.functions.portable import hash56

    emb = load_table(spark, SMALL_SF, "embeddings")
    is_arr = hash56(F.col("vec_id")) % NSW_ARRIVAL_MOD == NSW_ARRIVAL_REM
    base = emb.filter(~is_arr).select("vec_id", "embedding")
    arrivals = emb.filter(is_arr).select("vec_id", "embedding")
    return emb, base, arrivals


def _base_adj(spark, base, emb):
    return nsw_graph(
        base,
        emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS),
        deg=NSW_DEG,
        max_cell=EMBED_MULTI_MAX_CELL,
        nprobe=EMBED_PAIR_NPROBE,
        keep_dist=True,
    ).localCheckpoint(eager=True)


def _py_insert(vecs, adj_scored, arrival_ids, deg, beam, hops):
    """Plain-Python nsw_insert: per-arrival monotone beam from the
    indexed corpus' min vec_id, top-deg links, reverse edges, global
    2*deg re-prune — the operator's exact selection rules."""
    out = {}
    for s, d, q in adj_scored:
        out.setdefault(s, []).append(d)
    idx_ids = sorted({v for v in vecs} - set(arrival_ids))
    entry = min(idx_ids)
    links = []
    for a in sorted(arrival_ids):
        cur = {entry: _dist_q(vecs[a], vecs[entry])}
        beam_set = sorted(cur.items(), key=lambda kv: (kv[1], kv[0]))[:beam]
        for _ in range(hops):
            cand = {n for n, _ in beam_set}
            for n, _ in beam_set:
                cand.update(out.get(n, ()))
            scored = sorted(
                ((_dist_q(vecs[a], vecs[n]), n) for n in cand),
                key=lambda t: (t[0], t[1]),
            )[:beam]
            beam_set = [(n, dq) for dq, n in scored]
        for n, dq in beam_set[:deg]:
            links.append((a, n, dq))
    merged = list(adj_scored)
    for a, n, dq in links:
        merged.append((a, n, dq))
        merged.append((n, a, dq))
    final = {}
    for s, d, dq in sorted(merged, key=lambda t: (t[0], t[2], t[1])):
        final.setdefault(s, [])
        if len(final[s]) < 2 * deg:
            final[s].append((s, d, dq))
    return sorted(e for lst in final.values() for e in lst)


def test_nsw_insert_matches_python_reimplementation(spark):
    """The updated scored adjacency replays in plain Python — the
    q_sim_nsw_descent test discipline applied to the insert fold."""
    emb, base, arrivals = _split(spark)
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    arr_ids = [r.vec_id for r in arrivals.collect()]
    assert arr_ids, "arrival split is empty — fixture hash drifted"
    adj0 = _base_adj(spark, base, emb)
    adj0_rows = [(r.src, r.dst, r.dist_q) for r in adj0.collect()]
    expect = _py_insert(
        vecs, adj0_rows, arr_ids, NSW_DEG, NSW_BEAM, NSW_HOPS
    )
    got = sorted(
        (r.src, r.dst, r.dist_q)
        for r in nsw_insert(
            base, adj0, arrivals, deg=NSW_DEG
        ).collect()
    )
    assert got == expect
    # insert invariants: every arrival is linked, degree bound holds
    srcs = {s for s, _, _ in got}
    assert set(arr_ids) <= srcs
    deg = {}
    for s, _, _ in got:
        deg[s] = deg.get(s, 0) + 1
    assert max(deg.values()) <= 2 * NSW_DEG


def _mon(tmp_path, name="store"):
    return ANNIndexMonitor(str(tmp_path / name))


def _adj_rows(mon, spark, after):
    return sorted(
        (r.layer, r.src, r.dst, r.dist_q)
        for r in mon.adjacency(spark, after).collect()
    )


def _search_rows(mon, spark, queries, after):
    return sorted(
        (r.query_id, r.neighbor_id, r.rank, r.dist_q)
        for r in mon.search(spark, queries, after).collect()
    )


def test_ann_index_stream_equals_batch(spark, tmp_path):
    """Feeding the arrival slice through the foreachBatch insert sink
    in three micro-batches (split by vec_id mod 3) yields the same
    final adjacency — layer by layer — and the same served search
    results as folding nsw_insert over the same three groups in batch
    order: stream==batch for the tenth deployment form."""
    emb, base, arrivals = _split(spark)
    seeds = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    queries = emb.filter(F.col("vec_id") < PQ_QUERY_MAX)

    mon = _mon(tmp_path)
    mon.init(base, seeds)
    for i in range(3):
        mon(arrivals.filter(F.col("vec_id") % 3 == i), i)

    # batch twin: the same operator folds, applied sequentially
    from flink_pipeline_spark.functions.portable import hash56

    def l1(df):
        return df.filter(hash56(F.col("vec_id")) % HNSW_L1_MOD == 0)

    kw = dict(deg=NSW_DEG)
    gkw = dict(
        deg=NSW_DEG,
        max_cell=EMBED_MULTI_MAX_CELL,
        nprobe=EMBED_PAIR_NPROBE,
        keep_dist=True,
    )
    a0 = nsw_graph(base, seeds, **gkw).localCheckpoint(eager=True)
    a1 = nsw_graph(l1(base), seeds, **gkw).localCheckpoint(eager=True)
    idx = base
    for i in range(3):
        grp = arrivals.filter(F.col("vec_id") % 3 == i)
        a0 = nsw_insert(idx, a0, grp, **kw).localCheckpoint(eager=True)
        a1 = nsw_insert(
            l1(idx), a1, l1(grp), **kw
        ).localCheckpoint(eager=True)
        idx = idx.unionByName(grp).localCheckpoint(eager=True)

    want_adj = sorted(
        [(0, r.src, r.dst, r.dist_q) for r in a0.collect()]
        + [(1, r.src, r.dst, r.dist_q) for r in a1.collect()]
    )
    assert _adj_rows(mon, spark, 2) == want_adj and want_adj

    want_search = sorted(
        (r.query_id, r.neighbor_id, r.rank, r.dist_q)
        for r in hnsw_search(
            idx,
            queries,
            a0.select("src", "dst"),
            a1.select("src", "dst"),
            k=3,
            beam=NSW_BEAM,
        ).collect()
    )
    got_search = _search_rows(mon, spark, queries, 2)
    assert got_search == want_search and got_search


def test_ann_index_crash_replay_idempotent(spark, tmp_path):
    """A replayed micro-batch re-reads strictly-before state and
    re-derives the identical adjacency snapshot and vector log
    instead of double-linking."""
    emb, base, arrivals = _split(spark)
    seeds = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    queries = emb.filter(F.col("vec_id") < PQ_QUERY_MAX)
    mon = _mon(tmp_path)
    mon.init(base, seeds)
    mon(arrivals.filter(F.col("vec_id") % 2 == 0), 0)
    mon(arrivals.filter(F.col("vec_id") % 2 == 1), 1)
    adj_after = _adj_rows(mon, spark, 1)
    search_after = _search_rows(mon, spark, queries, 1)
    mon(arrivals.filter(F.col("vec_id") % 2 == 1), 1)  # crash replay
    assert _adj_rows(mon, spark, 1) == adj_after
    assert _search_rows(mon, spark, queries, 1) == search_after


def test_ann_index_guards(spark, tmp_path):
    """Uninitialized store raises on insert AND search; reading
    pruned adjacency history raises; the vector log is never pruned."""
    emb, base, arrivals = _split(spark)
    seeds = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    mon = _mon(tmp_path)
    with pytest.raises(ValueError, match="init"):
        mon(arrivals, 0)
    with pytest.raises(ValueError, match="init"):
        mon.search(spark, emb.limit(1), -1)
    mon.init(base, seeds)
    empty = arrivals.filter(F.col("vec_id") < 0)
    mon(empty, 0)
    mon(empty, 1)
    mon(empty, 2)
    # batch_id=-1 and 0 adjacency snapshots are pruned now
    with pytest.raises(ValueError, match="no adjacency snapshot"):
        mon.adjacency(spark, -1)
    # the vector log keeps every partition (it IS the index's storage)
    from flink_pipeline_spark.streaming.heavy import partition_ids

    assert sorted(partition_ids(spark, mon._path("vecs"))) == [-1, 0, 1, 2]


def test_hnsw_store_serves_without_rebuilding(spark):
    """Second call of the serving query must READ the published
    store, not rebuild it: the store's adjacency file mtimes are
    unchanged across calls, and the served rows equal the
    build-per-run audit query's."""
    from flink_pipeline_spark.plans.llm_ops import (
        hnsw_store_for,
        q_sim_hnsw_search,
        q_sim_hnsw_topk,
    )

    first = sorted(
        map(tuple, q_sim_hnsw_search(spark, SMALL_SF).collect())
    )
    store = hnsw_store_for(spark, SMALL_SF).store_dir
    stamp = {
        p: os.path.getmtime(os.path.join(r, p))
        for r, _, fs in os.walk(os.path.join(store, "adj"))
        for p in fs
    }
    second = sorted(
        map(tuple, q_sim_hnsw_search(spark, SMALL_SF).collect())
    )
    stamp2 = {
        p: os.path.getmtime(os.path.join(r, p))
        for r, _, fs in os.walk(os.path.join(store, "adj"))
        for p in fs
    }
    assert stamp == stamp2, "serving query rebuilt a published store"
    want = sorted(map(tuple, q_sim_hnsw_topk(spark, SMALL_SF).collect()))
    assert first == second == want and first


# ---------------------------------------------------------------------------
# Audio fingerprint near-dup family (q_dedup_audio_fp)
# ---------------------------------------------------------------------------


def test_audio_fp_bands_matches_python_reimplementation(spark):
    """Recompute every fixture's energy-gradient fingerprint from raw
    WAV bytes in plain Python/numpy (struct parse, |sample| window
    sums, wraparound gradient bits, 16-bit band packing) and pin the
    operator's band keys exactly — the dHash test discipline applied
    to the audio modality."""
    import glob
    import struct

    import numpy as np

    from flink_pipeline_spark.operators.multimodal import audio_fp_bands
    from flink_pipeline_spark.plans.audio_dedup import AFP_DIR
    from flink_pipeline_spark.sources.fixtures import fixture_files

    got = {
        (r.file, r.blk): r.key
        for r in audio_fp_bands(
            fixture_files(spark, AFP_DIR, "*.wav")
        ).collect()
    }
    expect = {}
    paths = sorted(glob.glob(os.path.join(AFP_DIR, "*.wav")))
    assert paths, "audio_fp fixture corpus missing"
    for path in paths:
        b = open(path, "rb").read()
        assert b[:4] == b"RIFF" and b[36:40] == b"data"
        assert struct.unpack("<HH", b[20:24]) == (1, 1)  # PCM, mono
        s = np.frombuffer(b, dtype="<i2", offset=44).astype(np.int64)
        e = np.abs(s).reshape(64, -1).sum(axis=1)
        bits = (e > np.roll(e, -1)).astype(np.int64)
        for blk in range(4):
            seg = bits[blk * 16 : (blk + 1) * 16]
            expect[(os.path.basename(path), blk)] = int(
                (seg * (1 << np.arange(16))).sum()
            )
    assert got == expect


def test_audio_fp_fixture_story_pinned(spark):
    """The engineered corpus' readings stay exactly the story the
    docstrings tell: gain pair at hamming 0, small noise at 2 (plus
    its transitive gain companion), moderate noise absent (flips 5),
    and the recall row reads (n_truth=2, n_method=3, hits=1,
    recall=0.5, prec=0.3333)."""
    from flink_pipeline_spark.plans import query_fns

    qs = query_fns()
    pairs = {
        (r.file_a, r.file_b): r.hamming
        for r in qs["q_dedup_audio_fp"](spark, SMALL_SF).collect()
    }
    assert pairs == {
        ("afp_a.wav", "afp_a_gain.wav"): 0,
        ("afp_a.wav", "afp_a_noise.wav"): 2,
        ("afp_a_gain.wav", "afp_a_noise.wav"): 2,
    }
    row = qs["q_dedup_audio_fp_recall"](spark, SMALL_SF).collect()[0]
    assert (
        row.method,
        row.n_truth,
        row.n_method,
        row.hits,
        row.recall,
        row.prec,
    ) == ("afp", 2, 3, 1, 0.5, 0.3333)


# ---------------------------------------------------------------------------
# Unigram-LM prune round (q_unigram_prune)
# ---------------------------------------------------------------------------


def test_unigram_prune_matches_bruteforce_python(spark):
    """Full prune-round recomputation in plain Python — seed vocab
    from scratch, EXHAUSTIVE segmentation enumeration for the full
    scores AND every loss-if-removed probe, likelihood-loss prune,
    round-2 E+M — pinned row-for-row against the registered query
    (the q_unigram_em test discipline extended to the iterate). Also
    pins the prune's point: at least one seed piece with nonzero
    corpus frequency is dropped for carrying zero likelihood loss."""
    import math
    from collections import Counter

    from flink_pipeline_spark.plans import query_fns
    from flink_pipeline_spark.plans.llm_ops import (
        UNIGRAM_KEEP,
        UNIGRAM_MAX_PIECE,
        UNIGRAM_SCALE,
        UNIGRAM_SEED_MULTI,
        UNIGRAM_TOP,
    )

    docs = load_table(spark, SMALL_SF, "documents").select("text").collect()
    wf = Counter()
    for r in docs:
        for w in r.text.split(" "):
            if w:
                wf[w] += 1
    sub = Counter()
    for w, f in wf.items():
        for i in range(len(w)):
            for ln in range(1, min(UNIGRAM_MAX_PIECE, len(w) - i) + 1):
                sub[w[i : i + ln]] += f
    chars = {p: c for p, c in sub.items() if len(p) == 1}
    multi = dict(
        sorted(
            ((p, c) for p, c in sub.items() if len(p) >= 2),
            key=lambda x: (-x[1], x[0]),
        )[:UNIGRAM_SEED_MULTI]
    )

    def scores(vocab):
        total = sum(vocab.values())
        return {
            p: int(math.floor(math.log(c / total) * UNIGRAM_SCALE + 0.5))
            for p, c in vocab.items()
        }

    def all_segs(w, score):
        if not w:
            yield 0, []
            return
        for ln in range(1, min(UNIGRAM_MAX_PIECE, len(w)) + 1):
            p = w[:ln]
            if p in score:
                for s, rest in all_segs(w[ln:], score):
                    yield score[p] + s, [p] + rest

    score1 = scores({**chars, **multi})
    s_full = {w: max(s for s, _ in all_segs(w, score1)) for w in wf}
    loss = {}
    for p in multi:
        tot = 0
        for w, f in wf.items():
            s_wo = max(
                s for s, seg in all_segs(w, score1) if p not in seg
            )
            tot += f * (s_full[w] - s_wo)
        loss[p] = tot
    kept = [
        p
        for p, _ in sorted(loss.items(), key=lambda x: (-x[1], x[0]))[
            :UNIGRAM_KEEP
        ]
    ]
    # the prune's point, pinned: a frequent-but-cheap piece drops
    dropped = set(multi) - set(kept)
    assert dropped and any(loss[p] == 0 for p in dropped)

    vocab2 = {**chars, **{p: multi[p] for p in kept}}
    score2 = scores(vocab2)
    newc = Counter()
    for w, f in wf.items():
        cands = list(all_segs(w, score2))
        top = max(s for s, _ in cands)
        seg = min("\x1f".join(p) for s, p in cands if s == top)
        for p in seg.split("\x1f"):
            newc[p] += f
    expect = sorted(
        ((p, c) for p, c in newc.items()), key=lambda x: (-x[1], x[0])
    )[:UNIGRAM_TOP]
    expect = [(p, c, i + 1) for i, (p, c) in enumerate(expect)]
    got = [
        (r.piece, r.cnt, r.rank)
        for r in query_fns()["q_unigram_prune"](spark, SMALL_SF)
        .orderBy("rank")
        .collect()
    ]
    assert got == expect


def test_streaming_cm_equals_batch_sketch(spark, tmp_path):
    """Count-Min mergeability, deployed through a REAL stream: two
    document micro-batches (maxFilesPerTrigger=1) summed into the
    persisted grid equal the batch cm_cells grid over the concatenated
    corpus bit-for-bit, and the monitor's point estimates equal the
    registered q_freq_cm's cm_estimate column for the same probe set
    — cell-wise addition is an EXACT merge, so stream == batch."""
    from flink_pipeline_spark.plans.profiling import (
        CM_D,
        CM_W,
        cm_cells,
        q_freq_cm,
    )
    from flink_pipeline_spark.streaming.cm import CM_D as SD
    from flink_pipeline_spark.streaming.cm import CM_W as SW
    from flink_pipeline_spark.streaming.cm import CMMonitor
    from flink_pipeline_spark.streaming.lifecycle import start_sink

    assert (CM_D, CM_W) == (SD, SW)

    d = spark.read.parquet(SMALL_SF + "/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    src = tmp_path / "src"
    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "b1.parquet")
    )
    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b2.parquet")
    )
    schema = spark.read.parquet(str(src / "b1.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*.parquet")
    )
    mon = CMMonitor(str(tmp_path / "store"))
    q = start_sink(stream, mon)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    streamed_grid = sorted(
        (r.d, r.bucket, r.cnt)
        for r in mon._read_latest(spark, 2).collect()
    )
    batch_grid = sorted(
        (r.d, r.bucket, r.cnt)
        for r in cm_cells(d)
        .groupBy("d", "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
        .collect()
    )
    assert streamed_grid == batch_grid

    batch_dir = tmp_path / "sf"
    d.write.parquet(str(batch_dir / "documents.parquet"))
    batch = {
        r.tok: r.cm_estimate
        for r in q_freq_cm(spark, str(batch_dir)).collect()
    }
    probe = spark.createDataFrame(
        [(t,) for t in sorted(batch)], "tok STRING"
    )
    streamed = {
        r.tok: r.cm_estimate
        for r in mon.estimates(spark, 1, probe).collect()
    }
    assert streamed == batch


def test_streaming_cm_replay_idempotent(spark, tmp_path):
    """Crash-replay of the newest batch reproduces the same grid —
    batch_id=N overwrite partitions make the sum idempotent."""
    from flink_pipeline_spark.streaming.cm import CMMonitor

    d = spark.read.parquet(SMALL_SF + "/documents.parquet")
    b1 = d.filter(F.col("doc_id") % 3 == 0)
    b2 = d.filter(F.col("doc_id") % 3 == 1)
    probe = spark.createDataFrame([("row",), ("scan",)], "tok STRING")
    mon = CMMonitor(str(tmp_path / "store"))
    mon(b1, 0)
    mon(b2, 1)
    first = sorted(
        (r.tok, r.cm_estimate)
        for r in mon.estimates(spark, 1, probe).collect()
    )
    mon(b2, 1)  # crash-replay
    second = sorted(
        (r.tok, r.cm_estimate)
        for r in mon.estimates(spark, 1, probe).collect()
    )
    assert first == second


def test_streaming_cm_batch0_replay(spark, tmp_path):
    """A batch 0 that wrote its partition and crashed before its commit
    is replayed by Structured Streaming: the replay re-derives the same
    grid instead of refusing the store as reused."""
    from flink_pipeline_spark.streaming.cm import CMMonitor

    d = spark.read.parquet(SMALL_SF + "/documents.parquet")
    b = d.filter(F.col("doc_id") % 3 == 0)
    mon = CMMonitor(str(tmp_path / "store"))

    def grid():
        return sorted(tuple(r) for r in mon._read_latest(spark, 1).collect())

    mon(b, 0)
    first = grid()
    mon(b, 0)  # crash-replay of batch 0
    assert first and grid() == first


def test_streaming_cm_store_reuse_raises(spark, tmp_path):
    """A new stream pointed at a populated store loud-fails at batch 0
    instead of silently double-counting (the heavy.py contract)."""
    from flink_pipeline_spark.streaming.cm import CMMonitor

    d = spark.read.parquet(SMALL_SF + "/documents.parquet")
    mon = CMMonitor(str(tmp_path / "store"))
    mon(d.limit(5), 0)
    mon(d.limit(5), 1)
    with pytest.raises(ValueError, match="already populated"):
        mon(d.limit(5), 0)


def test_filtered_ann_pre_beats_post_and_pushes_filter(spark):
    """The filtered-ANN audit's story, pinned: the exact control row
    is perfect, in-index pre-filtering dominates search-then-discard
    post-filtering on recall (the ~10%-selective label eats most of
    post's k slots), the graph strategy (r12: visited-set ranking
    over the persisted HNSW store) returns a FULL result list where
    post collapses, and the label predicate reaches the parquet scan
    (PushedFilters) — the filter prunes BEFORE scoring."""
    from flink_pipeline_spark.plans.ann_filtered import (
        q_ann_filtered_recall,
    )
    from flink_pipeline_spark.plans.llm_ops import (
        FILT_LABEL,
        q_sim_filtered_topk,
    )

    rows = {
        r.method: r for r in q_ann_filtered_recall(spark, SMALL_SF).collect()
    }
    assert set(rows) == {"exact", "pre", "post", "graph"}
    assert rows["exact"].recall == 1.0 and rows["exact"].prec == 1.0
    assert rows["pre"].recall > rows["post"].recall
    assert rows["post"].n_method < rows["pre"].n_method
    # the graph strategy never starves: it fills every k slot with a
    # verified match (post cannot — non-matching results ate its list)
    assert rows["graph"].n_method == rows["pre"].n_method
    assert rows["graph"].recall >= rows["post"].recall

    plan = (
        q_sim_filtered_topk(spark, SMALL_SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert f"EqualTo(label,{FILT_LABEL})" in plan


def test_unigram_encode_coverage_and_fertility_bounds(spark):
    """The encoder's segmentations must CONCATENATE back to their
    words (the char-seeded vocab's coverage guarantee — no word is
    unsegmentable after the prune), and the per-source fertility obeys
    the hard bounds n_words <= n_tokens <= n_chars (every word is at
    least one piece, every piece at least one char)."""
    from flink_pipeline_spark.plans.llm_ops import (
        _unigram_pruned_seg,
        q_unigram_encode,
    )

    segs = _unigram_pruned_seg(spark, SMALL_SF).collect()
    assert segs
    assert all(r.seg.replace("\x1f", "") == r.word for r in segs)

    for r in q_unigram_encode(spark, SMALL_SF).collect():
        assert r.n_words <= r.n_tokens <= r.n_chars
        assert r.compression > 1.0


def test_drift_ks_matches_bruteforce_python(spark):
    """From-scratch Python recomputation of the KS decision row: raw
    events -> per-type ref/cur bucket counts -> exact cross-multiplied
    ECDF numerator -> quantized D and Smirnov threshold -> integer
    drifted flag. Pins the grid math independently of both engines
    (the CUSUM/EWMA brute-force convention)."""
    import math as m

    from flink_pipeline_spark.plans.profiling import (
        KS_C_ALPHA,
        PSI_BUCKET_WIDTH,
        q_drift_ks,
    )

    rows = spark.read.parquet(SMALL_SF + "/events.parquet").select(
        "event_type", "user_id", "value"
    ).collect()
    per: dict = {}
    for r in rows:
        b = m.floor(float(r.value) / PSI_BUCKET_WIDTH)
        is_ref = int(r.user_id) % 2 == 0
        per.setdefault(r.event_type, {}).setdefault(b, [0, 0])[
            0 if is_ref else 1
        ] += 1
    expect = {}
    for et, buckets in per.items():
        nr = sum(v[0] for v in buckets.values())
        nc = sum(v[1] for v in buckets.values())
        cr = cc = 0
        d_num = 0
        for b in sorted(buckets):
            cr += buckets[b][0]
            cc += buckets[b][1]
            d_num = max(d_num, abs(cr * nc - cc * nr))
        d_q = m.floor(d_num / (nr * nc) * 100000000 + 0.5)
        t_q = m.floor(
            KS_C_ALPHA * m.sqrt((nr + nc) / (nr * nc)) * 100000000 + 0.5
        )
        expect[et] = (nr, nc, d_q, t_q, d_q > t_q)

    got = {
        r.event_type: (r.n_ref, r.n_cur, r.d_q, r.thresh_q, r.drifted)
        for r in q_drift_ks(spark, SMALL_SF).collect()
    }
    assert got == expect


def test_drift_embed_matches_bruteforce_python(spark):
    """From-scratch Python recomputation of the per-dimension
    two-sample t screen: quantized elements -> exact integer moments
    -> pooled-variance t -> quantized thresholds. Also pins the
    multiple-testing story: the Bonferroni gate never flags more than
    the raw gate, and raw false alarms stay in the expected ~5% band."""
    import math as m

    from flink_pipeline_spark.plans.profiling import (
        EDRIFT_BONF_Q,
        EDRIFT_Q,
        EDRIFT_RAW_Q,
        q_drift_embed,
    )

    rows = spark.read.parquet(SMALL_SF + "/embeddings.parquet").select(
        "vec_id", "embedding"
    ).collect()
    mom: dict = {}
    for r in rows:
        ref = int(r.vec_id) % 2 == 0
        for pos, x in enumerate(r.embedding):
            xq = m.floor(float(x) * 10000 + 0.5)
            st = mom.setdefault(pos, [0, 0, 0, 0, 0, 0])
            if ref:
                st[0] += 1
                st[2] += xq
                st[4] += xq * xq
            else:
                st[1] += 1
                st[3] += xq
                st[5] += xq * xq
    expect = {}
    for pos, (nr, nc, sr, sc, ssr, ssc) in mom.items():
        pooled = (ssr - sr * sr / nr) + (ssc - sc * sc / nc)
        if pooled <= 0:
            tq = None
        else:
            t = abs(sr / nr - sc / nc) / m.sqrt(
                pooled / (nr + nc - 2) * (1.0 / nr + 1.0 / nc)
            )
            tq = m.floor(t * EDRIFT_Q + 0.5)
        expect[pos] = (
            nr,
            nc,
            tq,
            bool(tq is not None and tq > EDRIFT_RAW_Q),
            bool(tq is not None and tq > EDRIFT_BONF_Q),
        )

    got = {
        r.pos: (r.n_ref, r.n_cur, r.t_q, r.drifted_raw, r.drifted_bonf)
        for r in q_drift_embed(spark, SMALL_SF).collect()
    }
    assert got == expect
    n_raw = sum(1 for v in got.values() if v[3])
    n_bonf = sum(1 for v in got.values() if v[4])
    assert n_bonf <= n_raw <= 10
