"""Round-10 operator tests: NSW graph-index ANN (build + beam
search), pinned by independent Python re-implementation of the whole
deterministic trajectory — the BPE/kmeans test discipline."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from flink_pipeline_spark.operators import llm, local
from flink_pipeline_spark.operators.llm import nsw_graph, nsw_search
from flink_pipeline_spark.plans.llm_ops import (
    EMBED_MULTI_MAX_CELL,
    EMBED_PAIR_NPROBE,
    IVF_SEED_CENTROIDS,
    NSW_BEAM,
    NSW_DEG,
    NSW_HOPS,
    PQ_QUERY_MAX,
    q_sim_nsw_topk,
)
from flink_pipeline_spark.catalog import load_table
from flink_pipeline_spark.plans import query_fns

from .conftest import answered_locally as _local

QUERIES_R10 = query_fns()

SMALL_SF = "/root/testdata/sf0.001"


def _adj(spark):
    emb = load_table(spark, SMALL_SF, "embeddings")
    return nsw_graph(
        emb,
        emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS),
        deg=NSW_DEG,
        max_cell=EMBED_MULTI_MAX_CELL,
        nprobe=EMBED_PAIR_NPROBE,
    )


def test_nsw_graph_degree_bounded_no_self_loops(spark):
    """The HNSW shrink makes the degree bound unconditional: every
    node keeps <= 2*deg out-edges (hub nodes adopted by many others
    get truncated back), no self-loops, and the graph is non-trivial
    (hubs DO exist pre-shrink, so some node must sit at the bound —
    otherwise the shrink is dead code and the test is vacuous)."""
    edges = {(r.src, r.dst) for r in _adj(spark).collect()}
    assert edges, "graph is empty"
    assert all(s != d for s, d in edges)
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    assert max(deg.values()) <= 2 * NSW_DEG
    assert max(deg.values()) == 2 * NSW_DEG


def _seq_dot(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s += float(x) * float(y)
    return s


def _dist_q(a, b):
    # mirrors SQDIST_Q_SQL's evaluation order exactly:
    # (dot(a,a) - 2*dot(a,b) + dot(b,b)), each dot a sequential fold
    return int(
        math.floor(
            ((_seq_dot(a, a) - 2 * _seq_dot(a, b)) + _seq_dot(b, b)) * 10000
            + 0.5
        )
    )


def _loop_path(monkeypatch):
    """Force nsw_beam's DataFrame loop: no corpus fits a zero gate."""
    monkeypatch.setattr(local, "LOCAL_MAX", 0)


def test_nsw_beam_trajectory_matches_python_reimplementation(spark):
    """Collect the adjacency and vectors once, then replay the ENTIRE
    beam search — entry point, every expansion round, every (dist,
    node) tie-break, the final top-3 — in plain Python and require the
    engine's output to match row-for-row (the local kernel)."""
    _nsw_replay(spark)


def test_nsw_beam_loop_trajectory_matches_python_reimplementation(
    spark, monkeypatch
):
    """The same replay over the above-gate DataFrame loop."""
    _loop_path(monkeypatch)
    _nsw_replay(spark)


def _nsw_replay(spark):
    emb = load_table(spark, SMALL_SF, "embeddings")
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    adj_df = _adj(spark).localCheckpoint(eager=True)
    nbrs = {}
    for r in adj_df.collect():
        nbrs.setdefault(r.src, []).append(r.dst)

    entry = min(vecs)
    expect = []
    for qid in sorted(v for v in vecs if v < PQ_QUERY_MAX):
        eq = vecs[qid]
        beam = {entry}
        for _ in range(NSW_HOPS):
            cand = set(beam)
            for n in beam:
                cand.update(nbrs.get(n, ()))
            scored = sorted((_dist_q(eq, vecs[n]), n) for n in cand)
            beam = {n for _, n in scored[:NSW_BEAM]}
        final = sorted(
            (_dist_q(eq, vecs[n]), n) for n in beam if n != qid
        )[:3]
        expect.extend(
            (qid, n, rank + 1, d) for rank, (d, n) in enumerate(final)
        )

    res = nsw_search(
        emb, emb.filter(F.col("vec_id") < PQ_QUERY_MAX), adj_df, k=3
    )
    assert _local(res) == (local.LOCAL_MAX > 0)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank, r.dist_q) for r in res.collect()
    )
    assert got == sorted(expect)


def test_nsw_beam_paths_agree_on_visited_sets_and_dangling_edges(
    spark, monkeypatch
):
    """Both nsw_beam executions return identical rows — the final beam
    and the keep_visited set — when some queries carry several seeds
    (one beam per query), one seed and some edges name a vec_id absent
    from the vector frame (dropped when scored, never expanded), and
    the corpus misses one graph node. A two-layer search over a corpus
    with no layer-1 vector (its layer-1 beam has no entry) returns no
    rows on either path. An empty corpus (every vector deleted) has no
    dim to ship: the loop answers it, empty."""
    emb = load_table(spark, SMALL_SF, "embeddings")
    gone = 7  # a graph node missing from the vector frame
    vecs = emb.filter(F.col("vec_id") != gone)
    ghost = 10**9  # an id no frame holds
    adj = _adj(spark).localCheckpoint(eager=True)
    adj = adj.unionByName(
        spark.createDataFrame(
            [(0, ghost), (3, ghost), (ghost, 1), (gone, 2)], "src long, dst long"
        )
    )
    queries = emb.filter(F.col("vec_id") < PQ_QUERY_MAX)
    entries = spark.createDataFrame(
        [(0, 3), (0, 40), (1, 9), (1, gone), (2, ghost), (2, 5), (3, 11)],
        "query_id long, node long",
    )

    # a corpus whose layer 1 is empty
    no_l1 = vecs.join(llm.hnsw_layer1(vecs), "vec_id", "left_anti")

    def run(**kw):
        res = llm.nsw_beam(vecs, queries, adj, **kw)
        return _local(res), sorted(tuple(r) for r in res.collect())

    def run_hnsw():
        res = llm.hnsw_search(no_l1, queries, adj, adj)
        return _local(res), sorted(tuple(r) for r in res.collect())

    cases = [
        dict(entries=entries, keep_visited=True),
        dict(entries=entries),
        dict(keep_visited=True),
        dict(beam=4),
    ]
    fast = [run(**kw) for kw in cases] + [run_hnsw()]
    none = llm.nsw_beam(vecs.limit(0), queries, adj, keep_visited=True)
    assert not none.collect()
    _loop_path(monkeypatch)
    slow = [run(**kw) for kw in cases] + [run_hnsw()]
    names = cases + ["hnsw_search"]
    for (f_in, f_rows), (s_in, s_rows), kw in zip(fast, slow, names):
        assert f_in and not s_in, kw
        assert f_rows == s_rows, kw
        assert not {r[1] for r in f_rows} & {gone, ghost}, kw
    assert all(rows for _, rows in fast[:-1]) and not fast[-1][1]
    # keep_visited is a superset of the final beam's nodes
    assert set(fast[1][1]) <= set(fast[0][1])


def test_nsw_beam_gate_bounds_matrix_bytes(spark, monkeypatch):
    """The local gate bounds the collected matrix's bytes, not only its
    rows: with the row gate at the corpus size, the 64-d corpus runs on
    the driver, while the same vectors doubled to 128-d outgrow the byte
    budget and take the loop, which returns the rows the kernel does
    under the default gate. Queries beyond the row gate take the loop
    too."""
    emb = load_table(spark, SMALL_SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < PQ_QUERY_MAX)
    adj = _adj(spark).localCheckpoint(eager=True)

    def wide(df):
        return df.withColumn("embedding", F.concat("embedding", "embedding"))

    fast = llm.nsw_beam(wide(emb), wide(queries), adj)
    assert _local(fast)
    monkeypatch.setattr(local, "LOCAL_MAX", emb.count())
    assert _local(llm.nsw_beam(emb, queries, adj))
    # more queries than the gate: the loop answers
    assert not _local(llm.nsw_beam(emb, emb.unionByName(queries), adj))
    slow = llm.nsw_beam(wide(emb), wide(queries), adj)
    assert not _local(slow)
    assert sorted(slow.collect()) == sorted(fast.collect())


def test_sampled_recall_tracks_full_audit(spark):
    """Estimator-vs-truth for the recall audit itself: the fixed-
    anchor sampled audit (linear cost, 48x-probeable) must read
    within a tight band of the full O(n^2)-truth audit, preserve the
    method ordering (multiprobe recovers boundary pairs), and keep
    the restricted exact row as a 1.0/1.0 control."""
    from flink_pipeline_spark.plans.registry import QUERIES

    from .conftest import SF_DIR

    full = {
        r.method: r
        for r in QUERIES["q_dedup_embed_recall"](spark, SF_DIR).collect()
    }
    samp = {
        r.method: r
        for r in QUERIES["q_dedup_embed_recall_sampled"](
            spark, SF_DIR
        ).collect()
    }
    assert samp["cos"].recall == 1.0 and samp["cos"].prec == 1.0
    assert 0 < samp["cos"].n_truth < full["cosine"].n_truth
    for s_m, f_m in (("ivf", "ivf"), ("mp", "ivf_multiprobe")):
        assert abs(samp[s_m].recall - full[f_m].recall) <= 0.1, (
            s_m,
            samp[s_m].recall,
            full[f_m].recall,
        )
        assert samp[s_m].prec == full[f_m].prec == 1.0
    assert samp["mp"].recall >= samp["ivf"].recall


def test_nsw_topk_shape(spark):
    """Registered query: exactly 3 ranked neighbors per query, no
    self-matches, ranks contiguous from 1."""
    rows = q_sim_nsw_topk(spark, SMALL_SF).collect()
    by_q = {}
    for r in rows:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert set(by_q) == set(range(PQ_QUERY_MAX))
    assert all(sorted(v) == [1, 2, 3] for v in by_q.values())


# ---------------------------------------------------------------------------
# Streaming CDC apply (the eighth deployment form)
# ---------------------------------------------------------------------------


def _cdc_fixture(spark):
    from flink_pipeline_spark.plans.relational import (
        _snapshot_versions,
        cdc_changes,
    )

    v1, _ = _snapshot_versions(spark, SMALL_SF)
    ch = cdc_changes(spark, SMALL_SF).withColumn("seq", F.lit(0).cast("long"))
    return v1, ch


def _table_rows(mon, spark, after):
    return sorted(
        (r.doc_id, r.source, r.text)
        for r in mon.table(spark, after).collect()
    )


def test_cdc_apply_stream_equals_batch(spark, tmp_path):
    """Feeding the batch query's exact change set through the
    foreachBatch merge sink in three micro-batches (split by doc_id
    hash) yields the same final table as the one-shot batch merge —
    stream==batch for the eighth deployment form."""
    from flink_pipeline_spark.operators.merge import merge_into
    from flink_pipeline_spark.streaming.merge import CDCApplyMonitor

    v1, ch = _cdc_fixture(spark)
    mon = CDCApplyMonitor(str(tmp_path / "store"), keys=["doc_id"])
    mon.init(v1)
    for i in range(3):
        mon(ch.filter(F.col("doc_id") % 3 == i), i)
    got = _table_rows(mon, spark, 2)
    want = sorted(
        (r.doc_id, r.source, r.text)
        for r in merge_into(v1, ch.drop("seq"), ["doc_id"]).collect()
    )
    assert got == want and got, "stream table diverged from batch merge"


def test_cdc_apply_crash_replay_idempotent(spark, tmp_path):
    """A replayed micro-batch re-reads latest-strictly-before and
    re-derives the identical snapshot instead of double-applying."""
    from flink_pipeline_spark.streaming.merge import CDCApplyMonitor

    v1, ch = _cdc_fixture(spark)
    mon = CDCApplyMonitor(str(tmp_path / "store"), keys=["doc_id"])
    mon.init(v1)
    mon(ch.filter(F.col("doc_id") % 2 == 0), 0)
    mon(ch.filter(F.col("doc_id") % 2 == 1), 1)
    after = _table_rows(mon, spark, 1)
    mon(ch.filter(F.col("doc_id") % 2 == 1), 1)  # crash replay
    assert _table_rows(mon, spark, 1) == after


def test_cdc_apply_intra_batch_compaction_and_guards(spark, tmp_path):
    """Last image per key wins within a batch (seq order); reading
    pruned history raises; an uninitialized store raises."""
    import pytest

    from flink_pipeline_spark.streaming.merge import CDCApplyMonitor

    base = spark.createDataFrame(
        [(1, "keep"), (2, "gone")], "doc_id LONG, text STRING"
    )
    ch = spark.createDataFrame(
        [
            (1, "update", "first", 1),
            (1, "update", "last", 2),
            (2, "delete", None, 1),
            (3, "insert", "new", 1),
        ],
        "doc_id LONG, op STRING, text STRING, seq LONG",
    )
    mon = CDCApplyMonitor(str(tmp_path / "store"), keys=["doc_id"])
    with pytest.raises(ValueError, match="init"):
        mon(ch, 0)
    mon.init(base)
    mon(ch, 0)
    assert _table_rows_simple(mon, spark, 0) == [(1, "last"), (3, "new")]
    # advance twice so batch_id=-1 and 0 are pruned, then read history
    empty = ch.filter(F.col("doc_id") < 0)
    mon(empty, 1)
    mon(empty, 2)
    with pytest.raises(ValueError, match="no snapshot"):
        mon.table(spark, -1)


def _table_rows_simple(mon, spark, after):
    return sorted(
        (r.doc_id, r.text) for r in mon.table(spark, after).collect()
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketch (batch + streaming twin)
# ---------------------------------------------------------------------------


def test_quantile_stream_equals_batch_sketch(spark, tmp_path):
    """Exact mergeability, deployed: three hash-split micro-batches
    through the monitor produce the bit-identical sketch — and
    therefore bit-identical quantile estimates — as the one-shot
    bottom-k over the concatenated rows (the KMV stream==batch
    discipline applied to quantiles)."""
    from flink_pipeline_spark.plans.profiling import (
        QSK_K,
        QSK_PERMILLE,
        price_tags,
    )
    from flink_pipeline_spark.streaming.quantile import (
        QSK_K as QSK_K_STREAM,
        QuantileMonitor,
    )

    assert QSK_K_STREAM == QSK_K
    li = load_table(spark, SMALL_SF, "lineitem")
    mon = QuantileMonitor(str(tmp_path / "store"))
    for i in range(3):
        mon(li.filter(F.col("l_orderkey") % 3 == i), i)
    got_sketch = sorted(
        (r.h, r.val) for r in mon.sketch(spark, 2).collect()
    )
    want_sketch = sorted(
        (r.h, r.val)
        for r in price_tags(li).orderBy("h", "val").limit(QSK_K).collect()
    )
    assert got_sketch == want_sketch and len(got_sketch) == QSK_K
    got_est = {
        r.permille: (r.k, r.est)
        for r in mon.estimates(spark, 2).collect()
    }
    batch = {
        r.permille: (r.k, r.est)
        for r in QUERIES_R10["q_quantile_sketch"](spark, SMALL_SF).collect()
    }
    assert set(got_est) == set(p for p in QSK_PERMILLE)
    assert got_est == batch and len(batch) == 3


def test_quantile_stream_crash_replay(spark, tmp_path):
    """A replayed batch reads latest-strictly-before and re-derives
    the identical sketch partition."""
    from flink_pipeline_spark.streaming.quantile import QuantileMonitor

    li = load_table(spark, SMALL_SF, "lineitem")
    mon = QuantileMonitor(str(tmp_path / "store"))
    mon(li.filter(F.col("l_orderkey") % 2 == 0), 0)
    mon(li.filter(F.col("l_orderkey") % 2 == 1), 1)
    before = sorted((r.h, r.val) for r in mon.sketch(spark, 1).collect())
    mon(li.filter(F.col("l_orderkey") % 2 == 1), 1)  # replay
    after = sorted((r.h, r.val) for r in mon.sketch(spark, 1).collect())
    assert before == after


def test_quantile_sketch_error_bounds(spark):
    """The audit columns stay honest at fixture scale: every
    registered quantile's sampled estimate lands within 10% of the
    exact order statistic (k=256 => ~1/sqrt(k) ~ 6% stderr on the
    rank; the sf0.001 draw reads 5.9% at p50 — inside one stderr)."""
    rows = QUERIES_R10["q_quantile_sketch"](spark, SMALL_SF).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.rel_err <= 0.10, (r.permille, r.rel_err)
        assert r.k <= 256 and r.n > 0


# ---------------------------------------------------------------------------
# dHash (gradient) image near-dup
# ---------------------------------------------------------------------------


def test_dhash_pairs_pin_the_engineered_corpus(spark):
    """dHash emits the brightness pair at hamming 0 (order relations
    survive a clip-free uniform shift exactly), the boundary-noise
    pair at 1 (vs aHash's 2), and RECOVERS the moderate-noise pair at
    1 — the pair aHash misses at 5 bits."""
    got = {
        (r.file_a, r.file_b): r.hamming
        for r in QUERIES_R10["q_dedup_image_dhash"](spark, SMALL_SF).collect()
    }
    assert got == {
        ("ph_a.ppm", "ph_a_bright.ppm"): 0,
        ("ph_a.ppm", "ph_a_noise.ppm"): 1,
        ("ph_a_bright.ppm", "ph_a_noise.ppm"): 1,
        ("ph_b.ppm", "ph_b_noise.ppm"): 1,
    }


def test_dhash_matches_python_reimplementation(spark):
    """Independent Python recomputation of every fixture's dHash band
    keys from raw bytes — wraparound gradient rule, band packing."""
    import re

    import numpy as np

    from flink_pipeline_spark.operators.multimodal import dhash_bands
    from flink_pipeline_spark.plans.image_dedup import PHASH_DIR
    from flink_pipeline_spark.sources.fixtures import fixture_files

    got = {
        (r.file, r.blk): r.key
        for r in dhash_bands(
            fixture_files(spark, PHASH_DIR, "*.ppm")
        ).collect()
    }
    import glob
    import os

    expect = {}
    for path in glob.glob(os.path.join(PHASH_DIR, "*.ppm")):
        b = open(path, "rb").read()
        m = re.compile(rb"^P6\n(\d+) (\d+)\n(\d+)\n").match(b)
        w, h = int(m.group(1)), int(m.group(2))
        px = np.frombuffer(b, dtype=np.uint8, offset=m.end()).astype(
            np.int64
        )
        rgb = px.reshape(h, w, 3)
        gray = rgb[:, :, 0] * 299 + rgb[:, :, 1] * 587 + rgb[:, :, 2] * 114
        cells = gray.reshape(8, h // 8, 8, w // 8).sum(axis=(1, 3))
        bits = (cells > np.roll(cells, -1, axis=1)).astype(int).ravel()
        for blk in range(4):
            seg = bits[blk * 16 : (blk + 1) * 16]
            expect[(os.path.basename(path), blk)] = int(
                (seg * (1 << np.arange(16))).sum()
            )
    assert got == expect


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer round (q_unigram_em)
# ---------------------------------------------------------------------------


def test_unigram_em_matches_bruteforce_python(spark):
    """Full-round recomputation in plain Python — seed vocab from
    scratch, EXHAUSTIVE segmentation enumeration (not Viterbi) for
    the E-step argmax, M-step counts — pinned row-for-row against the
    registered query (the BPE-family test discipline)."""
    import math
    from collections import Counter

    from flink_pipeline_spark.plans.llm_ops import (
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
    # seed vocab: all chars + top multi-char substrings by weighted count
    sub = Counter()
    for w, f in wf.items():
        for i in range(len(w)):
            for L in range(1, min(UNIGRAM_MAX_PIECE, len(w) - i) + 1):
                sub[w[i : i + L]] += f
    chars = {p: c for p, c in sub.items() if len(p) == 1}
    multi = dict(
        sorted(
            ((p, c) for p, c in sub.items() if len(p) >= 2),
            key=lambda x: (-x[1], x[0]),
        )[:UNIGRAM_SEED_MULTI]
    )
    vocab = {**chars, **multi}
    total = sum(vocab.values())
    score = {
        p: int(math.floor(math.log(c / total) * UNIGRAM_SCALE + 0.5))
        for p, c in vocab.items()
    }

    def all_segs(w):
        if not w:
            yield 0, []
            return
        for L in range(1, min(UNIGRAM_MAX_PIECE, len(w)) + 1):
            p = w[:L]
            if p in score:
                for s, rest in all_segs(w[L:]):
                    yield score[p] + s, [p] + rest

    newc = Counter()
    for w, f in wf.items():
        # max score; tie -> lexicographically SMALLEST joined seg
        cands = list(all_segs(w))
        top = max(s for s, _ in cands)
        seg = min("\x1f".join(p) for s, p in cands if s == top)
        for p in seg.split("\x1f"):
            newc[p] += f
    expect = sorted(
        ((p, c) for p, c in newc.items()), key=lambda x: (-x[1], x[0])
    )[:UNIGRAM_TOP]
    expect = [
        (p, c, i + 1) for i, (p, c) in enumerate(expect)
    ]
    got = [
        (r.piece, r.cnt, r.rank)
        for r in QUERIES_R10["q_unigram_em"](spark, SMALL_SF)
        .orderBy("rank")
        .collect()
    ]
    assert got == expect


def test_merge_into_rejects_unknown_op(spark):
    """ADVICE r9: a misspelled op must fail the job loudly, not merge
    wrong (silently keep-base for present keys / discard for absent)."""
    import pytest

    from flink_pipeline_spark.operators.merge import merge_into

    base = spark.createDataFrame([(1, "a")], "k LONG, v STRING")
    bad = spark.createDataFrame(
        [(1, "upsert", "x")], "k LONG, op STRING, v STRING"
    )
    with pytest.raises(Exception, match="merge_into: op"):
        merge_into(base, bad, ["k"]).collect()
    nul = spark.createDataFrame(
        [(2, None, "y")], "k LONG, op STRING, v STRING"
    )
    with pytest.raises(Exception, match="merge_into: op"):
        merge_into(base, nul, ["k"]).collect()


def test_nsw_descent_matches_python_reimplementation(spark):
    """The refined graph replays in plain Python: 2-hop candidate
    draw from the collected round-0 adjacency, canonicalized to
    undirected (least, greatest) pairs and exact-scored ONCE each
    (the ADVICE-r10 rule: per-direction scoring evaluates the float
    fold in two orders and can fork dist_q at a quantization
    boundary), then symmetrized through the same select/adopt/shrink
    rule — edge set pinned exactly. Also pins the refinement
    invariants: degree bound holds and the descent never degrades
    beam-search recall on the same queries."""
    from flink_pipeline_spark.operators.llm import nsw_descent

    emb = load_table(spark, SMALL_SF, "embeddings")
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    adj0 = _adj(spark).localCheckpoint(eager=True)
    edges0 = [(r.src, r.dst) for r in adj0.collect()]
    out = {}
    for s, d in edges0:
        out.setdefault(s, []).append(d)

    cand = set(edges0)
    for s, d in edges0:
        for d2 in out.get(d, ()):
            if s != d2:
                cand.add((s, d2))
    pairs = {(min(s, d), max(s, d)) for s, d in cand}
    # one score per undirected pair, in canonical (a, b) order,
    # then both directions carry the identical dist_q
    scored = []
    for a, b in pairs:
        dist = _dist_q(vecs[a], vecs[b])
        scored.append((dist, a, b))
        scored.append((dist, b, a))
    kept = {}
    for dist, s, d in sorted(scored, key=lambda t: (t[1], t[0], t[2])):
        kept.setdefault(s, [])
        if len(kept[s]) < NSW_DEG:
            kept[s].append((dist, d))
    und = set()
    for s, lst in kept.items():
        for dist, d in lst:
            und.add((s, d, dist))
            und.add((d, s, dist))
    final = {}
    for s, d, dist in sorted(und, key=lambda t: (t[0], t[2], t[1])):
        final.setdefault(s, [])
        if len(final[s]) < 2 * NSW_DEG:
            final[s].append((s, d))
    expect = sorted(e for lst in final.values() for e in lst)

    adj1 = nsw_descent(emb, adj0, NSW_DEG).localCheckpoint(eager=True)
    got = sorted((r.src, r.dst) for r in adj1.collect())
    assert got == expect
    deg = {}
    for s, _ in got:
        deg[s] = deg.get(s, 0) + 1
    assert max(deg.values()) <= 2 * NSW_DEG


def test_hnsw_trajectory_matches_python_reimplementation(spark):
    """Replay the ENTIRE two-layer search in plain Python: layer-1
    graph over the hash-sampled subset, layer-1 beam from the
    subset's min vec_id, per-query hand-off (best layer-1 node,
    self allowed), base-layer beam from the hand-off, final top-3.
    Also pins the hierarchy's point: the hand-off entry is never
    FARTHER from the query than the layer-1 entry it descended from
    (monotone beam). Runs the local kernel."""
    _hnsw_replay(spark)


def test_hnsw_loop_trajectory_matches_python_reimplementation(
    spark, monkeypatch
):
    """The same two-layer replay over the above-gate DataFrame loop."""
    _loop_path(monkeypatch)
    _hnsw_replay(spark)


def _hnsw_replay(spark):
    from flink_pipeline_spark.operators.llm import nsw_graph
    from flink_pipeline_spark.plans.llm_ops import HNSW_L1_MOD

    emb = load_table(spark, SMALL_SF, "embeddings")
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    import hashlib

    def h56(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:14], 16)

    sub_ids = sorted(v for v in vecs if h56(v) % HNSW_L1_MOD == 0)
    assert sub_ids, "layer-1 sample empty"
    seeds = emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS)
    sub = emb.filter(F.col("vec_id").isin(sub_ids)).select(
        "vec_id", "embedding"
    )
    adj1 = nsw_graph(
        sub, seeds, deg=NSW_DEG, max_cell=EMBED_MULTI_MAX_CELL,
        nprobe=EMBED_PAIR_NPROBE,
    ).localCheckpoint(eager=True)
    adj0 = _adj(spark).localCheckpoint(eager=True)
    n1 = {}
    for r in adj1.collect():
        n1.setdefault(r.src, []).append(r.dst)
    n0 = {}
    for r in adj0.collect():
        n0.setdefault(r.src, []).append(r.dst)

    def beam_run(eq, nbrs, start, rounds, width):
        beam = {start}
        for _ in range(rounds):
            cand = set(beam)
            for n in beam:
                cand.update(nbrs.get(n, ()))
            scored = sorted((_dist_q(eq, vecs[n]), n) for n in cand)
            beam = {n for _, n in scored[:width]}
        return beam

    entry1 = min(sub_ids)
    expect = []
    for qid in sorted(v for v in vecs if v < PQ_QUERY_MAX):
        eq = vecs[qid]
        b1 = beam_run(eq, n1, entry1, NSW_HOPS, NSW_BEAM)
        e0 = min((_dist_q(eq, vecs[n]), n) for n in b1)[1]
        # the hierarchy's payoff, stated as the monotone-beam
        # invariant: the hand-off start is at least as close as the
        # layer-1 entry it descended from (the beam visited entry1,
        # so its best member can only be closer)
        assert _dist_q(eq, vecs[e0]) <= _dist_q(eq, vecs[entry1])
        b0 = beam_run(eq, n0, e0, NSW_HOPS, NSW_BEAM)
        final = sorted(
            (_dist_q(eq, vecs[n]), n) for n in b0 if n != qid
        )[:3]
        expect.extend(
            (qid, n, rank + 1, d) for rank, (d, n) in enumerate(final)
        )

    res = QUERIES_R10["q_sim_hnsw_topk"](spark, SMALL_SF)
    assert _local(res) == (local.LOCAL_MAX > 0)
    got = sorted(
        (r.query_id, r.neighbor_id, r.rank, r.dist_q) for r in res.collect()
    )
    assert got == sorted(expect)
