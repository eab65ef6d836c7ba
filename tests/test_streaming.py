"""Structured Streaming tests (SURVEY.md §5.2 'streaming tests').

Strategy: the batch result of each transform is the specification; the
same transform run as a real file-source stream (multiple micro-batches
via maxFilesPerTrigger) through a memory sink must produce the same
rows. Plus lifecycle: listener metrics, checkpointed restart, stop-all.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from flink_pipeline_spark.catalog import load_table
from flink_pipeline_spark.sources.fixtures import fixture_df
from flink_pipeline_spark.streaming.lifecycle import (
    MetricsListener,
    run_with_restarts,
    start_sink,
    stop_all_queries,
)
from flink_pipeline_spark.streaming.state import track_jobs, track_jobs_stream
from flink_pipeline_spark.streaming.windows import (
    enriched_counts,
    session_counts,
    sliding_counts,
    stream_dedup,
    tumbling_counts,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    """events table materialized as 4 parquet files so maxFilesPerTrigger=1
    yields 4 micro-batches."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, SF_DIR, "events").repartition(4).write.mode("overwrite").parquet(d)
    return d


def _read_stream(spark, d):
    schema = spark.read.parquet(d).schema
    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )


def _run_to_memory(df, mode: str) -> str:
    name = "mem_" + uuid.uuid4().hex[:8]
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    return name


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "transform,mode",
    [
        (lambda df: tumbling_counts(df, "10 minutes"), "complete"),
        (lambda df: sliding_counts(df, "10 minutes", "5 minutes"), "complete"),
        (lambda df: session_counts(df, "30 minutes"), "complete"),
    ],
    ids=["tumbling", "sliding", "session"],
)
def test_stream_equals_batch_windows(spark, events_stream_dir, transform, mode):
    batch = transform(load_table(spark, SF_DIR, "events"))
    name = _run_to_memory(transform(_read_stream(spark, events_stream_dir)), mode)
    assert _rows(spark.table(name)) == _rows(batch)


def test_stream_enrich_equals_batch(spark, events_stream_dir):
    """Stream-static broadcast join: each micro-batch enriched against
    the static customer dim must aggregate to the batch result."""
    dim = load_table(spark, SF_DIR, "customer")
    batch = enriched_counts(load_table(spark, SF_DIR, "events"), dim)
    name = _run_to_memory(
        enriched_counts(_read_stream(spark, events_stream_dir), dim), "complete"
    )
    assert _rows(spark.table(name)) == _rows(batch)


def test_stream_dedup_equals_batch(spark, events_stream_dir):
    """dropDuplicatesWithinWatermark drops rows older than the
    watermark, and the 4 fixture files arrive in random time order —
    so the delay must cover the fixture's whole 30-day span for
    stream==batch to be the right assertion. (Bounded-state eviction
    semantics under a short delay are proven separately below.)"""
    keys = ["user_id", "event_type"]
    batch = stream_dedup(load_table(spark, SF_DIR, "events"), keys)
    sdf = stream_dedup(_read_stream(spark, events_stream_dir), keys, watermark="40 days")
    name = _run_to_memory(sdf.select(*keys), "append")
    assert _rows(spark.table(name).distinct()) == _rows(batch)


@pytest.mark.slow  # 11s
def test_dedup_within_watermark_suppresses_and_evicts(spark, tmp_path):
    """ST11's bounded-state contract, both directions: a duplicate
    arriving WITHIN the watermark window is suppressed, and once the
    watermark passes a key's expiry its state is evicted — the same
    key then re-emits (the documented at-least-once trade that keeps
    state bounded instead of one entry per distinct key forever)."""
    import datetime as _dt

    d = str(tmp_path / "in")
    t0 = _dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_batch(rows):
        spark.createDataFrame(rows, "k STRING, ts TIMESTAMP").coalesce(
            1
        ).write.mode("append").parquet(d)

    # batch 1: first occurrence + an in-window duplicate 10 min later
    write_batch([("K1", t0), ("K1", t0 + _dt.timedelta(minutes=10))])
    src = (
        spark.readStream.schema("k STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    name = "mem_" + uuid.uuid4().hex[:8]
    q = (
        stream_dedup(src, ["k"], watermark="1 hour")
        .select("k", "ts")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: unrelated key 3 h later advances the watermark to
        # t0+2h, past K1's t0(+10min)+1h expiry -> K1 state evicted
        write_batch([("ADV", t0 + _dt.timedelta(hours=3))])
        q.processAllAvailable()
        # batch 3: K1 again, above the watermark -> re-emitted
        write_batch([("K1", t0 + _dt.timedelta(hours=3))])
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = sorted((r.k, r.ts) for r in spark.table(name).collect())
    assert got == [
        ("ADV", t0 + _dt.timedelta(hours=3)),
        ("K1", t0),  # the t0+10min in-window duplicate was suppressed
        ("K1", t0 + _dt.timedelta(hours=3)),  # evicted state -> re-emit
    ]


def test_tumbling_append_with_watermark(spark, tmp_path):
    """Append mode only emits watermark-closed windows — the late-data
    policy (ST5). The stream is fed in event-time order (4 files with
    ascending mtimes; the file source processes by mod time), so closed
    windows carry exact counts and only trailing windows are withheld.
    """
    import os
    import time

    ev = (
        load_table(spark, SF_DIR, "events")
        .select("ts", "user_id", "event_type", "value")
        .orderBy("ts")
        .toPandas()
    )
    quarter = len(ev) // 4 + 1
    src = tmp_path / "src"
    src.mkdir()
    t0 = time.time() - 100
    for i in range(4):
        p = str(src / f"part-{i}.parquet")
        ev.iloc[i * quarter : (i + 1) * quarter].to_parquet(
            p, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(p, (t0 + i * 10, t0 + i * 10))

    batch = _rows(tumbling_counts(load_table(spark, SF_DIR, "events"), "10 minutes"))
    sdf = tumbling_counts(
        _read_stream(spark, str(src)), "10 minutes", watermark="10 minutes"
    )
    name = _run_to_memory(sdf, "append")
    emitted = _rows(spark.table(name))
    assert set(emitted).issubset(set(batch)), "closed windows must match batch exactly"
    # everything except windows near the stream's end must have emitted
    assert len(emitted) >= len(batch) - 25
    assert len(emitted) < len(batch)  # trailing windows withheld: watermark is real


@pytest.fixture(scope="module")
def job_events_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("job_events"))
    fixture_df(spark, "job_events").repartition(3).write.mode("overwrite").parquet(d)
    return d


def test_job_tracker_stream_equals_batch(spark, job_events_dir):
    batch = {r["job_id"]: tuple(r) for r in track_jobs(fixture_df(spark, "job_events")).collect()}
    sdf = track_jobs_stream(_read_stream(spark, job_events_dir))
    name = _run_to_memory(sdf, "update")
    # update mode emits one snapshot per (batch, job); the last snapshot
    # per job must equal the batch fold.
    import pandas as pd

    pdf = spark.table(name).toPandas()
    assert len(pdf) >= 3
    final = {}
    for _, row in pdf.iterrows():
        final[row["job_id"]] = tuple(row)  # memory sink preserves arrival order
    assert set(final) == set(batch)
    for k in batch:
        assert final[k] == batch[k], f"{k}: {final[k]} != {batch[k]}"


def test_job_tracker_stream_timeout_evicts(spark, tmp_path):
    """ST2 eviction through the LIBRARY API: with ProcessingTimeTimeout,
    every job that goes silent is re-emitted once as its final snapshot
    and its keyed state removed. (Poll the sink — with timeout batches
    running, processAllAvailable can block forever.)"""
    import time

    src = str(tmp_path / "src")
    fixture_df(spark, "job_events").coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    sdf = spark.readStream.schema(schema).parquet(src)

    out = track_jobs_stream(sdf, timeout="ProcessingTimeTimeout", timeout_ms=500)
    name = "mem_evict_" + uuid.uuid4().hex[:6]
    q = out.writeStream.outputMode("update").format("memory").queryName(name).start()

    jobs = {r.job_id for r in fixture_df(spark, "job_events").select("job_id").distinct().collect()}
    done = False
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not done:
            counts: dict[str, int] = {}
            for r in spark.table(name).collect():
                counts[r.job_id] = counts.get(r.job_id, 0) + 1
            # one live snapshot (single micro-batch) + one eviction emit
            done = bool(jobs) and all(counts.get(j, 0) >= 2 for j in jobs)
            if not done:
                time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination()
    assert done, "timeout eviction never fired for all jobs"

    # the eviction snapshot re-emits the final fold unchanged
    batch = {r["job_id"]: tuple(r) for r in track_jobs(fixture_df(spark, "job_events")).collect()}
    last = {}
    for r in spark.table(name).collect():  # memory sink preserves order
        last[r.job_id] = tuple(r)
    assert last == batch


def test_job_tracker_stream_rejects_event_time_timeout(spark, job_events_dir):
    with pytest.raises(ValueError, match="unsupported timeout"):
        track_jobs_stream(_read_stream(spark, job_events_dir), timeout="EventTimeTimeout")


def test_job_tracker_rejects_invalid_state(spark):
    bad = spark.createDataFrame(
        [("j1", 0, "EXPLODED", None)], "job_id STRING, tick INT, state STRING, retcode INT"
    )
    with pytest.raises(Exception, match="unexpected application state"):
        track_jobs(bad).collect()


def test_metrics_listener(spark, events_stream_dir):
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        name = _run_to_memory(
            _read_stream(spark, events_stream_dir).groupBy("event_type").count(),
            "complete",
        )
        assert spark.table(name).count() > 0
        assert listener.metrics.batches >= 1
        assert listener.metrics.rows > 0
    finally:
        spark.streams.removeListener(listener)


def test_checkpointed_restart_no_duplicates(spark, tmp_path):
    """ST7: a restarted query with the same checkpoint must not re-emit
    committed batches (checkpoint recovery replaces the reference's
    re-run-from-scratch retry)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = fixture_df(spark, "job_events")
    base.limit(5).coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def start():
        return (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    attempt = run_with_restarts(start, max_retries=3)
    assert attempt == 1
    n1 = spark.read.parquet(out).count()
    assert n1 == 5
    # second run over the same source: nothing new to process
    run_with_restarts(start, max_retries=3)
    assert spark.read.parquet(out).count() == n1


def test_stop_all_queries(spark, events_stream_dir):
    q = (
        _read_stream(spark, events_stream_dir)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("mem_stopall_" + uuid.uuid4().hex[:6])
        .start()
    )
    assert len(spark.streams.active) >= 1
    n = stop_all_queries(spark)
    assert n >= 1
    assert all(not q2.isActive for q2 in [q])


@pytest.mark.slow  # 12s
def test_streaming_neardup_signature_store(spark, tmp_path):
    """foreachBatch near-dup ingestion against the persistent LSH
    signature store: batch 2's exact copy of a batch-1 doc is
    drop_exact, its one-token mutation of a batch-1 doc is drop_near,
    a fresh doc is keep — and batch 1 (empty store) keeps everything.
    State per micro-batch is O(batch + probed buckets); the corpus
    lives in the on-disk store, not executor memory."""
    import os
    import time

    from flink_pipeline_spark.streaming.dedup import NearDupIngest

    words = [f"w{i}" for i in range(40)]
    t1 = " ".join(words)
    t2 = " ".join(f"x{i}" for i in range(40))
    t2_near = " ".join(words[:20] + ["CHANGED"] + words[21:])
    t3 = " ".join(f"z{i}" for i in range(40))

    src = tmp_path / "src"
    src.mkdir()
    batch1 = spark.createDataFrame(
        [(1, t1), (2, t2)], "doc_id long, text string"
    )
    batch2 = spark.createDataFrame(
        [(10, t1), (11, t2_near), (12, t3)], "doc_id long, text string"
    )
    f1 = str(src / "b1.parquet")
    f2 = str(src / "b2.parquet")
    batch1.coalesce(1).write.parquet(f1)
    batch2.coalesce(1).write.parquet(f2)
    # file-source ordering is by modification time: force b1 first
    now = time.time()
    for root, base_t in ((f1, now - 120), (f2, now - 60)):
        for dirpath, _, files in os.walk(root):
            for fn in files:
                os.utime(os.path.join(dirpath, fn), (base_t, base_t))

    schema = spark.read.parquet(f1).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*.parquet")
    )
    ingest = NearDupIngest(str(tmp_path / "store"), str(tmp_path / "out"))
    q = start_sink(stream, ingest)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    out = {
        r.doc_id: r.action
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert out == {
        1: "keep",
        2: "keep",
        10: "drop_exact",
        11: "drop_near",
        12: "keep",
    }
    # the store indexed only kept docs
    stored = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "store" / "digests")).collect()
    }
    assert stored == {1, 2, 12}


def test_streaming_neardup_replay_idempotent(spark, tmp_path):
    """Crash-replay: re-running the SAME batch_id must re-derive the
    same decisions (the store is read minus the batch's own partition)
    and must not duplicate store rows — the at-least-once foreachBatch
    contract the module docstring claims."""
    from flink_pipeline_spark.streaming.dedup import NearDupIngest

    t1 = " ".join(f"w{i}" for i in range(40))
    t2 = " ".join(f"y{i}" for i in range(40))
    ingest = NearDupIngest(str(tmp_path / "store"), str(tmp_path / "out"))
    b1 = spark.createDataFrame([(1, t1)], "doc_id long, text string")
    b2 = spark.createDataFrame([(2, t1), (3, t2)], "doc_id long, text string")
    ingest(b1, 0)
    ingest(b2, 1)
    first = sorted(
        (r.doc_id, r.action)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    # replay batch 1 (crash before checkpoint commit): identical result
    ingest(b2, 1)
    second = sorted(
        (r.doc_id, r.action)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert first == second == [(1, "keep"), (2, "drop_exact"), (3, "keep")]
    digs = spark.read.parquet(str(tmp_path / "store" / "digests")).collect()
    assert sorted(r.doc_id for r in digs) == [1, 3]


def test_streaming_neardup_matches_batch_incremental(spark, tmp_path):
    """Cross-regime equivalence: ingesting the standing corpus as
    batch 0 and the doc_id%10==0 slice as batch 1 must reproduce
    q_dedup_incremental's decisions for that slice EXACTLY — the
    streaming store probe and the batch-vs-corpus probe are the same
    operator chain, and this pins them together."""
    from flink_pipeline_spark.operators.llm import incremental_dedup
    from flink_pipeline_spark.streaming.dedup import NearDupIngest

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    want = {
        r.doc_id: r.action
        for r in incremental_dedup(docs, "doc_id % 10 = 0").collect()
    }

    ingest = NearDupIngest(str(tmp_path / "store"), str(tmp_path / "out"))
    ingest(docs.filter("doc_id % 10 <> 0"), 0)
    ingest(docs.filter("doc_id % 10 = 0"), 1)
    got = {
        r.doc_id: r.action
        for r in spark.read.parquet(str(tmp_path / "out"))
        .filter("batch_id = 1")
        .collect()
    }
    assert got == want


def test_drift_monitor_matches_batch_psi(spark, tmp_path):
    """Stream==batch equivalence for the PSI drift monitor: a profile
    built from q_drift_psi's reference cohort (user_id%2=0) plus ONE
    batch covering the full current cohort must reproduce the
    registered batch query's psi_q EXACTLY — both reduce to identical
    (event_type, bucket) grids before the shared term text."""
    from flink_pipeline_spark.plans.profiling import q_drift_psi
    from flink_pipeline_spark.streaming.drift import (
        DriftMonitor,
        build_reference_profile,
    )

    events = load_table(spark, SF_DIR, "events")
    build_reference_profile(
        events.filter("user_id % 2 = 0"), str(tmp_path / "ref")
    )
    mon = DriftMonitor(str(tmp_path / "ref"), str(tmp_path / "out"))
    got = sorted(
        tuple(r) for r in mon.psi(events.filter("user_id % 2 = 1")).collect()
    )
    want = sorted(tuple(r) for r in q_drift_psi(spark, SF_DIR).collect())
    assert got == want


def test_drift_monitor_streaming_and_replay(spark, tmp_path):
    """The monitor as a real file-source stream: two micro-batches emit
    per-batch PSI partitions; replaying a batch_id overwrites its
    partition with identical rows (idempotence), and each batch's rows
    equal the direct psi() of that batch's frame."""
    import os
    import time

    from flink_pipeline_spark.streaming.drift import (
        DriftMonitor,
        build_reference_profile,
    )

    events = load_table(spark, SF_DIR, "events").select(
        "event_type", "value", "user_id"
    )
    build_reference_profile(
        events.filter("user_id % 2 = 0"), str(tmp_path / "ref")
    )
    cur = events.filter("user_id % 2 = 1")
    src = tmp_path / "src"
    src.mkdir()
    f1, f2 = str(src / "b1.parquet"), str(src / "b2.parquet")
    cur.filter("user_id % 4 = 1").coalesce(1).write.parquet(f1)
    cur.filter("user_id % 4 = 3").coalesce(1).write.parquet(f2)
    now = time.time()
    for root, base_t in ((f1, now - 120), (f2, now - 60)):
        for dirpath, _, files in os.walk(root):
            for fn in files:
                os.utime(os.path.join(dirpath, fn), (base_t, base_t))

    schema = spark.read.parquet(f1).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*.parquet")
    )
    mon = DriftMonitor(str(tmp_path / "ref"), str(tmp_path / "out"))
    q = start_sink(stream, mon)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    out = spark.read.parquet(str(tmp_path / "out"))
    by_batch = {
        b: sorted(
            tuple(r)
            for r in out.filter(F.col("batch_id") == b)
            .drop("batch_id")
            .collect()
        )
        for b in (0, 1)
    }
    # each micro-batch's rows == the direct psi() of that slice
    assert by_batch[0] == sorted(
        tuple(r) for r in mon.psi(cur.filter("user_id % 4 = 1")).collect()
    )
    assert by_batch[1] == sorted(
        tuple(r) for r in mon.psi(cur.filter("user_id % 4 = 3")).collect()
    )
    # replay batch 1: identical partition contents, no duplication
    mon(cur.filter("user_id % 4 = 3"), 1)
    replayed = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "out"))
        .filter(F.col("batch_id") == 1)
        .drop("batch_id")
        .collect()
    )
    assert replayed == by_batch[1]


def test_bloom_decontaminator_matches_batch_query(spark, tmp_path):
    """Stream==batch equivalence for Bloom decontamination: a filter
    built from the src0 benchmark docs plus ONE batch covering the
    full corpus must reproduce the registered q_decontaminate_bloom's
    per-lang flag counts exactly — both route through the same
    bloom_filter_words / bloom_flagged_docs rule."""
    from flink_pipeline_spark.plans.training import q_decontaminate_bloom
    from flink_pipeline_spark.streaming.decontaminate import (
        BloomDecontaminator,
        build_bloom_reference,
    )

    docs = load_table(spark, SF_DIR, "documents")
    build_bloom_reference(
        docs.filter("source = 'src0'"), str(tmp_path / "ref")
    )
    decon = BloomDecontaminator(str(tmp_path / "ref"), str(tmp_path / "out"))
    corpus = docs.filter("source <> 'src0'")
    got = {
        r.lang: (r.n_docs, r.n_flagged)
        for r in decon.flags(corpus)
        .join(corpus.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("flagged").cast("long")).alias("n_flagged"),
        )
        .collect()
    }
    want = {
        r.lang: (r.n_docs, r.n_flagged)
        for r in q_decontaminate_bloom(spark, SF_DIR).collect()
    }
    assert got == want


def test_bloom_decontaminator_streaming_and_replay(spark, tmp_path):
    """The decontaminator as a real file-source stream: two
    micro-batches emit per-batch flag partitions; each batch's rows
    equal the direct flags() of that slice, and replaying a batch_id
    overwrites its partition with identical rows."""
    import os
    import time

    from flink_pipeline_spark.streaming.decontaminate import (
        BloomDecontaminator,
        build_bloom_reference,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    build_bloom_reference(
        docs.filter("source = 'src0'"), str(tmp_path / "ref")
    )
    corpus = docs.filter("source <> 'src0'")
    src = tmp_path / "src"
    src.mkdir()
    f1, f2 = str(src / "b1.parquet"), str(src / "b2.parquet")
    corpus.filter("doc_id % 2 = 0").coalesce(1).write.parquet(f1)
    corpus.filter("doc_id % 2 = 1").coalesce(1).write.parquet(f2)
    now = time.time()
    for root, base_t in ((f1, now - 120), (f2, now - 60)):
        for dirpath, _, files in os.walk(root):
            for fn in files:
                os.utime(os.path.join(dirpath, fn), (base_t, base_t))

    schema = spark.read.parquet(f1).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*.parquet")
    )
    decon = BloomDecontaminator(str(tmp_path / "ref"), str(tmp_path / "out"))
    q = start_sink(stream, decon)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    out = spark.read.parquet(str(tmp_path / "out"))
    by_batch = {
        b: sorted(
            tuple(r)
            for r in out.filter(F.col("batch_id") == b)
            .drop("batch_id")
            .collect()
        )
        for b in (0, 1)
    }
    assert by_batch[0] == sorted(
        tuple(r) for r in decon.flags(corpus.filter("doc_id % 2 = 0")).collect()
    )
    assert by_batch[1] == sorted(
        tuple(r) for r in decon.flags(corpus.filter("doc_id % 2 = 1")).collect()
    )
    assert sum(len(v) for v in by_batch.values()) == corpus.count()
    # replay batch 1: identical partition contents, no duplication
    decon(corpus.filter("doc_id % 2 = 1"), 1)
    replayed = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "out"))
        .filter(F.col("batch_id") == 1)
        .drop("batch_id")
        .collect()
    )
    assert replayed == by_batch[1]


def test_scd2_stream_equals_batch(spark, tmp_path):
    """L9 streaming face: feeding the events slice in event-time order
    as 3 micro-batches, the stateful SCD2 operator's CLOSED intervals
    must equal the batch q_scd2_history's is_current = false rows
    exactly (same (user, type, from, to) set)."""
    import os
    import time

    from pyspark.sql import functions as F

    from flink_pipeline_spark.plans import query_fns
    from flink_pipeline_spark.streaming.scd2 import scd2_changes_stream

    ev = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("user_id") < 40)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_timestamp("ts").cast("long").alias("es"),
        )
    )
    lo, hi = ev.agg(F.min("es"), F.max("es")).collect()[0]
    t1 = lo + (hi - lo) // 3
    t2 = lo + 2 * (hi - lo) // 3
    src = tmp_path / "src"
    src.mkdir()
    parts = [
        ev.filter(F.col("es") < t1),
        ev.filter((F.col("es") >= t1) & (F.col("es") < t2)),
        ev.filter(F.col("es") >= t2),
    ]
    now = time.time()
    for i, p in enumerate(parts):
        f = str(src / f"b{i}.parquet")
        p.coalesce(1).write.parquet(f)
        for dirpath, _, files in os.walk(f):
            for fn in files:
                os.utime(
                    os.path.join(dirpath, fn),
                    (now - 300 + i * 60, now - 300 + i * 60),
                )

    schema = spark.read.parquet(str(src / "b0.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*.parquet")
    )
    name = _run_to_memory(scd2_changes_stream(stream), "update")
    streamed = {
        (r["user_id"], r["event_type"], r["valid_from"], r["valid_to"])
        for r in spark.table(name).collect()
    }

    batch = {
        (r["user_id"], r["event_type"], r["valid_from"], r["valid_to"])
        for r in query_fns()["q_scd2_history"](spark, SF_DIR)
        .filter((F.col("user_id") < 40) & ~F.col("is_current"))
        .collect()
    }
    assert streamed == batch
    # the open intervals (batch is_current rows) are exactly the rows
    # the stream has NOT emitted: one per user
    n_users = ev.select("user_id").distinct().count()
    n_current = (
        query_fns()["q_scd2_history"](spark, SF_DIR)
        .filter((F.col("user_id") < 40) & F.col("is_current"))
        .count()
    )
    assert n_current == n_users


# ---------------------------------------------------------------------------
# Misra-Gries streaming heavy hitters
# ---------------------------------------------------------------------------


def _mg_exact_counts(batches):
    from collections import Counter

    c = Counter()
    for b in batches:
        c.update(k for k, in b)
    return c


def test_heavy_hitter_monitor_mg_guarantees(spark, tmp_path):
    """The three Misra-Gries guarantees against exact counts: every
    estimate underestimates, the error is bounded by N/(k+1), and no
    true heavy hitter (freq > N/(k+1)) is missing."""
    from flink_pipeline_spark.streaming.heavy import HeavyHitterMonitor

    k = 5
    # a skewed stream: u0 dominates, u1/u2 heavy, long tail of singles
    batches = [
        [("u0",)] * 30 + [("u1",)] * 10 + [(f"t{i}",) for i in range(20)],
        [("u0",)] * 25 + [("u2",)] * 12 + [(f"s{i}",) for i in range(25)],
        [("u1",)] * 8 + [("u0",)] * 5 + [(f"r{i}",) for i in range(15)],
    ]
    mon = HeavyHitterMonitor(str(tmp_path / "store"), k=k, key_col="key")
    for i, rows in enumerate(batches):
        mon(spark.createDataFrame(rows, "key string"), i)

    true = _mg_exact_counts(batches)
    n = sum(true.values())
    got = {
        r["key"]: r["est"]
        for r in mon.summary(spark, len(batches) - 1).collect()
    }
    assert len(got) <= k
    meta = mon.n_total(spark, len(batches) - 1).collect()
    assert meta[0]["n_total"] == n
    bound = n // (k + 1)
    for key, est in got.items():
        assert est <= true[key], (key, est, true[key])
        assert true[key] - est <= bound
    for key, cnt in true.items():
        if cnt > bound:
            assert key in got, (key, cnt, bound)


def test_heavy_hitter_monitor_replay_idempotent(spark, tmp_path):
    """Re-running the same batch_id must reproduce the identical
    summary (reads exclude the batch's own partition)."""
    from flink_pipeline_spark.streaming.heavy import HeavyHitterMonitor

    mon = HeavyHitterMonitor(str(tmp_path / "store"), k=3, key_col="key")
    b0 = spark.createDataFrame([("a",)] * 5 + [("b",)] * 2, "key string")
    b1 = spark.createDataFrame(
        [("a",)] * 3 + [("c",)] * 4 + [("d",)] * 1 + [("e",)] * 1,
        "key string",
    )
    mon(b0, 0)
    mon(b1, 1)
    first = sorted(
        (r["key"], r["est"]) for r in mon.summary(spark, 1).collect()
    )
    mon(b1, 1)  # crash-replay of batch 1
    second = sorted(
        (r["key"], r["est"]) for r in mon.summary(spark, 1).collect()
    )
    assert first == second


@pytest.mark.slow  # 11s
def test_heavy_hitter_stream_matches_batch_fold(spark, tmp_path):
    """stream==batch: driving the monitor through a real file stream
    produces the same summary as folding the same frames through the
    callable directly."""
    import os as _os
    import time as _time

    from flink_pipeline_spark.streaming.heavy import HeavyHitterMonitor

    rows1 = [("u0",)] * 10 + [("u1",)] * 3 + [(f"t{i}",) for i in range(6)]
    rows2 = [("u0",)] * 7 + [("u2",)] * 5 + [(f"s{i}",) for i in range(6)]
    src = tmp_path / "src"
    src.mkdir()
    f1, f2 = str(src / "b1.parquet"), str(src / "b2.parquet")
    spark.createDataFrame(rows1, "key string").coalesce(1).write.parquet(f1)
    spark.createDataFrame(rows2, "key string").coalesce(1).write.parquet(f2)
    now = _time.time()
    for root, base_t in ((f1, now - 120), (f2, now - 60)):
        for dirpath, _, files in _os.walk(root):
            for fn in files:
                _os.utime(_os.path.join(dirpath, fn), (base_t, base_t))

    schema = spark.read.parquet(f1).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*.parquet")
    )
    mon_s = HeavyHitterMonitor(str(tmp_path / "store_s"), k=4, key_col="key")
    q = start_sink(stream, mon_s)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    mon_b = HeavyHitterMonitor(str(tmp_path / "store_b"), k=4, key_col="key")
    mon_b(spark.createDataFrame(rows1, "key string"), 0)
    mon_b(spark.createDataFrame(rows2, "key string"), 1)

    s = sorted((r["key"], r["est"]) for r in mon_s.summary(spark, 1).collect())
    b = sorted((r["key"], r["est"]) for r in mon_b.summary(spark, 1).collect())
    assert s == b and s
