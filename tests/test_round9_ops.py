"""Round-9 operator tests: image perceptual near-dup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_pipeline_spark.operators.multimodal import ahash_bands
from flink_pipeline_spark.plans.image_dedup import (
    PHASH_DIR,
    q_dedup_image_phash,
    q_dedup_image_phash_recall,
)
from flink_pipeline_spark.sources.fixtures import fixture_files

from .conftest import SF_DIR


def test_phash_pairs_pin_the_engineered_corpus(spark):
    """The committed fixture corpus pins three readings: the clip-free
    +16-brightness variant is hash-IDENTICAL (hamming 0), boundary
    noise lands at hamming 2 (detected), and every other pair —
    including the moderate-noise true dup — is above the lossless-3
    threshold."""
    got = {
        (r.file_a, r.file_b): r.hamming
        for r in q_dedup_image_phash(spark, SF_DIR).collect()
    }
    assert got == {
        ("ph_a.ppm", "ph_a_bright.ppm"): 0,
        ("ph_a.ppm", "ph_a_noise.ppm"): 2,
        ("ph_a_bright.ppm", "ph_a_noise.ppm"): 2,
    }


def test_phash_recall_reads_both_failure_modes(spark):
    """Per-method rows (r10): ahash reads recall < 1 (moderate noise
    flips ~5 mean-bits, outside the blocking guarantee) AND precision
    < 1 (brightness shift is hash-identical but 16 gray levels from
    pixel truth); dhash recovers the noise pair (1 gradient bit) for
    recall 1.0 while sharing the deliberate brightness disagreement
    (precision 0.5)."""
    rows = {
        r.method: r
        for r in q_dedup_image_phash_recall(spark, SF_DIR).collect()
    }
    a, d = rows["ahash"], rows["dhash"]
    assert (a.n_truth, a.n_method, a.hits) == (2, 3, 1)
    assert a.recall == 0.5
    assert a.prec == 0.3333
    assert (d.n_truth, d.n_method, d.hits) == (2, 4, 2)
    assert d.recall == 1.0
    assert d.prec == 0.5


def test_ahash_rejects_non_grid_dims(spark):
    """The codec errors loudly on an image whose dims don't divide
    into the 8x8 grid (a real pipeline resizes first) — the committed
    images/ corpus has a 5x7 fixture, so point the codec there."""
    import os

    from flink_pipeline_spark.plans.scans import IMG_DIR

    df = spark.read.format("binaryFile").load(os.path.join(IMG_DIR, "*.ppm"))
    files = df.select(
        F.regexp_extract("path", r"([^/]+)$", 1).alias("file"), "content"
    )
    with pytest.raises(Exception, match="aHash grid"):
        ahash_bands(files).collect()


def test_phash_band_keys_are_16_bit(spark):
    bands = ahash_bands(fixture_files(spark, PHASH_DIR, "*.ppm")).collect()
    assert len(bands) == 40  # 10 images x 4 bands
    assert all(0 <= r.key <= 0xFFFF and 0 <= r.blk <= 3 for r in bands)


def test_merge_into_semantics(spark):
    """All six MERGE rows of the contract: unchanged, update, delete,
    insert, upsert-for-absent-key, delete-absent-key-no-op."""
    from flink_pipeline_spark.operators.merge import merge_into

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k BIGINT, v STRING"
    )
    changes = spark.createDataFrame(
        [
            (2, "update", "B"),      # matched update
            (3, "delete", None),     # matched delete
            (4, "insert", "d"),      # insert
            (5, "update", "e"),      # upsert: update for absent key
            (6, "delete", None),     # delete for absent key -> no-op
        ],
        "k BIGINT, op STRING, v STRING",
    )
    got = {
        (r.k, r.v) for r in merge_into(base, changes, ["k"]).collect()
    }
    assert got == {(1, "a"), (2, "B"), (4, "d"), (5, "e")}


def test_merge_into_requires_post_image_columns(spark):
    from flink_pipeline_spark.operators.merge import merge_into

    base = spark.createDataFrame([(1, "a")], "k BIGINT, v STRING")
    changes = spark.createDataFrame([(1, "delete")], "k BIGINT, op STRING")
    with pytest.raises(ValueError, match="post-image"):
        merge_into(base, changes, ["k"])


def test_heavy_hitter_store_prunes_old_snapshots(spark, tmp_path):
    """After batch N commits, only partitions N-1 and N remain (the
    summary is a snapshot; unpruned stores cost linearly more per
    trigger — ADVICE r8). Replay of the newest batch still works off
    the kept prior partition."""
    import os

    from flink_pipeline_spark.streaming.heavy import HeavyHitterMonitor

    mon = HeavyHitterMonitor(str(tmp_path / "store"), k=3, key_col="key")
    frames = [
        spark.createDataFrame([("a",)] * (i + 2) + [("b",)], "key string")
        for i in range(3)
    ]
    for i, df in enumerate(frames):
        mon(df, i)
    for kind in ("summary", "meta"):
        parts = sorted(
            d
            for d in os.listdir(tmp_path / "store" / kind)
            if d.startswith("batch_id=")
        )
        assert parts == ["batch_id=1", "batch_id=2"], (kind, parts)
    before = sorted(
        (r["key"], r["est"]) for r in mon.summary(spark, 2).collect()
    )
    mon(frames[2], 2)  # crash-replay of the newest batch
    after = sorted(
        (r["key"], r["est"]) for r in mon.summary(spark, 2).collect()
    )
    assert before == after


def test_seed_farthest_distinct_on_degenerate_corpus(spark, tmp_path):
    """All-identical corpus: every remaining distance is 0, where the
    bare (dist DESC, vec_id) argmax used to re-pick seed 1 (ADVICE
    r8). The anti-join guarantees k DISTINCT seeds."""
    from flink_pipeline_spark.plans.corpus_ops import (
        SEED_K,
        q_sim_seed_farthest,
    )

    rows = [(i, [0.5] * 64) for i in range(10)]
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    got = q_sim_seed_farthest(spark, str(tmp_path)).collect()
    assert len(got) == SEED_K
    assert len({r.vec_id for r in got}) == SEED_K
    assert all(r.dist_q == 0 for r in got if r.seed_idx > 1)


def test_phash_incremental_keep_drop_decisions(spark):
    """Probe batch vs store: brightness and boundary-noise variants
    resolve to their base (drop), moderate/heavy probe as new (keep)."""
    from flink_pipeline_spark.plans.image_dedup import (
        q_dedup_image_phash_incremental,
    )

    got = {
        r.file: (r.dup_of, r.hamming, r.is_dup)
        for r in q_dedup_image_phash_incremental(spark, SF_DIR).collect()
    }
    assert got == {
        "ph_a_bright.ppm": ("ph_a.ppm", 0, True),
        "ph_a_noise.ppm": ("ph_a.ppm", 2, True),
        "ph_b_noise.ppm": (None, None, False),
        "ph_c_heavy.ppm": (None, None, False),
    }


def _phash_bytes(name: str) -> bytes:
    import os

    from flink_pipeline_spark.plans.image_dedup import PHASH_DIR

    with open(os.path.join(PHASH_DIR, name), "rb") as f:
        return f.read()


def test_streaming_image_dedup_store(spark, tmp_path):
    """foreachBatch image ingestion against the persistent aHash band
    store: batch 2's byte-identical copy is drop_exact, the
    brightness/noise variants are drop_near (hamming 0 / 2) of their
    batch-1 base, the 5-bit-noise variant and a fresh image keep —
    the stream==batch twin of q_dedup_image_phash_incremental."""
    import os
    import time

    from flink_pipeline_spark.streaming.image_dedup import ImageDedupIngest
    from flink_pipeline_spark.streaming.lifecycle import start_sink

    b1 = [(n, _phash_bytes(n)) for n in ("ph_a.ppm", "ph_b.ppm", "ph_d.ppm")]
    b2 = [
        ("copy_of_a.ppm", _phash_bytes("ph_a.ppm")),
        ("ph_a_bright.ppm", _phash_bytes("ph_a_bright.ppm")),
        ("ph_a_noise.ppm", _phash_bytes("ph_a_noise.ppm")),
        ("ph_b_noise.ppm", _phash_bytes("ph_b_noise.ppm")),
        ("ph_e.ppm", _phash_bytes("ph_e.ppm")),
    ]
    src = tmp_path / "src"
    src.mkdir()
    f1, f2 = str(src / "b1.parquet"), str(src / "b2.parquet")
    spark.createDataFrame(b1, "file string, content binary").coalesce(
        1
    ).write.parquet(f1)
    spark.createDataFrame(b2, "file string, content binary").coalesce(
        1
    ).write.parquet(f2)
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
    ingest = ImageDedupIngest(str(tmp_path / "store"), str(tmp_path / "out"))
    q = start_sink(stream, ingest)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    out = {
        r.file: (r.action, r.dup_of, r.hamming)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert out == {
        "ph_a.ppm": ("keep", None, None),
        "ph_b.ppm": ("keep", None, None),
        "ph_d.ppm": ("keep", None, None),
        "copy_of_a.ppm": ("drop_exact", None, None),
        "ph_a_bright.ppm": ("drop_near", "ph_a.ppm", 0),
        "ph_a_noise.ppm": ("drop_near", "ph_a.ppm", 2),
        "ph_b_noise.ppm": ("keep", None, None),
        "ph_e.ppm": ("keep", None, None),
    }
    stored = {
        r.file
        for r in spark.read.parquet(str(tmp_path / "store" / "digests")).collect()
    }
    assert stored == {"ph_a.ppm", "ph_b.ppm", "ph_d.ppm", "ph_b_noise.ppm", "ph_e.ppm"}


def test_streaming_image_dedup_replay_idempotent(spark, tmp_path):
    """Crash-replay of the newest batch re-derives identical decisions
    and does not duplicate store rows."""
    from flink_pipeline_spark.streaming.image_dedup import ImageDedupIngest

    ingest = ImageDedupIngest(str(tmp_path / "store"), str(tmp_path / "out"))
    b0 = spark.createDataFrame(
        [("ph_a.ppm", _phash_bytes("ph_a.ppm"))], "file string, content binary"
    )
    b1 = spark.createDataFrame(
        [
            ("ph_a_noise.ppm", _phash_bytes("ph_a_noise.ppm")),
            ("ph_f.ppm", _phash_bytes("ph_f.ppm")),
        ],
        "file string, content binary",
    )
    ingest(b0, 0)
    ingest(b1, 1)
    first = sorted(
        (r.file, r.action)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    ingest(b1, 1)  # crash-replay
    second = sorted(
        (r.file, r.action)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert first == second == [
        ("ph_a.ppm", "keep"),
        ("ph_a_noise.ppm", "drop_near"),
        ("ph_f.ppm", "keep"),
    ]
    bands = spark.read.parquet(str(tmp_path / "store" / "bands"))
    assert bands.count() == 8  # 2 kept images x 4 bands, no dup rows


def test_streaming_image_dedup_equals_batch_incremental(spark, tmp_path):
    """Stream == batch for the image probe: with the non-probe phash
    files ingested as batch 0 and PROBE_FILES as batch 1, batch 1's
    (file, dup_of, hamming) decisions equal
    q_dedup_image_phash_incremental's rows — both run band_probe."""
    import os

    from flink_pipeline_spark.plans.image_dedup import (
        PROBE_FILES,
        q_dedup_image_phash_incremental,
    )
    from flink_pipeline_spark.streaming.image_dedup import ImageDedupIngest

    files = fixture_files(spark, PHASH_DIR, "*.ppm")
    is_probe = F.col("file").isin(*PROBE_FILES)
    ingest = ImageDedupIngest(str(tmp_path / "store"), str(tmp_path / "out"))
    ingest(files.filter(~is_probe), 0)
    ingest(files.filter(is_probe), 1)

    stream = {
        (r.file, r.dup_of, r.hamming)
        for r in spark.read.parquet(
            os.path.join(str(tmp_path / "out"), "batch_id=1")
        ).collect()
    }
    batch = {
        (r.file, r.dup_of, r.hamming)
        for r in q_dedup_image_phash_incremental(spark, SF_DIR).collect()
    }
    assert stream == batch
    assert {f for f, _, _ in stream} == set(PROBE_FILES)


def test_streaming_kmv_equals_batch_sketch(spark, tmp_path):
    """KMV mergeability, deployed: after streaming two document
    batches through the monitor, the per-source estimates equal the
    registered q_distinct_kmv run over the concatenated corpus —
    union-then-keep-k-smallest is an EXACT merge, so stream == batch
    bit-for-bit."""
    from flink_pipeline_spark.plans.profiling import KMV_K, q_distinct_kmv
    from flink_pipeline_spark.streaming.kmv import KMV_K as SKMV_K
    from flink_pipeline_spark.streaming.kmv import KMVMonitor

    assert KMV_K == SKMV_K

    d = spark.read.parquet(SF_DIR + "/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    b1 = d.filter(F.col("doc_id") % 2 == 0)
    b2 = d.filter(F.col("doc_id") % 2 == 1)

    mon = KMVMonitor(str(tmp_path / "store"))
    mon(b1, 0)
    mon(b2, 1)
    streamed = {
        r.source: r.kmv_estimate for r in mon.estimates(spark, 1).collect()
    }

    batch_dir = tmp_path / "sf"
    d.write.parquet(str(batch_dir / "documents.parquet"))
    batch = {
        r.source: r.kmv_estimate
        for r in q_distinct_kmv(spark, str(batch_dir)).collect()
    }
    assert streamed == batch


def test_streaming_kmv_replay_idempotent(spark, tmp_path):
    """Crash-replay of the newest batch reproduces the same sketch."""
    from flink_pipeline_spark.streaming.kmv import KMVMonitor

    d = spark.read.parquet(SF_DIR + "/documents.parquet")
    b1 = d.filter(F.col("doc_id") % 3 == 0)
    b2 = d.filter(F.col("doc_id") % 3 == 1)
    mon = KMVMonitor(str(tmp_path / "store"))
    mon(b1, 0)
    mon(b2, 1)
    first = sorted(
        (r.source, r.kmv_estimate) for r in mon.estimates(spark, 1).collect()
    )
    mon(b2, 1)  # crash-replay
    second = sorted(
        (r.source, r.kmv_estimate) for r in mon.estimates(spark, 1).collect()
    )
    assert first == second
