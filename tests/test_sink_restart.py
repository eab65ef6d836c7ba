"""A real restart of every foreachBatch sink through Spark.

Structured Streaming's exactly-once output rests on two halves: the
engine replays an uncommitted micro-batch from ``checkpointLocation``
with the same batch id, and the sink makes that replay idempotent
(streaming/heavy.py's write rules). The per-module replay tests call
``sink(batch, id)`` twice; this test lets the engine do the replay.
Each sink is started with ``lifecycle.start_sink`` over a three-file
source (``maxFilesPerTrigger=1``), fails once right after batch 1's
write returns (written, not committed), and is restarted by
``lifecycle.run_with_restarts`` on the same checkpoint. Every
partition it leaves must equal a direct ``sink(b, i)`` fold of the
same three batches into a fresh directory."""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from flink_pipeline_spark.catalog import load_table
from flink_pipeline_spark.streaming.lifecycle import (
    run_with_restarts,
    start_sink,
)

from .conftest import SF_DIR
from .test_round11_ops import SMALL_SF


def _thirds(df, col):
    return [df.filter(F.col(col) % 3 == i) for i in range(3)]


# Each case builds (three batch frames, new) where new(root) returns a
# fresh sink whose store and output directories all live under root.
# Shared read-only inputs (reference profiles, index bases) live in
# ``shared``, outside root.


def _cm(spark, shared):
    from flink_pipeline_spark.streaming.cm import CMMonitor

    d = load_table(spark, SMALL_SF, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    return _thirds(d, "doc_id"), lambda root: CMMonitor(f"{root}/store")


def _kmv(spark, shared):
    from flink_pipeline_spark.streaming.kmv import KMVMonitor

    d = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    return _thirds(d, "doc_id"), lambda root: KMVMonitor(f"{root}/store")


def _quantile(spark, shared):
    from flink_pipeline_spark.streaming.quantile import QuantileMonitor

    li = load_table(spark, SMALL_SF, "lineitem")
    return (
        _thirds(li, "l_orderkey"),
        lambda root: QuantileMonitor(f"{root}/store"),
    )


def _cdc(spark, shared):
    from flink_pipeline_spark.streaming.merge import CDCApplyMonitor

    from .test_round10_ops import _cdc_fixture

    v1, ch = _cdc_fixture(spark)

    def new(root):
        mon = CDCApplyMonitor(f"{root}/store", keys=["doc_id"])
        mon.init(v1)
        return mon

    return _thirds(ch, "doc_id"), new


def _heavy(spark, shared):
    from flink_pipeline_spark.streaming.heavy import HeavyHitterMonitor

    rows = [
        [("u0",)] * 30 + [("u1",)] * 10 + [(f"t{i}",) for i in range(20)],
        [("u0",)] * 25 + [("u2",)] * 12 + [(f"s{i}",) for i in range(25)],
        [("u1",)] * 8 + [("u0",)] * 5 + [(f"r{i}",) for i in range(15)],
    ]
    return (
        [spark.createDataFrame(r, "key string") for r in rows],
        lambda root: HeavyHitterMonitor(f"{root}/store", k=5, key_col="key"),
    )


def _drift(spark, shared):
    from flink_pipeline_spark.streaming.drift import (
        DriftMonitor,
        build_reference_profile,
    )

    events = load_table(spark, SF_DIR, "events").select(
        "event_type", "value", "user_id"
    )
    ref = f"{shared}/ref"
    build_reference_profile(events.filter("user_id % 2 = 0"), ref)
    cur = events.filter("user_id % 2 = 1")
    return (
        [cur.filter(f"user_id % 6 = {r}") for r in (1, 3, 5)],
        lambda root: DriftMonitor(ref, f"{root}/out"),
    )


def _decontaminate(spark, shared):
    from flink_pipeline_spark.streaming.decontaminate import (
        BloomDecontaminator,
        build_bloom_reference,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    ref = f"{shared}/ref"
    build_bloom_reference(docs.filter("source = 'src0'"), ref)
    return (
        _thirds(docs.filter("source <> 'src0'"), "doc_id"),
        lambda root: BloomDecontaminator(ref, f"{root}/out"),
    )


def _neardup(spark, shared):
    from flink_pipeline_spark.streaming.dedup import NearDupIngest

    words = [f"w{i}" for i in range(40)]
    t1 = " ".join(words)
    t2 = " ".join(f"x{i}" for i in range(40))
    t2_near = " ".join(words[:20] + ["CHANGED"] + words[21:])
    t3 = " ".join(f"z{i}" for i in range(40))
    t4 = " ".join(f"q{i}" for i in range(40))
    rows = [
        [(1, t1), (2, t2)],
        [(10, t1), (11, t2_near), (12, t3)],
        [(20, t3), (21, t4)],
    ]
    return (
        [spark.createDataFrame(r, "doc_id long, text string") for r in rows],
        lambda root: NearDupIngest(f"{root}/store", f"{root}/out"),
    )


def _image_dedup(spark, shared):
    from flink_pipeline_spark.streaming.image_dedup import ImageDedupIngest

    from .test_round9_ops import _phash_bytes

    files = [
        [("ph_a.ppm", "ph_a.ppm"), ("ph_b.ppm", "ph_b.ppm"),
         ("ph_d.ppm", "ph_d.ppm")],
        [("copy_of_a.ppm", "ph_a.ppm"),
         ("ph_a_bright.ppm", "ph_a_bright.ppm"),
         ("ph_a_noise.ppm", "ph_a_noise.ppm"),
         ("ph_b_noise.ppm", "ph_b_noise.ppm"), ("ph_e.ppm", "ph_e.ppm")],
        [("copy_of_e.ppm", "ph_e.ppm"), ("ph_f.ppm", "ph_f.ppm")],
    ]
    return (
        [
            spark.createDataFrame(
                [(n, _phash_bytes(f)) for n, f in b],
                "file string, content binary",
            )
            for b in files
        ],
        lambda root: ImageDedupIngest(f"{root}/store", f"{root}/out"),
    )


def _index_base(spark, mon):
    """Init ``mon`` once over the base slice; return the arrival
    thirds."""
    from flink_pipeline_spark.plans.llm_ops import IVF_SEED_CENTROIDS

    from .test_round11_ops import _split

    emb, base, arrivals = _split(spark)
    mon.init(base, emb.filter(F.col("vec_id") < IVF_SEED_CENTROIDS))
    return _thirds(arrivals, "vec_id")


def _ann_index(spark, shared):
    from flink_pipeline_spark.streaming.ann_index import ANNIndexMonitor

    base = ANNIndexMonitor(f"{shared}/base")
    batches = _index_base(spark, base)
    return batches, lambda root: base.copy_base(f"{root}/store")


def _pq_index(spark, shared):
    from .test_round12_ops import _pq_mon

    base = _pq_mon(shared, "base")
    batches = _index_base(spark, base)
    return batches, lambda root: base.copy_base(f"{root}/store")


def _maxsim_index(spark, shared):
    from flink_pipeline_spark.streaming.maxsim_index import (
        MaxSimIndexMonitor,
    )

    base = f"{shared}/base"
    batches = _index_base(spark, MaxSimIndexMonitor(base))

    def new(root):
        # the store has no derived-store copy: its init output is the
        # whole store, so a copy of the directory is the fresh start
        shutil.copytree(base, f"{root}/store")
        return MaxSimIndexMonitor(f"{root}/store")

    return batches, new


SINKS = {
    "cm": _cm,
    "kmv": _kmv,
    "quantile": _quantile,
    "cdc": _cdc,
    "heavy_hitters": _heavy,
    "drift": _drift,
    "decontaminate": _decontaminate,
    "neardup": _neardup,
    "image_dedup": _image_dedup,
    "ann_index": _ann_index,
    "pq_index": _pq_index,
    "maxsim_index": _maxsim_index,
}


class _FailAfterBatch1:
    """Raise once, right after ``sink(batch, 1)`` returns: batch 1's
    partitions are written but Spark never commits it."""

    def __init__(self, sink) -> None:
        self.sink = sink
        self.failed = False

    def __call__(self, batch, batch_id: int) -> None:
        self.sink(batch, batch_id)
        if batch_id == 1 and not self.failed:
            self.failed = True
            raise RuntimeError(f"injected fault after batch {batch_id}")


def _write_source(src: str, frames) -> list[str]:
    """One single-file parquet dir per frame, modification times pinned
    in list order (the file source reads oldest first)."""
    paths = []
    now = time.time()
    for i, df in enumerate(frames):
        path = os.path.join(src, f"b{i}.parquet")
        df.coalesce(1).write.parquet(path)
        t = now - 60 * (len(frames) - i)
        for dirpath, _, names in os.walk(path):
            for name in names:
                os.utime(os.path.join(dirpath, name), (t, t))
        paths.append(path)
    return paths


def _partitions(spark, root: str) -> dict[str, list[str]]:
    """Every parquet leaf directory under ``root`` -> its rows, sorted."""
    out = {}
    for dirpath, _, names in os.walk(root):
        if any(n.endswith(".parquet") for n in names):
            rows = spark.read.parquet(dirpath).collect()
            out[os.path.relpath(dirpath, root)] = sorted(map(repr, rows))
    return out


@pytest.mark.parametrize("name", list(SINKS))
def test_sink_restart_replays_into_the_same_store(spark, tmp_path, name):
    """Batch 1 is written, the query fails before committing it, and a
    restart on the same checkpoint replays it: one restart, and every
    surviving partition equals the direct-call fold's."""
    frames, new = SINKS[name](spark, tmp_path / "shared")
    paths = _write_source(str(tmp_path / "src"), frames)
    batches = [spark.read.parquet(p) for p in paths]

    ref_root = str(tmp_path / "ref")
    ref = new(ref_root)
    for i, b in enumerate(batches):
        ref(b, i)

    run_root = str(tmp_path / "run")
    sink = _FailAfterBatch1(new(run_root))
    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src") + "/*.parquet")
    )
    ckpt = str(tmp_path / "ckpt")
    attempt = run_with_restarts(
        lambda: start_sink(stream, sink, checkpointLocation=ckpt)
    )
    assert sink.failed and attempt == 2

    want = _partitions(spark, ref_root)
    assert want and any(rows for rows in want.values())
    assert _partitions(spark, run_root) == want
