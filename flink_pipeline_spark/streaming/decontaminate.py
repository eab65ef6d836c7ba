"""Streaming benchmark decontamination: per-micro-batch Bloom-filter
probe against a PERSISTED packed filter — the deployment form of the
batch q_decontaminate_bloom (plans/training.py).

Deployment shape: the benchmark (eval-suite) shingle set is packed
ONCE into the (word, mask, m_bits) 32-bit-word Bloom filter
(``build_bloom_reference``) and persisted; every incoming micro-batch
of documents then probes the filter — k codegen'd md5 hashes per
distinct shingle plus a broadcast word lookup — and writes its
per-doc keep/flag decisions as one log partition (heavy.write_log): a
crashed batch re-derives identical decisions instead of appending
duplicates.

The filter build and the probe are the SAME functions the registered
batch query uses (plans/training.bloom_filter_words /
bloom_flagged_docs — one source of truth), so the streaming and batch
decontaminators cannot fork: a batch covering the whole corpus
reproduces q_decontaminate_bloom's per-lang flag counts exactly
(pinned by tests/test_streaming.py).

Per-trigger cost: the batch side reduces to its distinct shingles
before probing; the filter is benchmark-sized (16 bits per eval
shingle, packed), constant in the corpus, and broadcast. Nothing
batch-sized ever shuffles except the distinct-shingle reduce.

foreachBatch is the right hook for the same reason drift.py uses it:
the filter is shared, read-only, cross-batch state — not per-key
evolving state for the engine's state stores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .heavy import write_log


def _bloom_bits():
    # lazy import: plans.* imports streaming modules transitively via
    # the registry loader; importing plans at module-import time here
    # would cycle.
    from ..functions.text import shingles_sql
    from ..plans.training import bloom_filter_words, bloom_flagged_docs

    return bloom_filter_words, bloom_flagged_docs, shingles_sql


def _doc_shingles(docs: DataFrame) -> DataFrame:
    _, _, shingles_sql = _bloom_bits()
    return docs.select(
        "doc_id",
        F.explode(F.expr(shingles_sql("spark", "text", 3))).alias("sh"),
    )


def build_bloom_reference(bench_docs: DataFrame, ref_dir: str) -> None:
    """Pack the benchmark docs' distinct 3-shingles into the Bloom
    word table and persist it — the artifact every micro-batch probes."""
    bloom_filter_words, _, _ = _bloom_bits()
    bench_sh = _doc_shingles(bench_docs).select("sh").distinct()
    bloom_filter_words(bench_sh).write.mode("overwrite").parquet(ref_dir)


class BloomDecontaminator:
    """foreachBatch sink: per micro-batch, the (doc_id, flagged)
    decision frame from probing the persisted filter. Bloom guarantee
    carries over: flagged=false is definitive (no false negatives vs
    the exact shingle check), flagged=true is subject to the filter's
    documented doc-level FP rate."""

    def __init__(self, ref_dir: str, out_dir: str) -> None:
        self.ref_dir = ref_dir
        self.out_dir = out_dir

    def flags(self, docs: DataFrame) -> DataFrame:
        """Lazy per-batch decision frame — exposed separately so the
        stream==batch equivalence test gates the rule without a sink."""
        _, bloom_flagged_docs, _ = _bloom_bits()
        spark = docs.sparkSession
        fwords = spark.read.parquet(self.ref_dir)
        hits = bloom_flagged_docs(_doc_shingles(docs), fwords).withColumn(
            "hit", F.lit(True)
        )
        return (
            docs.select("doc_id")
            .distinct()
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("hit", F.lit(False)).alias("flagged"),
            )
        )

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        write_log(self.flags(batch), self.out_dir, batch_id)
