"""Streaming near-dup dedup: continuous ingestion against a
PERSISTENT LSH signature store (SURVEY.md ST11 extension; the r6
verdict's foreachBatch item).

Two streaming dedup regimes exist and they are different tools:

* ``dropDuplicatesWithinWatermark`` (streaming/windows.py, ST11) —
  executor-state dedup bounded by the WATERMARK: exact-key duplicates
  arriving within the lateness window. State lives in the state
  store and is evicted by time; it cannot remember last month.
* THIS module — dedup against the ENTIRE standing corpus: state is
  the append-only (digest, band-signature, shingle-set) store on
  disk, so executor memory per micro-batch stays O(batch + probed
  buckets) no matter how large the corpus grows — the bounded-state
  answer for unbounded retention. Each micro-batch replays the
  batch-incremental probe (operators/llm.neardup_probe — the SAME
  code path as q_dedup_incremental, not a re-implementation): digest
  anti-probe for exact copies, capped (band, sig) bucket probe +
  exact shingle-Jaccard verify for near-dups, then writes the KEPT
  documents' index rows.

Replay idempotence: the decisions and the three store tables are
append logs (heavy.write_log / read_log), so a batch re-run after a
crash probes the store exactly as it stood before the batch instead
of matching its own half-written rows (the classic foreachBatch
at-least-once pitfall).

Per-batch cost: the signature store is left-semi-joined down to the
buckets the batch actually touches BEFORE the bucket aggregation
(full membership of a matched bucket is retained, so the occupancy
cap still sees true bucket sizes) — the shuffle/collect work is
O(probed buckets), not O(corpus). The store parquet scans themselves
are linear in corpus size per trigger; at real scale the store is
written bucketed/partitioned by its join keys so those scans prune —
the schema here is exactly that artifact.

foreachBatch is the right hook because the store is a cross-batch
table the engine's per-key state stores cannot hold.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.llm import (
    MAX_LSH_BUCKET,
    dedup_decisions,
    doc_shingles,
    lsh_band_signatures,
    neardup_probe,
)
from .heavy import read_log, write_log


class NearDupIngest:
    """foreachBatch sink: per micro-batch, classify every document as
    ``keep`` / ``drop_exact`` / ``drop_near`` against the standing
    store, emit decisions to ``out_dir``, and index the kept docs.

    Batch-internal duplicates are deliberately NOT detected (the
    incremental_dedup convention: a batch self-dedups with the batch
    operators first).
    """

    def __init__(
        self,
        store_dir: str,
        out_dir: str,
        n: int = 3,
        threshold: float = 0.8,
        max_bucket: int = MAX_LSH_BUCKET,
    ) -> None:
        self.store_dir = store_dir
        self.out_dir = out_dir
        self.n = n
        self.threshold = threshold
        self.max_bucket = max_bucket

    def _store(self, kind: str) -> str:
        return os.path.join(self.store_dir, kind)

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        docs = batch.select("doc_id", "text").persist()

        # the store as it stood BEFORE this batch (heavy.read_log):
        # only a store with no earlier partition reads as empty — a
        # corrupt partition fails the batch instead of classifying
        # standing duplicates as 'keep' (ADVICE r7)
        def store(kind: str, schema: str) -> DataFrame:
            return read_log(
                spark, self._store(kind), schema, batch_id, f"{kind} store"
            )

        digests = store("digests", "doc_id BIGINT, dg STRING")
        sig_store = store("sigs", "doc_id BIGINT, band INT, sig STRING")
        set_store = store("sets", "doc_id BIGINT, s ARRAY<STRING>")

        bdig = docs.select("doc_id", F.md5("text").alias("dg"))
        drop_exact = bdig.join(
            digests.select("dg").distinct(), "dg", "left_semi"
        ).select("doc_id")

        # batch signatures feed BOTH the probe and the kept-index
        # write — persist so the minhash pass runs once per trigger
        bsets = doc_shingles(docs, self.n).persist()
        bsigs = lsh_band_signatures(bsets).persist()
        # bound the bucket aggregation to the buckets the batch probes
        # (left-semi on the key keeps FULL membership of matched
        # buckets — the occupancy cap still sees true sizes)
        probed_store = sig_store.join(
            bsigs.select("band", "sig").distinct(), ["band", "sig"], "left_semi"
        )
        sigs_all = bsigs.withColumn("is_new", F.lit(True)).unionByName(
            probed_store.withColumn("is_new", F.lit(False))
        )
        near = neardup_probe(
            F.col("is_new"),
            bsets.unionByName(set_store),
            sigs_all,
            self.threshold,
            self.max_bucket,
        )

        decisions = dedup_decisions(
            docs.select("doc_id"), drop_exact, near
        ).persist()
        write_log(decisions, self.out_dir, batch_id)
        kept = decisions.filter(F.col("action") == "keep").select("doc_id")
        for kind, rows in (
            ("digests", bdig), ("sigs", bsigs), ("sets", bsets)
        ):
            write_log(
                rows.join(kept, "doc_id", "left_semi"), self._store(kind),
                batch_id,
            )
        decisions.unpersist()
        bsigs.unpersist()
        bsets.unpersist()
        docs.unpersist()
