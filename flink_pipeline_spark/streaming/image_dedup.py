"""Streaming IMAGE near-dup dedup: continuous ingestion against a
persistent aHash band-key store — the image-modality twin of
streaming/dedup.py (text LSH store), and the streaming deployment
form of q_dedup_image_phash_incremental.

State is the append-only (digest, band-signature) store on disk:
executor memory per micro-batch stays O(batch + probed buckets)
regardless of how many images the corpus holds. Each micro-batch:

* computes batch digests (md5 of the payload bytes) and aHash band
  keys (operators/multimodal.ahash_bands — the SAME codec the batch
  queries use, not a re-implementation);
* ``drop_exact``: byte-identical payload already indexed (digest
  semi-join);
* ``drop_near``: best store match within MAX_HAMMING via
  operators/multimodal.band_probe — the probe
  q_dedup_image_phash_incremental runs, so stream and batch decide
  through the same code: pigeonhole band equi-join + exact
  bit_count(xor) verify, with the store first semi-joined down to
  the (blk, key) buckets the batch actually probes, so per-trigger
  shuffle work is O(probed buckets), not O(corpus);
* ``keep``: everything else; kept images' digests and band rows are
  appended to the store.

Batch-internal duplicates are deliberately NOT detected (the
incremental convention: a batch self-dedups with the batch pair query
first). Decisions and both store tables are append logs
(heavy.write_log / read_log), so a crashed batch re-derives
byte-identical decisions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.multimodal import ahash_bands, band_probe
from .heavy import read_log, write_log


class ImageDedupIngest:
    """foreachBatch sink: classify every (file, content) image row as
    ``keep`` / ``drop_exact`` / ``drop_near`` against the standing
    store, emit decisions to ``out_dir``, and index kept images."""

    def __init__(self, store_dir: str, out_dir: str) -> None:
        self.store_dir = store_dir
        self.out_dir = out_dir

    def _store(self, kind: str) -> str:
        return os.path.join(self.store_dir, kind)

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        imgs = batch.select("file", "content").persist()

        # the store as it stood BEFORE this batch (heavy.read_log, the
        # streaming/dedup.py ADVICE-r7 contract: a corrupt partition
        # fails the batch, only an empty store reads as empty)
        digests = read_log(
            spark, self._store("digests"), "file STRING, dg STRING",
            batch_id, "digests store",
        )
        band_store = read_log(
            spark, self._store("bands"), "file STRING, blk BIGINT, key BIGINT",
            batch_id, "bands store",
        )

        bdig = imgs.select("file", F.md5("content").alias("dg"))
        drop_exact = bdig.join(
            digests.select("dg").distinct(), "dg", "left_semi"
        ).select("file")

        bbands = ahash_bands(imgs).persist()
        near = band_probe(bbands, band_store)

        decisions = (
            imgs.select("file")
            .join(drop_exact.withColumn("ex", F.lit(1)), "file", "left")
            .join(near, "file", "left")
            .select(
                "file",
                F.when(F.col("ex").isNotNull(), "drop_exact")
                .when(F.col("dup_of").isNotNull(), "drop_near")
                .otherwise("keep")
                .alias("action"),
                F.when(F.col("ex").isNull(), F.col("dup_of")).alias("dup_of"),
                F.when(F.col("ex").isNull(), F.col("hamming")).alias(
                    "hamming"
                ),
            )
            .persist()
        )
        write_log(decisions, self.out_dir, batch_id)
        kept = decisions.filter(F.col("action") == "keep").select("file")
        for kind, rows in (("digests", bdig), ("bands", bbands)):
            write_log(
                rows.join(kept, "file", "left_semi"), self._store(kind),
                batch_id,
            )
        decisions.unpersist()
        bbands.unpersist()
        imgs.unpersist()
