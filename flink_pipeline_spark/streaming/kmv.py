"""Streaming KMV distinct-count monitor: the mergeability of the
k-minimum-values sketch (q_distinct_kmv), deployed — per micro-batch,
merge the batch's k smallest distinct 3-gram hashes into a persisted
per-source sketch store. Union-then-keep-k-smallest is EXACT merge
for KMV (the k smallest of a union equal the k smallest of the merged
per-part k-smallest sets), so the streamed sketch after N batches is
bit-identical to the batch sketch over the concatenated corpus — the
property the stream==batch pytest pins against the registered
q_distinct_kmv estimator on the same data.

The sketch unit comes from the SAME function the batch query uses
(plans/profiling.gram3_hashes), so the two deployments cannot fork.

Each batch stores the full merged sketch (<= k rows per source —
tiny) as a snapshot (heavy.write_latest / read_latest).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .heavy import read_latest, write_latest

KMV_K = 64  # must match plans/profiling.KMV_K (asserted in tests)
_2_56 = 72057594037927936.0


class KMVMonitor:
    """foreachBatch sink: maintain per-source KMV sketches of the
    distinct 3-gram space across all batches seen so far."""

    def __init__(self, store_dir: str, k: int = KMV_K) -> None:
        self.store_dir = store_dir
        self.k = k

    def _path(self) -> str:
        return os.path.join(self.store_dir, "sketch")

    def _read_latest(self, spark, batch_id: int) -> DataFrame:
        return read_latest(
            spark, self._path(), "source STRING, h BIGINT", batch_id,
            "kmv sketch",
        )

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        from ..plans.profiling import gram3_hashes

        spark = batch.sparkSession
        prior = self._read_latest(spark, batch_id)
        bh = gram3_hashes(batch.select("source", "text"))
        merged = prior.unionByName(bh).distinct()
        w = Window.partitionBy("source").orderBy("h")
        sketch = (
            merged.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= self.k)
            .select("source", "h")
        )
        write_latest(sketch, self._path(), batch_id)

    def estimates(self, spark, after_batch_id: int) -> DataFrame:
        """(source, n_sketch, kmv_estimate) as of AFTER
        ``after_batch_id`` — the (k-1) * 2^56 / h_k estimator with the
        small-set fallback, identical to the batch query's."""
        sk = self._read_latest(spark, after_batch_id + 1)
        w = Window.partitionBy("source").orderBy("h")
        ranked = sk.select(
            "source",
            "h",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy("source")).alias("nd"),
        )
        kth = (
            ranked.filter(F.col("rn") <= self.k)
            .groupBy("source")
            .agg(
                F.first("nd").cast("long").alias("n_sketch"),
                F.max(F.when(F.col("rn") == self.k, F.col("h")))
                .cast("long")
                .alias("hk"),
            )
        )
        est = F.when(F.col("hk").isNull(), F.col("n_sketch")).otherwise(
            F.floor((self.k - 1) * F.lit(_2_56) / F.col("hk") + F.lit(0.5))
        )
        return kth.select(
            "source", "n_sketch", est.cast("long").alias("kmv_estimate")
        )
