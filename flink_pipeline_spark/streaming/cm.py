"""Streaming Count-Min frequency monitor: the mergeability of the
Count-Min sketch (q_freq_cm), deployed — per micro-batch, the batch's
(d, bucket) cell counts are SUMMED into a persisted grid. The CM grid
is a plain per-cell counter, so cell-wise addition is EXACT merge
(sketch(A ++ B) = sketch(A) + sketch(B)); the streamed grid after N
batches is bit-identical to the batch sketch over the concatenated
corpus, which is what the stream==batch pytest pins against the
registered q_freq_cm grid on the same data.

The cell addressing comes from the SAME function the batch query uses
(plans/profiling.cm_cells / cm_bucket_array), so the two deployments
cannot fork.

Each batch stores the full merged grid (<= CM_D x CM_W rows — tiny)
as a snapshot (heavy.write_latest / read_latest).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.profiling import CM_D, CM_W  # noqa: F401  (one source of truth)
from .heavy import read_latest, write_latest


class CMMonitor:
    """foreachBatch sink: maintain the Count-Min grid of the token
    stream across all batches seen so far."""

    def __init__(self, store_dir: str) -> None:
        self.store_dir = store_dir

    def _path(self) -> str:
        return os.path.join(self.store_dir, "grid")

    def _read_latest(self, spark, batch_id: int) -> DataFrame:
        return read_latest(
            spark, self._path(), "d INT, bucket BIGINT, cnt BIGINT", batch_id,
            "cm grid",
        )

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        from ..plans.profiling import cm_cells

        spark = batch.sparkSession
        prior = self._read_latest(spark, batch_id)
        bg = (
            cm_cells(batch.select("text"))
            .groupBy("d", "bucket")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        merged = (
            prior.unionByName(bg)
            .groupBy("d", "bucket")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
        write_latest(merged, self._path(), batch_id)

    def estimates(self, spark, after_batch_id: int, toks: DataFrame) -> DataFrame:
        """(tok, cm_estimate) for the probe tokens in ``toks`` (one
        string column ``tok``) as of AFTER ``after_batch_id`` — the
        min-over-rows point query, identical to the batch query's.
        A probe whose cells were never touched estimates 0 (CM's
        floor for a never-seen key)."""
        from ..plans.profiling import cm_bucket_array

        grid = self._read_latest(spark, after_batch_id + 1)
        pc = toks.select(
            "tok", F.posexplode(cm_bucket_array()).alias("d", "bucket")
        )
        return (
            pc.join(F.broadcast(grid), ["d", "bucket"], "left")
            .groupBy("tok")
            .agg(
                F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                .cast("long")
                .alias("cm_estimate")
            )
        )
