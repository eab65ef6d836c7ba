"""Streaming quantile monitor: the mergeability of the bottom-k-by-
hash-tag quantile sketch (q_quantile_sketch), deployed — per
micro-batch, merge the batch rows' tagged values into a persisted
sketch of the k smallest tags. Union-then-keep-k-smallest is EXACT
merge for a bottom-k sample (the k smallest tags of a union are the
k smallest of the merged per-part bottom-k sets — the same property
streaming/kmv.py pins for KMV), so the streamed sketch after N
batches is bit-identical to the batch sketch over the concatenated
rows, and the quantile estimates read off it are bit-identical too —
pinned by tests/test_round10_ops.py.

The sketch unit comes from the SAME function the batch query uses
(plans/profiling.price_tags), so the two deployments cannot fork.

Each batch stores the full merged sketch (<= k rows — tiny) as a
snapshot (heavy.write_latest / read_latest).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .heavy import read_latest, write_latest

QSK_K = 256  # must match plans/profiling.QSK_K (asserted in tests)


class QuantileMonitor:
    """foreachBatch sink: maintain a bottom-k quantile sketch of
    lineitem extended prices across all batches seen so far."""

    def __init__(self, store_dir: str, k: int = QSK_K) -> None:
        self.store_dir = store_dir
        self.k = k

    def _path(self) -> str:
        return os.path.join(self.store_dir, "sketch")

    def _read_latest(self, spark, batch_id: int) -> DataFrame:
        return read_latest(
            spark, self._path(), "val DOUBLE, h BIGINT", batch_id,
            "quantile sketch",
        )

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        from ..plans.profiling import price_tags

        spark = batch.sparkSession
        prior = self._read_latest(spark, batch_id)
        merged = prior.unionByName(price_tags(batch))
        sketch = (
            merged.orderBy("h", "val").limit(self.k).select("val", "h")
        )
        write_latest(sketch, self._path(), batch_id)

    def sketch(self, spark, after_batch_id: int) -> DataFrame:
        """The (val, h) sketch as of AFTER ``after_batch_id``."""
        return self._read_latest(spark, after_batch_id + 1)

    def estimates(self, spark, after_batch_id: int) -> DataFrame:
        """(permille, k, est) quantile estimates read off the stored
        sketch — the ceil(q*k) order statistic, identical integer rank
        rule to the batch query's."""
        from ..plans.profiling import QSK_PERMILLE

        sk = self._read_latest(spark, after_batch_id + 1)
        w = Window.orderBy("val", "h")
        ranked = sk.select("val", F.row_number().over(w).alias("rn"))
        k1 = sk.agg(F.count("*").cast("long").alias("k"))
        qs = (
            spark.range(1)
            .select(
                F.explode(
                    F.array(*[F.lit(p) for p in QSK_PERMILLE])
                ).alias("pm")
            )
            .select(F.col("pm").cast("long").alias("permille"))
        )
        grid = qs.crossJoin(F.broadcast(k1)).select(
            "permille",
            "k",
            F.expr("(k * permille + 999) div 1000").alias("r_est"),
        )
        return grid.join(
            F.broadcast(ranked), F.col("rn") == F.col("r_est")
        ).select("permille", "k", F.col("val").alias("est"))
