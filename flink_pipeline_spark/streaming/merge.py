"""Streaming CDC apply — the deployment form of the batch
q_cdc_apply (plans/relational.py): a foreachBatch sink that MERGEs
each micro-batch of insert/update/delete change rows into a persisted
base table with operators/merge.merge_into — the eighth streaming
deployment form, completing the L9 temporal family the way the image
band store and mergeable-KMV monitors completed theirs.

Contract: change rows carry the key columns, an ``op`` in
{'insert','update','delete'}, the full post-image of every non-key
base column, and a monotone ``seq`` (the CDC log's LSN / offset).
Within a micro-batch the feed is COMPACTED to final images first —
last image per key wins, by (seq, op, payload) total order — which is
exactly merge_into's one-change-row-per-key contract; compaction is
correct under merge_into's upsert-tolerant semantics (delete-then-
insert compacts to the insert, insert-then-delete to the no-op
delete). Malformed ops fail loudly inside merge_into (ADVICE r9).

Each batch stores the FULL merged base as a snapshot
(heavy.write_latest / read_latest; ``init`` seeds it at
``batch_id=-1``), so a replayed batch re-derives a byte-identical
snapshot instead of double-applying. Reads use the required-store
policy: an uninitialized store and a read of pruned history both raise
(the r9-ADVICE contract).

Scale: the merge itself is ONE full-outer key join per trigger — the
change side is a micro-batch (tiny; AQE broadcasts it), the base side
is key-partitioned once. The snapshot WRITE is the copy-on-write
trade this plain-parquet store makes explicit: each trigger persists
a full new base version (what Delta/Iceberg avoid with a transaction
log + file-level rewrite). Production at 100 TB partitions the base
by a key prefix and rewrites only partitions the batch touches — the
merge plan is unchanged; only the sink's overwrite scope narrows
(spark.sql.sources.partitionOverwriteMode=dynamic).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.merge import merge_into
from .heavy import read_latest, write_latest, write_log


class CDCApplyMonitor:
    """foreachBatch sink: maintain a merged base table under a stream
    of keyed insert/update/delete changes."""

    def __init__(
        self,
        store_dir: str,
        keys: Sequence[str] = ("doc_id",),
        op_col: str = "op",
        seq_col: str = "seq",
    ) -> None:
        self.store_dir = store_dir
        self.keys = list(keys)
        self.op_col = op_col
        self.seq_col = seq_col

    def _path(self) -> str:
        return os.path.join(self.store_dir, "base")

    def init(self, base: DataFrame) -> None:
        """Seed the store with the pre-stream base snapshot (the v1
        table a CDC feed starts from). Must run once before the
        stream starts; batch ids from Structured Streaming start at 0,
        so the seed lives at the sentinel partition batch_id=-1."""
        write_log(base, self._path(), -1)

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        base = self._read(spark, batch_id)
        payload = [c for c in base.columns if c not in self.keys]
        # last image per key wins: rank by seq desc with a full
        # deterministic tiebreak so a replayed/re-partitioned batch
        # compacts identically even under duplicate seq values
        w = Window.partitionBy(*self.keys).orderBy(
            F.col(self.seq_col).desc(),
            F.col(self.op_col).desc(),
            *[F.col(c).desc_nulls_last() for c in payload],
        )
        compacted = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(*self.keys, self.op_col, *payload)
        )
        merged = merge_into(base, compacted, self.keys, op_col=self.op_col)
        write_latest(merged, self._path(), batch_id)

    def table(self, spark, after_batch_id: int) -> DataFrame:
        """The merged base as of AFTER ``after_batch_id`` (lazy)."""
        return self._read(spark, after_batch_id + 1)

    def _read(self, spark, before: int) -> DataFrame:
        # an uninit'd store raises: merging into nothing would
        # silently drop the base contract
        return read_latest(
            spark, self._path(), None, before, "snapshot of the cdc base",
            required=True,
        )
