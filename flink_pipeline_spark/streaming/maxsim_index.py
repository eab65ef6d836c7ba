"""Persisted MULTI-VECTOR (MaxSim / PLAID) index store — the
THIRTEENTH streaming deployment form (r13 verdict's #4 ask): every
other search family serves from a store, while the MaxSim rows
rebuilt their token-posting machinery per run. This store persists
the PLAID-shape artifacts (Santhanam et al. 2022 — the ColBERTv2
serving layout):

* ``cents.parquet`` — the FROZEN centroid set (vec_id, embedding):
  the one training artifact of the token-level IVF; retraining would
  re-assign every token, so production freezes it and rebuilds
  offline (exactly when this store's content key rotates — the
  streaming/pq_index.py convention).
* ``tokens/batch_id=N`` — the append-only TOKEN ASSIGNMENT LOG
  (vec_id, cell): one row per token vector, its IVF cell under the
  frozen centroids. The (doc, occupied-cell) posting table PLAID's
  stage 1 scans, and the candidate-nomination table the token-probe
  discipline scans, are both one projection of this log
  (doc = vec_id div tokens-per-doc). Assignment is PER-TOKEN and
  stateless given the frozen centroids, so the fold never reads or
  rewrites prior state — the pq-store replay story: a crashed batch
  re-derives its own partition from its own input alone.

The store deliberately does NOT duplicate token vectors: the exact
MaxSim stage reads the full-vector corpus parquet at candidate width
(codes/postings hot, vectors cold — the DiskANN split the other two
stores document).

Deletes are REFUSED loudly (no tombstone tier here yet): silently
dropping a delete batch would be data loss, and serving masks would
need a tombstone log — the compressed store documents that
discipline; add it here when a caller needs it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.llm import ivf_assign
from .heavy import read_log, split_ops, write_log

_TOKEN_SCHEMA = "vec_id BIGINT, cell BIGINT"


class MaxSimIndexMonitor:
    """foreachBatch sink: maintain the persisted token-assignment log
    under ``store_dir``; serve candidate generation from any committed
    snapshot."""

    def __init__(self, store_dir: str) -> None:
        self.store_dir = store_dir

    def _path(self, kind: str) -> str:
        return os.path.join(self.store_dir, kind)

    # -- store I/O ---------------------------------------------------

    def init(self, emb: DataFrame, centroids: DataFrame) -> None:
        """Freeze the centroid set and write the full token assignment
        log as the sentinel ``batch_id=-1`` partition."""
        centroids.select("vec_id", "embedding").write.mode(
            "overwrite"
        ).parquet(self._path("cents.parquet"))
        write_log(
            ivf_assign(emb, centroids).select("vec_id", "cell"),
            self._path("tokens"), -1,
        )

    def _read_cents(self, spark) -> DataFrame:
        path = self._path("cents.parquet")
        if not os.path.isdir(path):
            raise ValueError(
                "maxsim index: store has no centroid set — call init first"
            )
        return spark.read.parquet(path)

    def tokens(self, spark, after_batch_id: int) -> DataFrame:
        """(vec_id, cell): the token assignment log as of after
        ``after_batch_id`` — the posting/nomination table both serving
        disciplines scan."""
        return read_log(
            spark, self._path("tokens"), _TOKEN_SCHEMA, after_batch_id + 1,
            "token partitions of the maxsim index", required=True,
        )

    # -- the foreachBatch fold ----------------------------------------

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        """Assign arriving token vectors against the FROZEN centroids
        and append their log partition. Deletes are refused loudly
        (module docstring); re-inserting an already-indexed vec_id is
        refused too (it would double-post the token — the index-family
        re-insert contract, one existence probe per batch)."""
        spark = batch.sparkSession
        cents = self._read_cents(spark)
        dels, arrivals = split_ops(batch)
        if not dels.isEmpty():
            raise ValueError(
                "maxsim index: delete batches are unsupported on the "
                "token-posting store (no tombstone tier) — rebuild "
                "under a fresh content key instead"
            )
        have = self.tokens(spark, batch_id - 1).select("vec_id")
        if not arrivals.join(have, "vec_id", "semi").isEmpty():
            raise ValueError(
                "maxsim index: batch re-inserts already-indexed "
                "vec_id(s) — that would double-post the token; index "
                "under a fresh vec_id instead"
            )
        write_log(
            ivf_assign(arrivals.select("vec_id", "embedding"), cents).select(
                "vec_id", "cell"
            ),
            self._path("tokens"), batch_id,
        )
