"""Persisted COMPRESSED (IVFADC) index store: train the residual PQ
codebook once, persist codebook + centroids + the cell-tagged code
table, then SERVE compressed searches from the store and code
arriving vectors in per micro-batch — the serving deployment of
q_sim_ivfpq_rerank (r11 verdict's #6 ask: persist PQ codes +
codebooks beside the graph adjacency — the DiskANN memory-bounded
serving layout: ~1/32-size codes are the hot working set, full
vectors stay cold in the corpus parquet and are touched only at
shortlist width by the exact re-rank), and the TWELFTH streaming
deployment form.

Store layout (the streaming/ann_index.py conventions):

* ``cb.parquet`` / ``cents.parquet`` — the TRAINING artifacts
  (residual codebook (sub, code, cv); centroid set (vec_id,
  embedding)), written once by ``init`` and FROZEN: retraining would
  re-code the whole corpus, so production freezes the quantizers and
  periodically rebuilds offline (exactly when this store's content
  key rotates).
* ``codes/batch_id=N`` — append-only log of cell-tagged PQ codes
  (vec_id, sub, code, cell); batch N's arrivals land in their own
  partition. Coding is PER-VECTOR and stateless given the frozen
  artifacts, so the fold never reads or rewrites prior state — the
  simplest replay story in the family: a crashed batch re-derives
  its own partition from its own input alone.
* ``tombs/batch_id=N`` — append-only log of DELETED vec_ids (the
  streaming/ann_index.py convention): the code log is never
  rewritten — serving masks tombstoned rows with one anti-join on
  the hot tier; bytes are reclaimed only by an offline log rewrite.

Search (``adc_topk``) replays q_sim_ivfpq_topk's probe/LUT/ADC stage
(operators/llm.ivfpq_scan — the SAME function the batch query runs)
over the stored artifacts; the exact re-rank stage joins the
shortlist back to the full-vector corpus exactly as
q_sim_ivfpq_rerank does, so the served answer shares that query's
oracle text verbatim.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.llm import (
    ivfpq_artifacts,
    ivfpq_radius_scan,
    ivfpq_scan,
    pq_code_batch,
)
from .heavy import _part, read_log, split_ops, write_log

_CODE_SCHEMA = "vec_id BIGINT, sub INT, code INT, cell BIGINT"


class PQIndexMonitor:
    """foreachBatch sink: maintain the persisted IVFADC code log under
    ``store_dir``; serve compressed searches from any committed
    snapshot."""

    def __init__(
        self,
        store_dir: str,
        n_codes: int = 16,
        nprobe: int = 2,
        m: int = 8,
        d_sub: int = 8,
    ) -> None:
        self.store_dir = store_dir
        self.n_codes = n_codes
        self.nprobe = nprobe
        self.m = m
        self.d_sub = d_sub

    def _path(self, kind: str) -> str:
        return os.path.join(self.store_dir, kind)

    # -- store I/O ---------------------------------------------------

    def init(self, emb: DataFrame, centroids: DataFrame) -> None:
        """Train + seed: build the residual codebook and the full code
        table over ``emb`` (the one training pass a compressed serving
        deployment ever pays) and write codebook, centroids, and the
        sentinel ``batch_id=-1`` code partition."""
        cb, codes = ivfpq_artifacts(
            emb, centroids, self.n_codes, self.m, self.d_sub
        )
        cb.write.mode("overwrite").parquet(self._path("cb.parquet"))
        centroids.select("vec_id", "embedding").write.mode(
            "overwrite"
        ).parquet(self._path("cents.parquet"))
        write_log(
            codes.select("vec_id", "sub", "code", "cell"), self._path("codes"),
            -1,
        )

    def copy_base(self, dst: str) -> "PQIndexMonitor":
        """Copy the ``init`` snapshot (codebook, centroids and the
        ``batch_id=-1`` code partition) into a fresh store at ``dst``
        and return its monitor, with this one's settings — the start
        of a store derived from this one by folding batches in."""
        for kind in ("cb.parquet", "cents.parquet"):
            shutil.copytree(self._path(kind), os.path.join(dst, kind))
        codes = self._path("codes")
        shutil.copytree(_part(codes, -1), _part(os.path.join(dst, "codes"), -1))
        return self._at(dst)

    def _at(self, store_dir: str) -> "PQIndexMonitor":
        return PQIndexMonitor(
            store_dir,
            n_codes=self.n_codes,
            nprobe=self.nprobe,
            m=self.m,
            d_sub=self.d_sub,
        )

    def _read_artifacts(self, spark):
        cb_path = self._path("cb.parquet")
        if not os.path.isdir(cb_path):
            raise ValueError(
                "pq index: store has no codebook — call init first"
            )
        return (
            spark.read.parquet(cb_path),
            spark.read.parquet(self._path("cents.parquet")),
        )

    def codes(self, spark, after_batch_id: int) -> DataFrame:
        """(vec_id, sub, code, cell): every code row as of after
        ``after_batch_id``, tombstoned rows included."""
        return read_log(
            spark, self._path("codes"), _CODE_SCHEMA, after_batch_id + 1,
            "code partitions of the pq index", required=True,
        )

    def tombs(self, spark, after_batch_id: int) -> DataFrame:
        """(vec_id): every id tombstoned as of after ``after_batch_id``
        — the streaming/ann_index.py contract: an absent tombstone log
        is a valid state (no delete has ever run), read as the empty
        mask."""
        return read_log(
            spark, self._path("tombs"), "vec_id BIGINT", after_batch_id + 1,
            "pq index tombstones",
        )

    def live_codes(self, spark, after_batch_id: int) -> DataFrame:
        """codes() read through the tombstone mask (one anti-join on
        the hot tier) — what every scan and the offline rewrite read,
        so a deleted vector can never be shortlisted."""
        return self.codes(spark, after_batch_id).join(
            self.tombs(spark, after_batch_id), "vec_id", "left_anti"
        )

    # -- the foreachBatch fold ----------------------------------------

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        """Code arrivals; append delete tombstones. A batch with an
        ``op`` column splits (op='delete' ids tombstone, op='insert'
        rows code); without one, the whole batch is arrivals. The code
        log is NEVER rewritten on delete — the compressed index masks
        tombstoned rows at scan time (one anti-join on the ~1/32-size
        code table), and the bytes are reclaimed only by an offline
        log rewrite, the FreshDiskANN split the graph store documents.
        Both folds are stateless given the frozen artifacts, so a
        crashed batch re-derives its partitions from its own input."""
        spark = batch.sparkSession
        cb, cents = self._read_artifacts(spark)
        dels, arrivals = split_ops(batch)
        # the ann_index.py re-insert contract, applied to the
        # compressed family: a tombstoned vec_id is masked on every
        # read forever, so re-coding it would store rows that can
        # never be served — refuse loudly (ADVICE r12). As in the
        # graph store, the probe unions this batch's own dels with the
        # prior tombstone log so a same-batch delete+insert of one
        # vec_id is refused too (ADVICE r13).
        tombs = self.tombs(spark, batch_id - 1)
        if not arrivals.join(
            tombs.unionByName(dels), "vec_id", "semi"
        ).isEmpty():
            raise ValueError(
                "pq index: batch re-inserts previously tombstoned "
                "vec_id(s) — unsupported (tombstoned ids are dead "
                "forever; code under a fresh vec_id instead)"
            )
        if "op" in batch.columns:
            write_log(dels, self._path("tombs"), batch_id)
        codes = pq_code_batch(arrivals, cb, cents, self.m, self.d_sub)
        write_log(
            codes.select("vec_id", "sub", "code", "cell"), self._path("codes"),
            batch_id,
        )

    # -- offline reclamation ---------------------------------------------

    def rewrite(self, spark, out_dir: str, after_batch_id: int):
        """Offline code-log COMPACTION — the log rewrite every
        tombstone-masking store defers to (SCALING 12d; r12 verdict's
        #2 ask): read the code log through the tombstone mask as of
        after ``after_batch_id`` and write a FRESH store at
        ``out_dir`` — the same frozen training artifacts (codebook +
        centroids, copied by re-write so the output is self-contained),
        one consolidated ``batch_id=-1`` code partition holding only
        surviving rows, and NO tombstone log. Serving from the
        rewritten store therefore pays neither the per-query anti-join
        against a real tombstone set nor the scan over dead code rows,
        and the tombstone partitions' bytes are reclaimed — this is
        the FreshDiskANN merge step expressed on the flat family.

        Correctness: coding is per-vector under frozen artifacts, so
        dropping masked rows commutes with every downstream scan —
        post-rewrite serve == masked serve by construction, and
        q_sim_ivfpq_rewrite registers the masked row's oracle text
        verbatim to keep that equivalence driver-gated.

        Scale: one full scan of the hot tier (~1/32 the corpus float
        bytes) with an anti-join against the tombstone set, written
        back partitioned — the classic offline compaction job; run it
        when the tombstone fraction makes the mask cost visible.
        Returns a monitor over ``out_dir`` (callers build it as a
        private dir that heavy.build_once publishes)."""
        cb, cents = self._read_artifacts(spark)
        codes = self.live_codes(spark, after_batch_id)
        cb.write.mode("overwrite").parquet(os.path.join(out_dir, "cb.parquet"))
        cents.write.mode("overwrite").parquet(
            os.path.join(out_dir, "cents.parquet")
        )
        write_log(
            codes.select("vec_id", "sub", "code", "cell"),
            os.path.join(out_dir, "codes"), -1,
        )
        return self._at(out_dir)

    # -- the serving path ----------------------------------------------

    def adc_topk(
        self, spark, queries: DataFrame, after_batch_id: int, k: int
    ) -> DataFrame:
        """(query_id, neighbor_id, rank, adist_q): the compressed ADC
        shortlist served from the store as of after ``after_batch_id``
        — zero training cost; the scan is operators/llm.ivfpq_scan,
        the SAME stage the batch queries run, over the stored code
        log. The caller composes the exact full-vector re-rank
        (q_sim_ivfpq_rerank's second stage) against the corpus
        parquet — the store deliberately does NOT duplicate full
        vectors (DiskANN's split: codes hot, vectors cold).
        Tombstoned rows are masked out of the code scan (one
        anti-join on the hot tier), so a deleted vector can never be
        shortlisted — the never-serve-deleted contract on the
        compressed family."""
        cb, cents = self._read_artifacts(spark)
        codes = self.live_codes(spark, after_batch_id)
        return ivfpq_scan(
            codes,
            cb,
            cents,
            queries,
            k=k,
            nprobe=self.nprobe,
            m=self.m,
            d_sub=self.d_sub,
        )

    def adc_radius(
        self, spark, queries: DataFrame, after_batch_id: int, radius_adc: int
    ) -> DataFrame:
        """(query_id, neighbor_id, adist_q): RADIUS scan served from
        the store — every probed-cell code row within ADC distance
        ``radius_adc``, tombstones masked exactly as in adc_topk.
        ADC distances approximate, so callers pass a slacked cut and
        exact-verify survivors against the cold full-vector tier
        (the q_sim_pq_radius two-stage radius discipline)."""
        cb, cents = self._read_artifacts(spark)
        codes = self.live_codes(spark, after_batch_id)
        return ivfpq_radius_scan(
            codes,
            cb,
            cents,
            queries,
            radius_adc=radius_adc,
            nprobe=self.nprobe,
            m=self.m,
            d_sub=self.d_sub,
        )
