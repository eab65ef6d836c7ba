"""Streaming distribution-drift monitor: per-micro-batch PSI against
a PERSISTED reference profile (r7 verdict gap #4 — the deployment form
of the batch cohort-vs-cohort q_drift_psi).

Deployment shape: a reference profile — the (event_type, bucket,
n_ref_b) histogram of a blessed cohort — is built ONCE (from a batch
frame, ``build_reference_profile``) and persisted; every micro-batch
then reduces to its own tiny bucket grid, full-outer-joins the profile
over the union of observed buckets, and computes the SAME
Laplace-smoothed PSI term text q_drift_psi gates (one shared SQL
string — plans/profiling._PSI_TERM_SQL — so the streaming and batch
monitors cannot drift from each other). Each batch's rows
are one log partition (heavy.write_log): a crashed batch re-derives
byte-identical PSI rows instead of appending duplicates.

Per-trigger cost: the batch reduces map-side to #types x #buckets
cells before any join or PSI math; the reference profile is a
same-sized tiny table (broadcast by AQE). Nothing corpus-sized ever
shuffles — the monitor's cost is the batch scan plus two tiny
aggregates, per trigger.

foreachBatch is the right hook for the same reason the dedup ingest
uses it: the reference profile is a cross-batch table the engine's
per-key state stores cannot hold (and should not — it is shared,
read-only state, not per-key evolving state).

Equivalence contract (pinned by tests/test_streaming.py): streaming
the 'current' cohort as micro-batches against a profile built from
the 'reference' cohort reproduces q_drift_psi's psi_q EXACTLY when a
batch covers the full cohort, because both reduce to identical
(event_type, bucket) count grids before the shared term text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .heavy import write_log


def _psi_bits():
    # lazy import: plans.* imports streaming modules transitively via
    # the registry loader; importing plans at module-import time here
    # would cycle.
    from ..plans.profiling import _PSI_TERM_SQL, PSI_BUCKET_WIDTH

    return _PSI_TERM_SQL, PSI_BUCKET_WIDTH


def _bucket_counts(
    events: DataFrame, value_col: str, type_col: str, width: float, out: str
) -> DataFrame:
    """(event_type, bucket, <out>): the tiny per-type histogram grid —
    the only reduction the corpus-sized side ever pays."""
    return (
        events.select(
            F.col(type_col).alias("event_type"),
            F.floor(F.col(value_col) / width).cast("long").alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").cast("long").alias(out))
    )


def build_reference_profile(
    events: DataFrame,
    ref_dir: str,
    value_col: str = "value",
    type_col: str = "event_type",
    bucket_width: float | None = None,
) -> None:
    """Persist the blessed cohort's (event_type, bucket, n_ref_b)
    histogram — the artifact every subsequent micro-batch probes."""
    _, default_w = _psi_bits()
    w = bucket_width if bucket_width is not None else default_w
    _bucket_counts(events, value_col, type_col, w, "n_ref_b").write.mode(
        "overwrite"
    ).parquet(ref_dir)


class DriftMonitor:
    """foreachBatch sink: per micro-batch, per event type, PSI of the
    batch's value distribution vs the persisted reference profile.

    Emits (event_type, n_ref, n_cur, n_buckets, psi_q) rows — the
    q_drift_psi schema — to ``out_dir/batch_id=N`` (overwrite:
    replay-idempotent). ``psi_q`` is the exact-integer
    hundred-millionths PSI; the standard screen flags psi_q > 2e7
    (PSI 0.2) as a major shift.
    """

    def __init__(
        self,
        ref_dir: str,
        out_dir: str,
        value_col: str = "value",
        type_col: str = "event_type",
        bucket_width: float | None = None,
    ) -> None:
        _, default_w = _psi_bits()
        self.ref_dir = ref_dir
        self.out_dir = out_dir
        self.value_col = value_col
        self.type_col = type_col
        self.bucket_width = (
            bucket_width if bucket_width is not None else default_w
        )

    def psi(self, batch: DataFrame) -> DataFrame:
        """The batch's PSI frame (lazy) — exposed separately so the
        stream==batch equivalence test gates the math without a sink."""
        term_sql, _ = _psi_bits()
        spark = batch.sparkSession
        ref = spark.read.parquet(self.ref_dir)
        cur = _bucket_counts(
            batch, self.value_col, self.type_col, self.bucket_width, "n_cur_b"
        )
        # union of observed buckets (full outer, zero-filled): exactly
        # the grid q_drift_psi builds from one table — a bucket seen by
        # either cohort contributes a smoothed term
        cnt = (
            ref.join(cur, ["event_type", "bucket"], "full_outer")
            .select(
                "event_type",
                "bucket",
                F.coalesce("n_ref_b", F.lit(0)).cast("long").alias("n_ref_b"),
                F.coalesce("n_cur_b", F.lit(0)).cast("long").alias("n_cur_b"),
            )
        )
        tot = cnt.groupBy("event_type").agg(
            F.sum("n_ref_b").cast("double").alias("nr"),
            F.sum("n_cur_b").cast("double").alias("nc"),
            F.count("*").cast("double").alias("nb"),
        )
        return (
            cnt.join(F.broadcast(tot), "event_type")
            .groupBy(
                "event_type",
                F.col("nr").cast("long").alias("n_ref"),
                F.col("nc").cast("long").alias("n_cur"),
                F.col("nb").cast("long").alias("n_buckets"),
            )
            .agg(F.sum(F.expr(term_sql)).cast("long").alias("psi_q"))
        )

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        write_log(self.psi(batch), self.out_dir, batch_id)
