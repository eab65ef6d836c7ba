"""Streaming heavy hitters: a Misra-Gries frequency summary maintained
across micro-batches in a persisted store — the unbounded-retention
answer for "which keys dominate the stream so far" when the key domain
(users, IPs, doc sources) is far too large to count exactly in state.

Algorithm (Misra-Gries k-summary, merged per batch): the summary holds
at most ``k`` (key, est) counters. Each micro-batch's EXACT counts
(bounded by the batch, not the stream) merge into the prior summary by
addition; if more than k keys remain, every counter decrements by the
(k+1)-th largest estimate and non-positive counters drop. The merge
preserves the MG guarantees stream-wide:

* underestimate: est(key) <= true(key) for every key, always;
* bounded error: true(key) - est(key) <= floor(N / (k+1)) where N is
  the total count seen so far (tracked in a 1-row meta table);
* completeness: any key with true frequency > N/(k+1) is IN the
  summary (its estimate cannot have reached zero).

So the monitor never misses a true heavy hitter and its counts are
certifiably close — the property tests pin all three against exact
batch counts (tests/test_streaming.py).

Each batch stores the FULL new summary (<= k rows — tiny) and a 1-row
meta (n_total) as snapshots (``write_latest`` / ``read_latest`` below),
so a crashed batch re-derives byte-identical summaries instead of
compounding its own half-written state. Determinism: the (k+1)-th
largest estimate is selected with a full (est DESC, key) tiebreak, so
a replayed or re-partitioned batch always decrements by the same value.

Per-trigger cost: one exact groupBy on the batch (map-side combined),
a <= (k + batch-distinct)-row merge, one tiny write. Nothing
stream-history-sized is ever scanned or shuffled; the summary IS the
history. foreachBatch is the right hook because the summary is shared
cross-batch state, not per-key evolving state.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def partition_ids(spark, path: str) -> list[int]:
    """List the ``batch_id=N`` partition ids under ``path`` via the
    Hadoop FS API (local and HDFS alike) — a driver-side listing, no
    Spark job. Missing root maps to []."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    out: list[int] = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith("batch_id="):
            continue
        try:
            out.append(int(name.split("=", 1)[1]))
        except ValueError:
            continue
    return out


def read_latest(
    spark,
    path: str,
    schema: str | None,
    before: int,
    label: str,
    required: bool = False,
) -> DataFrame:
    """The newest ``batch_id=B`` partition under ``path`` with
    B < ``before`` — the one snapshot-read rule: a snapshot store (the
    summary monitors, the CDC base, the ANN adjacency) holds whole
    versions, so a batch reads the last version strictly before its
    own and a replayed batch re-derives byte-identical state.

    Empty-store policy: a missing or empty store reads as an empty
    ``schema`` frame, or raises ("call init first") when ``required``
    — a store seeded by ``init`` that reads as empty would silently
    merge into or probe nothing. A store whose surviving partitions
    are ALL >= ``before`` always raises: pruning keeps only the latest
    and one prior snapshot, so the requested history no longer exists,
    and an empty frame would silently misreport it as "nothing seen
    yet". Batch 0 nuance: in a store that ``init`` does not seed, a
    store whose only partition is ``batch_id=0`` is a batch 0 that
    wrote and crashed before its commit; Structured Streaming replays
    it, so it reads as empty and the replay overwrites that partition
    (the same store a fresh start writes). Any partition >= 1 with
    nothing before batch 0 means the store dir is being REUSED by a
    new stream (batch 0 is never replayed after batch 1 commits — the
    checkpoint advances only on commit), which gets its own error.
    ``label`` names what is read in every error. The partition is
    selected by a driver-side FS listing (no historical-partition
    scan) and read directly, so a monitor never races its own prune;
    EXTERNAL concurrent readers listing the store root must tolerate
    pruned partitions (set spark.sql.files.ignoreMissingFiles)."""
    bids = partition_ids(spark, path)
    prior = [b for b in bids if b < before]
    if not prior:
        if bids == [0] and before == 0 and not required:
            # a crash-replayed batch 0: re-derive it from an empty read
            # and overwrite its partition, exactly as a fresh start would
            return _empty(spark, schema, bids, before, label, required)
        if bids and before == 0 and not required:
            raise ValueError(
                f"no {label} before batch 0: store already populated "
                "— a new stream must start from a fresh store dir "
                f"(have {sorted(bids)})"
            )
        if bids:
            raise ValueError(
                f"no {label} before batch {before} survives pruning "
                f"(have {sorted(bids)})"
            )
        return _empty(spark, schema, bids, before, label, required)
    return _read(spark, schema, [_part(path, max(prior))])


def read_log(
    spark,
    path: str,
    schema: str | None,
    before: int,
    label: str,
    required: bool = False,
) -> DataFrame:
    """The union of every ``batch_id=B`` partition under ``path`` with
    B < ``before`` — the one append-log read rule (index vectors,
    codes, tokens, tombstones, dedup digests/signatures): batch N's
    rows land in their own partition, so a batch reading strictly
    before its own id never sees its own half-written or later rows,
    and a crashed batch re-derives byte-identical state. The partitions
    are listed on the driver and read directly — no partition
    discovery, so no ``batch_id`` column and no AnalysisException to
    sniff.

    Empty-store policy: when no partition precedes ``before`` the read
    is an empty ``schema`` frame, or raises ("call init first") when
    ``required`` (a log ``init`` seeds at ``batch_id=-1``). Only that
    case is empty: a corrupt or unreadable partition fails the job
    that reads it, never reads as "nothing stored" — a degraded dedup
    store must fail the batch rather than classify standing duplicates
    as 'keep' and index them permanently."""
    bids = partition_ids(spark, path)
    parts = [_part(path, b) for b in sorted(bids) if b < before]
    if not parts:
        return _empty(spark, schema, bids, before, label, required)
    return _read(spark, schema, parts)


def write_log(df: DataFrame, path: str, batch_id: int) -> None:
    """Overwrite ``df`` into the partition of ``batch_id`` under ``path``
    — the write of an append log (read_log) and of every per-batch
    output, and the seed an ``init`` writes at ``batch_id=-1``. The
    overwrite is what makes a replayed batch idempotent: it replaces
    its own half-written partition instead of appending to it."""
    df.write.mode("overwrite").parquet(_part(path, batch_id))


def write_latest(df: DataFrame, path: str, batch_id: int) -> None:
    """write_log, then prune every snapshot before ``batch_id - 1`` —
    the write of a snapshot store (read_latest). Pruning after a
    successful write keeps the latest snapshot plus one prior, so a
    replayed batch N still reads latest-strictly-before-N, and
    read_latest's listing stays two partitions long instead of growing
    with the stream (quadratic cumulative cost, ADVICE r8)."""
    write_log(df, path, batch_id)
    prune_partitions(df.sparkSession, path, batch_id - 1)


def _part(path: str, batch_id: int) -> str:
    return os.path.join(path, f"batch_id={batch_id}")


def _read(spark, schema: str | None, parts: list[str]) -> DataFrame:
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*parts)


def _empty(spark, schema, bids, before, label, required) -> DataFrame:
    if required:
        raise ValueError(
            f"no {label} before batch {before} "
            f"(have {sorted(bids)}; call init first)"
        )
    return spark.createDataFrame([], schema)


def prune_partitions(spark, path: str, keep_from: int) -> None:
    """Delete ``batch_id=B`` partitions under ``path`` with
    B < ``keep_from`` via the Hadoop FS API (local and HDFS alike) —
    write_latest's prune."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    for b in partition_ids(spark, path):
        if b < keep_from:
            fs.delete(hpath(_part(path, b)), True)


PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def package_digest(root: str = PACKAGE_ROOT) -> str:
    """md5 over every ``*.py`` file under ``root`` (the package by
    default), sorted by relative path, each hashed with its path —
    computed once per process (~6 ms for the whole package). It is the
    code identity of every persisted store: whatever a builder reaches
    (plan helpers, operators, oracle text, constants), directly or
    through attributes, lives in one of these files. The path is
    relative, so a copy of the package digests the same."""
    h = hashlib.md5()
    for path in sorted(
        glob.glob(os.path.join(root, "**", "*.py"), recursive=True),
        key=lambda p: os.path.relpath(p, root),
    ):
        h.update(os.path.relpath(path, root).encode() + b"\x00")
        with open(path, "rb") as f:
            h.update(f.read() + b"\x00")
    return h.hexdigest()


def store_key(*material) -> str:
    """The cache key of a persisted index store: ``material`` (the
    corpus identity plus the store's own distinguishing arguments —
    a kind, a name, a (mod, rem) slice) hashed with package_digest, so
    editing ANY source file of the package invalidates every store
    instead of serving a stale one (state identity follows code
    identity, as Structured Streaming reuses a checkpoint only for a
    compatible query). Package granularity over-invalidates — any edit
    costs one rebuild per store — the safe direction for a cache.
    Constants patched at runtime are NOT part of the key: a caller
    that patches a build constant must patch the cache root too. The
    key never holds a path of the cache root, so redirecting the root
    keeps every key. md5 keys a cache path; it is not part of any
    query's math."""
    text = "\x00".join([*map(str, material), package_digest()])
    return hashlib.md5(text.encode()).hexdigest()[:16]


def build_once(store: str, build, monitor):
    """``monitor(store)`` over the persisted store at ``store``, built
    on first use — the one build-once-and-publish rule every persisted
    index store shares. ``build(tmp)`` writes the whole store into a
    private ``<store>.build.<pid>`` dir (wiped first: a crashed build
    of this pid leaves one behind), and publish_store renames it into
    place. Because the rename is atomic, "published" is "``store``
    exists": a half-written build is never at ``store``, so it is never
    served, and a build that raises publishes nothing (its private dir
    is removed) and the next call builds again."""
    import shutil

    if not os.path.isdir(store):
        tmp = f"{store}.build.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            build(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        publish_store(tmp, store)
    return monitor(store)


def publish_store(tmp: str, store: str) -> None:
    """Atomically publish a built store dir ``tmp`` at ``store`` (the
    publish step of build_once). Concurrent builders race benignly:
    one rename wins, the loser's rename fails (target exists) and its
    private build dir is discarded. A rename that fails for a NON-race
    reason (EXDEV, permissions) must not pass for a lost race — that
    returned a monitor over a nonexistent store that failed later with
    a confusing missing-partition error — so after the rename/cleanup,
    the published dir must actually exist. The tmp dir is deleted ONLY
    when the rename lost a benign race (the winner's store exists
    afterward) — on a non-race failure (EXDEV, permissions) the
    expensive build is left in place and its path named in the error,
    so recovery is a manual move instead of a full rebuild."""
    import shutil

    os.makedirs(os.path.dirname(store), exist_ok=True)
    try:
        os.rename(tmp, store)
    except OSError:
        if os.path.isdir(store):
            # lost a benign race: the winner published; discard ours
            shutil.rmtree(tmp, ignore_errors=True)
    if not os.path.isdir(store):
        raise RuntimeError(
            f"store publish failed: {store} missing after rename from "
            f"{tmp} — not a lost race (the winner's dir would exist); "
            "check rename support (EXDEV?) and permissions on the "
            f"cache root. The built artifacts are intact at {tmp}."
        )


def split_ops(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(dels, arrivals) from a micro-batch frame that optionally
    carries an ``op`` column — the one batch-splitting rule the
    index-store monitors share. A frame without ``op`` is all
    arrivals. A frame WITH ``op`` must carry only 'insert'/'delete':
    a typo'd op value used to be silently dropped, losing data with
    no error (ADVICE r12), so the split validates the batch first
    (one tiny existence probe on the batch — bounded by the trigger,
    never the stream)."""
    spark = batch.sparkSession
    if "op" not in batch.columns:
        return (
            spark.createDataFrame([], "vec_id BIGINT"),
            batch.select("vec_id", "embedding"),
        )
    bad = batch.filter(
        ~F.col("op").isin("insert", "delete") | F.col("op").isNull()
    )
    if not bad.isEmpty():
        raise ValueError(
            "index store: batch contains rows whose op is neither "
            "'insert' nor 'delete' — refusing to silently drop data"
        )
    return (
        batch.filter(F.col("op") == "delete").select("vec_id"),
        batch.filter(F.col("op") == "insert").select("vec_id", "embedding"),
    )


class HeavyHitterMonitor:
    """foreachBatch sink: maintain a k-counter Misra-Gries summary of
    ``key_col`` frequencies across all batches seen so far."""

    def __init__(self, store_dir: str, k: int = 20, key_col: str = "user_id"):
        self.store_dir = store_dir
        self.k = k
        self.key_col = key_col

    def _path(self, kind: str) -> str:
        return os.path.join(self.store_dir, kind)

    def _read_latest(
        self, spark, kind: str, schema: str, batch_id: int
    ) -> DataFrame:
        return read_latest(spark, self._path(kind), schema, batch_id, kind)

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        prior = self._read_latest(
            spark, "summary", "key STRING, est BIGINT", batch_id
        )
        meta = self._read_latest(spark, "meta", "n_total BIGINT", batch_id)

        bc = (
            batch.select(F.col(self.key_col).cast("string").alias("key"))
            .groupBy("key")
            .agg(F.count("*").cast("long").alias("bn"))
        )
        merged = (
            prior.join(bc, "key", "full_outer")
            .select(
                "key",
                (
                    F.coalesce("est", F.lit(0).cast("long"))
                    + F.coalesce("bn", F.lit(0).cast("long"))
                ).alias("est"),
            )
            .persist()
        )
        # the Misra-Gries reduction: subtract the (k+1)-th largest
        # estimate (0 when <= k keys survive the merge) from everyone,
        # drop the non-positive. Deterministic tiebreak on the key.
        w = Window.orderBy(F.col("est").desc(), "key")
        kth1 = (
            merged.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == self.k + 1)
            .select(F.col("est").alias("d"))
        )
        # 1-row-or-empty frame -> coalesce to 0 via a left anti trick:
        # cross join against the (possibly empty) frame loses rows, so
        # aggregate it to exactly one row first
        d1 = kth1.agg(
            F.coalesce(F.max("d"), F.lit(0).cast("long")).alias("d")
        )
        summary = (
            merged.crossJoin(F.broadcast(d1))
            .select("key", (F.col("est") - F.col("d")).alias("est"))
            .filter(F.col("est") > 0)
        )
        batch_n = batch.select(
            F.count("*").cast("long").alias("bn")
        )
        n_total = (
            meta.select(F.col("n_total"))
            .unionByName(batch_n.select(F.col("bn").alias("n_total")))
            .agg(F.sum("n_total").cast("long").alias("n_total"))
        )
        write_latest(summary, self._path("summary"), batch_id)
        write_latest(n_total, self._path("meta"), batch_id)
        merged.unpersist()

    def summary(self, spark, after_batch_id: int) -> DataFrame:
        """The summary as of AFTER ``after_batch_id`` (key, est)."""
        return self._read_latest(
            spark, "summary", "key STRING, est BIGINT", after_batch_id + 1
        )

    def n_total(self, spark, after_batch_id: int) -> DataFrame:
        """1-row (n_total) frame as of AFTER ``after_batch_id`` —
        returned lazily (callers collect; the package does not)."""
        return self._read_latest(
            spark, "meta", "n_total BIGINT", after_batch_id + 1
        )

