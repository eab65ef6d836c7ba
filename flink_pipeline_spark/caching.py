"""Stage boundaries and session cache hygiene.

The engine runs the reference dataflow as chains of eager Spark jobs.
Every boundary in such a chain is one of these, by one rule:

* ``stage(df)`` cuts lineage NOW: one eager job computes ``df`` and
  the result is read back from a local checkpoint. Use it when a
  frame is read by later eager jobs or by an iterative loop (each
  round's plan would otherwise nest the previous round's, and
  re-analysis and recomputation grow with the chain), and no cache
  entry may outlive the query. The checkpoint blocks live in the
  executors' storage and are released once the frame is unreachable;
  a job on preemptible hardware would cut with a reliable checkpoint.
* ``eager_checkpoint(df)`` is the same cut written as a reliable
  checkpoint, for operators whose corpus-sized caches feed only an
  INTERMEDIATE result (incremental_dedup's near-dup id set,
  substring_dedup_stats' duplicated-span table): the small frame is
  cut, the caches are unpersisted before the operator returns, and
  the call leaves zero persisted residue (tests/test_llm_ops.py::
  test_cache_hygiene_*). Local checkpoint blocks would count as
  residue, as they live in the storage tier hygiene empties.
* ``materialize(df)`` shares one frame between several branches of
  ONE plan and keeps its lineage: ``persist()`` plus one count job.
* ``parallel_frames(*thunks)`` runs independent eager chains on
  concurrent driver threads.
* ``release_caches(spark)`` drops every cache in the session; call it
  between pipelines in a long-lived session.

Why both cuts measure: a checkpoint carries the size statistic the
planner reads for its source plan when the cut runs. Over a join
chain that is the product of the join estimates (1.07e17 bytes for
the 800-byte sf0.01 text near-dup graph), so every join over a bare
checkpoint plans on a fiction (sort-merge where a broadcast fits).
Both cuts therefore persist the frame for the checkpoint job, which
fills the cache, and the checkpoint takes the cache's measured size.
The checkpoint is taken over a fresh Dataset (``select("*")``): a
frame whose plan was already optimized (run, or its statistics read)
does not see a cache added later. A cache the caller owns stays
cached; only the cut's own is released. The measured cut costs one
more job for a frame with a shuffle.

Reliable checkpoint files are removed by the ContextCleaner when
``spark.cleaner.referenceTracking.cleanCheckpoints`` is set
(session.py sets it); under a foreign session without it they persist
until JVM exit: disk residue in /tmp, never memory residue.
"""

from __future__ import annotations

import tempfile

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def _measured(df: DataFrame, cut) -> DataFrame:
    """``cut`` applied to a fresh Dataset over ``df`` persisted for
    the cut's job, so the result carries the measured size; the
    persist is released after unless the caller owns the cache."""
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df.persist()
    try:
        return cut(df.select("*"))
    finally:
        if owned:
            df.unpersist()


def stage(df: DataFrame) -> DataFrame:
    """Local-checkpoint ``df`` now (one eager job) and return the
    checkpointed frame, which carries its measured size. The lineage
    cut of every eager chain; see the module docstring."""
    return _measured(df, lambda f: f.localCheckpoint(eager=True))


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """Reliable-checkpoint ``df`` now and return the checkpointed
    frame, which carries its measured size; zero persisted residue.

    If the session has no checkpoint dir, one is auto-provisioned ONLY
    in local mode (the driver's bare local session): a driver-local
    tempdir is correct there. On a real cluster a reliable checkpoint
    must land on storage every executor can read — auto-picking a
    driver /tmp path would scatter partitions across executor-local
    disks and fail on read — so a cluster deployment must call
    ``sc.setCheckpointDir`` with a shared path (HDFS/S3) at session
    build; this raises loudly instead of guessing."""
    spark = df.sparkSession
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        if sc.master.startswith("local"):
            sc.setCheckpointDir(tempfile.mkdtemp(prefix="fps_ckpt_"))
        else:
            raise RuntimeError(
                "eager_checkpoint: no checkpoint dir set on a non-local "
                "master — call spark.sparkContext.setCheckpointDir with "
                "a SHARED filesystem path (HDFS/S3) at session build"
            )
    return _measured(df, lambda f: f.checkpoint(eager=True))


def release_caches(spark: SparkSession) -> int:
    """Unpersist every cached DataFrame (Spark SQL cache manager) and
    any remaining persisted RDD. Returns the number of persisted RDDs
    that were still registered before the sweep."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    # py4j maps java.util.Map to a dict-like view
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    return n


def materialize(df: DataFrame) -> DataFrame:
    """``persist()`` + force the cache to fill NOW (one count() job),
    returning ``df``.

    A lazily-persisted frame consumed by several branches of ONE
    action is computed CONCURRENTLY by every branch until the cache
    fills — Spark's cache has no "wait for the partition another task
    is already computing" gate, so an expensive shared subtree (the
    shingle pass, an IVF assignment, a verified pair graph) runs 2-5x
    before any block lands (measured r15: the minhash verify stage of
    q_dedup_recall fell 4.3 s -> 0.9 s once its shingle sets were
    materialized first). One count() pays the subtree exactly once and
    every consumer then reads the cache. Storage semantics are
    identical to persist(): blocks are LRU-evictable and released by
    release_caches()/clearCache."""
    df.persist()
    df.count()
    return df


def parallel_frames(*thunks):
    """Build independent DataFrames on concurrent driver threads and
    return them in argument order.

    Audit/lifecycle queries chain several INDEPENDENT eager
    materializations (graph builds, exact-truth lists, per-method
    sub-searches) whose internal ``stage`` jobs otherwise run strictly
    serially during query construction — at sf0.1 that serialization,
    not compute, dominates their wall time (each chain leaves most
    cores idle). Spark's scheduler happily
    runs jobs from several driver threads at once, so submitting each
    chain from its own thread lets the next chain's tasks back-fill
    the tail of the current one (optimization guide §2.6). FIFO
    scheduling keeps per-job semantics identical; results are
    deterministic because each thunk builds its frame independently.

    Exceptions propagate to the caller: the LOWEST-INDEX failing
    thunk's error wins (results are awaited in argument order), and
    sibling thunks still run to completion — their Spark jobs are not
    cancelled — before the pool exits."""
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


def literal_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A tiny literal DataFrame built from pure JVM expressions —
    drop-in for ``spark.createDataFrame(rows, schema)`` on small
    constant tables (audit grids, block-pair tables, band maps).

    ``createDataFrame`` over a local Python list parallelizes the
    rows into defaultParallelism pickled slices, so EVERY
    materialization of the frame (each broadcast build, each reuse
    after clearCache) spawns a full wave of Python-worker tasks just
    to deserialize a handful of constants — measured r14: ~0.15-0.5 s
    of blocked task time per materialization at local[32], in zero-
    input 32-task stages. ``range(1) + inline(array(struct(...)))``
    keeps the constants inside the JVM plan: no Python tasks, no
    pickling, byte-identical values."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    if not rows:
        # F.array() of zero struct elements leaves the column untyped
        # and star-expansion fails with a cryptic analysis error
        # (ADVICE r14); the row path handles [] fine and is never hot.
        return spark.createDataFrame([], schema)
    st = StructType.fromDDL(schema)
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, st.fields)
            ]
        )
        for row in rows
    ]
    # range(len) + element_at, NOT range(1) + inline: the range row
    # count is the optimizer's cardinality estimate for the frame, and
    # an estimate of 1 row flips downstream join build-side choices
    # (measured r14: cosine_pairs' triangle join degraded 2.3x when
    # its block-pair table read as 1 row)
    arr = F.array(*structs)
    return (
        spark.range(len(rows))
        .select(
            F.element_at(arr, (F.col("id") + 1).cast("int")).alias("_r")
        )
        .select("_r.*")
    )
