"""Fixture-table catalog: parquet directory -> named DataFrames/views.

The reference's unit of data exchange is a directory of files
(reference workflow.py:42-43, 59-60); ours is a parquet table loaded
as a DataFrame and optionally registered as a temp view so queries can
be written in either the DataFrame or SQL API.

Scale note: loading is lazy (schema-only); filters and projections
applied by downstream queries push down into the parquet scan, so the
same catalog works unchanged whether the directory holds 6 MB or
100 TB (with partition pruning if the physical layout is partitioned).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _ensure_session_conf(spark: SparkSession) -> None:
    """Runtime confs every query depends on, set defensively because the
    calling session may not be ours (the correctness driver builds its
    own): UTC so timestamp literals are TZ-independent, nanosAsLong so
    events.parquet (TIMESTAMP NANOS) is readable under Spark 4, and the
    package shipped to Python workers so pandas-UDF closures that
    reference this module resolve even when the driver process found it
    via sys.path rather than PYTHONPATH."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _ship_package(spark)


import threading as _threading

_SHIPPED: set[int] = set()
_SHIP_LOCK = _threading.Lock()


def _ship_package(spark: SparkSession) -> None:
    """addPyFile a zip of flink_pipeline_spark so executor-side Python
    workers can unpickle UDF closures referencing it.

    Thread-safe (ADVICE r14): parallel_frames makes load_table
    reachable from concurrent driver threads, and the zip path is
    per-PID, not per-thread — without the lock two first-callers
    would rewrite the same zip while one hands it to addPyFile."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    with _SHIP_LOCK:
        if key in _SHIPPED:
            return
        _ship_package_locked(sc, key)


def _ship_package_locked(sc, key: int) -> None:
    import tempfile
    import zipfile

    pkg_root = os.path.dirname(os.path.abspath(__file__))
    # per-process name: a shared fixed path would race concurrent
    # drivers (truncated zip mid-addPyFile) and collide across users
    zpath = os.path.join(
        tempfile.gettempdir(), f"flink_pipeline_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _dirs, files in os.walk(pkg_root):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    rel = os.path.join(
                        "flink_pipeline_spark", os.path.relpath(full, pkg_root)
                    )
                    zf.write(full, rel)
    sc.addPyFile(zpath)
    # NOTE: the source zip must outlive the session — local-mode
    # executors fetch lazily and re-validate against this path
    # ("exists and does not match" if deleted). ~100 KB per process
    # in the temp dir is the cost of the race-free per-PID name.
    _SHIPPED.add(key)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    _ensure_session_conf(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = _fix_nanos_ts(df)
    return df


def _fix_nanos_ts(df: DataFrame) -> DataFrame:
    """events.ts is TIMESTAMP(NANOS) in parquet; Spark 4 reads it (under
    spark.sql.legacy.parquet.nanosAsLong) as a BIGINT of epoch-nanos.
    Convert to a real timestamp, truncating ns -> us exactly as Spark
    <=3.x did natively."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
