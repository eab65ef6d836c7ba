"""Bounded local execution: the one rule for answering a small input on
the driver instead of in a chain of Spark jobs.

An operator whose input fits the gate collects it with ``collect`` (the
bounded collect is both the gate and the payload, so no count job runs),
computes in numpy, and hands its rows back through ``frame``. Above the
gate ``collect`` returns None and the operator runs its DataFrame path,
the one that scales. Only exact values cross: integer or byte-ordered
string keys, and doubles folded as ``fold`` folds them.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# At most this many rows (and ``per_row`` times as many for an edge frame)
# are collected to the driver, and a collected float64 matrix may take at
# most what this many 64-d rows take (~10 MB, Spark's default
# autoBroadcastJoinThreshold), so wider vectors fit fewer rows.
LOCAL_MAX = 20_000


def collect(df: DataFrame, per_row: int = 1) -> pa.Table | None:
    """``df``'s rows as an Arrow table, or None when it holds more than
    ``per_row * LOCAL_MAX`` rows (one job either way) or the gate is
    shut (LOCAL_MAX 0: every operator runs its DataFrame path)."""
    bound = per_row * LOCAL_MAX
    if not bound:
        return None
    rows = df.limit(bound + 1).toArrow()
    return rows if rows.num_rows <= bound else None


def frame(spark: SparkSession, rows: pa.Table, schema: StructType) -> DataFrame:
    """``rows`` as a one-partition local frame: no Python worker runs (a
    session that has run one pays up to ~1 s more at stop, as PySpark's
    accumulator server polls its JVM socket once a second), and per-key
    windows downstream need no shuffle."""
    return spark.createDataFrame(rows, schema).coalesce(1)


def dense(col: pa.ListArray) -> np.ndarray | None:
    """(n, dim) float64 matrix of a list<float|double> column, or None
    when a vector or element is null, the lengths differ, or the matrix
    outgrows the gate's byte budget."""
    if not pa.types.is_floating(col.type.value_type) or col.null_count:
        return None
    vals = pc.list_flatten(col)
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if vals.null_count or (len(lens) and (lens != lens[0]).any()):
        return None
    if len(vals) * 8 > LOCAL_MAX * 64 * 8:
        return None
    dim = int(lens[0]) if len(lens) else 0
    return (
        vals.to_numpy(zero_copy_only=False)
        .astype(np.float64)
        .reshape(len(lens), dim)
    )


def positions(ids: np.ndarray, nodes: np.ndarray):
    """(pos, ok): each node's index in the sorted ``ids`` and whether
    it is there at all (``ids`` is not empty)."""
    pos = np.minimum(np.searchsorted(ids, nodes), len(ids) - 1)
    return pos, ids[pos] == nodes


def fold(at: np.ndarray, bt: np.ndarray) -> np.ndarray:
    """Row-wise dot products of two (dim, n) matrices as DOT_SQL's
    per-dimension sequential fold, so every double matches Spark's and
    DuckDB's bit-for-bit (np.dot's pairwise/SIMD summation reorders
    the adds and can flip a quantized distance)."""
    s = np.zeros(at.shape[1])
    for i in range(at.shape[0]):
        s = s + at[i] * bt[i]
    return s
