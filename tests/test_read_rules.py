"""The two store reads every persisted store shares: heavy.read_latest
(the newest ``batch_id`` partition strictly before a batch — snapshot
stores) and heavy.read_log (the union of every partition strictly
before a batch — append logs), each under both empty-store policies;
and the snapshot write heavy.write_latest, whose prune they rely on."""

from __future__ import annotations

import os

import pytest

from flink_pipeline_spark.streaming.heavy import (
    partition_ids,
    prune_partitions,
    read_latest,
    read_log,
    write_latest,
    write_log,
)

SCHEMA = "v BIGINT"


def _batch(spark, b: int):
    """One row holding the batch's own id."""
    return spark.createDataFrame([(b,)], SCHEMA).coalesce(1)


def _write(spark, path: str, bids) -> None:
    """One row per partition, holding the partition's own batch id."""
    for b in bids:
        write_log(_batch(spark, b), path, b)


def _corrupt(path: str, batch_id: int) -> None:
    part = os.path.join(path, f"batch_id={batch_id}")
    for name in os.listdir(part):
        if name.endswith(".parquet"):
            with open(os.path.join(part, name), "wb") as f:
                f.write(b"not a parquet file")


def _rows(df) -> list[int]:
    return sorted(r.v for r in df.collect())


# (case, partitions written, partitions pruned below, before, required,
#  expected rows of read_latest, expected rows of read_log); an
#  expected str is the error text the read must raise
CASES = [
    ("missing", [], None, 3, False, [], []),
    ("missing-required", [], None, 3, True, "init", "init"),
    ("pruned-past", [-1, 0, 1, 2], 1, 1, False, "survives pruning", []),
    ("pruned-past-required", [-1, 0, 1, 2], 1, 1, True,
     "survives pruning", "init"),
    ("past-pruned-history", [-1, 0, 1, 2], 1, 3, True, [2], [1, 2]),
    ("reused-at-batch-0", [0, 1], None, 0, False, "already populated", []),
    ("replayed-batch-0", [0], None, 0, False, [], []),
    ("strictly-before", [-1, 0, 1, 2, 3], None, 2, True, [1], [-1, 0, 1]),
]


def _setup(spark, tmp_path, bids, prune_below):
    path = str(tmp_path / "store")
    _write(spark, path, bids)
    if prune_below is not None:
        prune_partitions(spark, path, prune_below)
    return path


def _check(read, spark, path, before, required, want):
    if isinstance(want, str):
        with pytest.raises(ValueError, match=want):
            read(spark, path, SCHEMA, before, "test store", required)
    else:
        got = read(spark, path, SCHEMA, before, "test store", required)
        assert got.schema.simpleString() == "struct<v:bigint>"
        assert _rows(got) == want


@pytest.mark.parametrize(
    "case,bids,prune_below,before,required,want",
    [(c, b, p, bf, r, wl) for c, b, p, bf, r, wl, _ in CASES]
    + [("corrupt", [-1, 0, 1], None, 2, False, None)],
    ids=[c[0] for c in CASES] + ["corrupt"],
)
def test_read_latest(spark, tmp_path, case, bids, prune_below, before,
                     required, want):
    path = _setup(spark, tmp_path, bids, prune_below)
    if case == "corrupt":
        _corrupt(path, 1)
        with pytest.raises(Exception):
            read_latest(spark, path, SCHEMA, before, "test store").collect()
        return
    _check(read_latest, spark, path, before, required, want)


@pytest.mark.parametrize(
    "case,bids,prune_below,before,required,want",
    [(c, b, p, bf, r, wg) for c, b, p, bf, r, _, wg in CASES]
    + [("corrupt-dedup-store", [], None, 0, False, None)],
    ids=[c[0] for c in CASES] + ["corrupt-dedup-store"],
)
def test_read_log(spark, tmp_path, case, bids, prune_below, before,
                  required, want):
    if case == "corrupt-dedup-store":
        # the ADVICE-r7 contract: only an empty store reads as empty —
        # a corrupt partition fails the batch instead of classifying a
        # standing duplicate as 'keep' and indexing it for good
        from flink_pipeline_spark.streaming.dedup import NearDupIngest

        text = " ".join(f"w{i}" for i in range(40))
        ingest = NearDupIngest(
            str(tmp_path / "store"), str(tmp_path / "out")
        )
        ingest(spark.createDataFrame([(1, text)], "doc_id long, text string"), 0)
        _corrupt(str(tmp_path / "store" / "digests"), 0)
        with pytest.raises(Exception):
            ingest(
                spark.createDataFrame([(2, text)], "doc_id long, text string"),
                1,
            )
        return
    path = _setup(spark, tmp_path, bids, prune_below)
    _check(read_log, spark, path, before, required, want)


def test_write_latest_keeps_two_snapshots_and_replays(spark, tmp_path):
    """Snapshot writes at -1..3 leave only {2, 3}; a replayed write of
    3 leaves the same partitions and rows; read_latest(before=3) still
    reads batch 2."""
    path = str(tmp_path / "store")
    for b in range(-1, 4):
        write_latest(_batch(spark, b), path, b)

    def state():
        return sorted(partition_ids(spark, path)), _rows(
            spark.read.parquet(path)
        )

    first = state()
    assert first == ([2, 3], [2, 3])
    write_latest(_batch(spark, 3), path, 3)
    assert state() == first
    assert _rows(read_latest(spark, path, SCHEMA, 3, "test store")) == [2]
