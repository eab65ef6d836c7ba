"""Operator-level unit tests mirroring the reference's invariant guards
(SURVEY.md §5.2): filename-grammar strictness, pair-join integrity —
plus the shared method-vs-truth recall rollup against its SQL twin."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_pipeline_spark.operators.filename import (
    parse_read_files,
    parse_read_files_strict,
)
from flink_pipeline_spark.plans.recall_rollup import (
    recall_rollup,
    recall_rollup_sql,
)
from flink_pipeline_spark.sources.fixtures import fixture_df

from .parity import assert_parity


def test_parse_read_files_shape(spark):
    parsed = parse_read_files(fixture_df(spark, "read_files"))
    rows = parsed.collect()
    # 16 fixture names - 2 undetermined - 2 non-fastq = 12
    assert len(rows) == 12
    for r in rows:
        assert r.read in ("R1", "R2")
        assert r.lane.startswith("L") and r.snum.startswith("S")
        assert r.chunk.isdigit()


def test_parse_strict_passes_clean_data(spark):
    parsed = parse_read_files_strict(fixture_df(spark, "read_files"))
    assert parsed.count() == 12


def test_parse_strict_raises_on_bad_read_token(spark):
    """The grammar's else-raise (reference baseline_workflow.py:116)."""
    bad = spark.createDataFrame(
        [("SAMPLEX_S1_L001_R9_001.fastq.gz",)], "filename STRING"
    )
    with pytest.raises(Exception, match="unexpected read token"):
        parse_read_files_strict(bad).collect()


def test_pair_join_is_total_on_clean_fixture(spark):
    """Every R1 chunk has exactly one R2 partner (the positional-zip
    precondition the reference assumes, baseline_workflow.py:137-144)."""
    parsed = parse_read_files(fixture_df(spark, "read_files"))
    r1 = parsed.filter(F.col("read") == "R1").select("sample", "lane", "chunk")
    r2 = parsed.filter(F.col("read") == "R2").select("sample", "lane", "chunk")
    assert r1.count() == r2.count() == 6
    assert r1.join(r2, ["sample", "lane", "chunk"], "inner").count() == 6
    assert r1.join(r2, ["sample", "lane", "chunk"], "left_anti").count() == 0
    assert r2.join(r1, ["sample", "lane", "chunk"], "left_anti").count() == 0


def _values_cte(name: str, rows: list[tuple[int, int]]) -> str:
    if not rows:
        return (
            f"{name} AS (SELECT 0::BIGINT AS doc_a, 0::BIGINT AS doc_b "
            "WHERE false)"
        )
    vals = ", ".join(f"({a}, {b})" for a, b in rows)
    return f"{name} AS (SELECT * FROM (VALUES {vals}) t(doc_a, doc_b))"


@pytest.mark.parametrize(
    "truth_rows, expect",
    [
        # (n_truth, n_method, hits, recall, prec) per method
        (
            [(1, 2), (1, 3), (2, 4)],
            {
                "exact": (3, 3, 3, 1.0, 1.0),
                "approx": (3, 3, 1, 0.3333, 0.3333),
                "empty": (3, 0, 0, 0.0, 0.0),
            },
        ),
        # an empty truth set scores 0.0, not a division by zero
        (
            [],
            {
                "exact": (0, 0, 0, 0.0, 0.0),
                "approx": (0, 3, 0, 0.0, 0.0),
                "empty": (0, 0, 0, 0.0, 0.0),
            },
        ),
    ],
)
def test_recall_rollup_matches_sql_twin(spark, truth_rows, expect):
    """The one method-vs-truth rule on (doc_a, doc_b) keys: the Spark
    rollup equals its DuckDB twin, and a method with no rows still
    gets its row (n_method = hits = 0, recall = prec = 0.0)."""
    rows = {
        "exact": truth_rows,
        "approx": [(1, 2), (2, 5), (3, 4)],
        "empty": [],
    }
    schema = "doc_a BIGINT, doc_b BIGINT"
    frames = {m: spark.createDataFrame(r, schema) for m, r in rows.items()}
    df = recall_rollup(spark, frames["exact"], frames)
    got = {
        r.method: (r.n_truth, r.n_method, r.hits, r.recall, r.prec)
        for r in df.collect()
    }
    assert got == expect

    ctes = ", ".join(
        [_values_cte("truth", truth_rows)]
        + [_values_cte(f"{m}_m", r) for m, r in rows.items() if m != "exact"]
    )
    twin = recall_rollup_sql(
        {"exact": "truth", "approx": "approx_m", "empty": "empty_m"},
        ("doc_a", "doc_b"),
    )
    con = duckdb.connect()
    try:
        assert_parity(df, con, f"WITH {ctes}, {twin} SELECT * FROM rollup")
    finally:
        con.close()


# Toy corpus for the probe's tie rule. Cells 3 = (0,1,0), 5 = (1,0,0),
# 7 = (0,0,1). Vector 1 ties cells 3 and 5 exactly; vector 2 is
# (1 + 2^-14, 1, 0), whose raw cosine favours cell 5 (0.707128 against
# 0.707085) but whose rounded cosines tie at 0.7071, so round-before-
# rank sends it to cell 3; vector 3 has a clear order 7, 3, 5; vector 4
# ties all three cells.
_PROBE_CELLS = [
    (3, [0.0, 1.0, 0.0]),
    (5, [1.0, 0.0, 0.0]),
    (7, [0.0, 0.0, 1.0]),
]
_PROBE_VECS = [
    (1, [1.0, 1.0, 0.0]),
    (2, [1.0 + 2.0**-14, 1.0, 0.0]),
    (3, [0.0, 0.25, 1.0]),
    (4, [1.0, 1.0, 1.0]),
]


def test_ivf_probe_matches_argmax_and_oracle_on_ties(spark):
    """The one IVF probe: at n=1 it equals ivf_assign's packed-key
    argmax, and at n=1 and n=2 it equals the DuckDB twin
    ``_assign_duck(..., rn)`` — ties on the rounded cosine go to the
    smaller cell in all three."""
    import pandas as pd

    from flink_pipeline_spark.operators.llm import (
        ivf_assign,
        ivf_probe,
        with_norm,
    )
    from flink_pipeline_spark.plans.llm_ops import _assign_duck

    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    emb = spark.createDataFrame(_PROBE_VECS, schema)
    cents = spark.createDataFrame(_PROBE_CELLS, schema)

    def probe(n):
        return ivf_probe(
            with_norm(emb), cents, n, "vec_id", "embedding", "norm"
        ).select("vec_id", "cell")

    top1 = sorted(tuple(r) for r in probe(1).collect())
    assert top1 == [(1, 3), (2, 3), (3, 7), (4, 3)]
    assert sorted(tuple(r) for r in ivf_assign(emb, cents).collect()) == top1

    con = duckdb.connect()
    try:
        cols = ["vec_id", "embedding"]
        for name, rows in (("embeddings", _PROBE_VECS), ("cents", _PROBE_CELLS)):
            con.register(f"{name}_df", pd.DataFrame(rows, columns=cols))
            con.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_df")
        for n, rn in ((1, "= 1"), (2, "<= 2")):
            twin = _assign_duck("cents c ON TRUE", "c.vec_id", "c.embedding", rn)
            assert_parity(probe(n), con, twin, f"probe n={n}")
        top2 = sorted(tuple(r) for r in probe(2).collect())
        assert top2 == [
            (1, 3), (1, 5), (2, 3), (2, 5), (3, 3), (3, 7), (4, 3), (4, 5)
        ]
    finally:
        con.close()


@pytest.mark.parametrize(
    "desc,want", [(False, [(6, 1), (4, 2)]), (True, [(4, 1), (9, 2)])]
)
def test_topk_cut_breaks_score_ties_by_item(spark, desc, want):
    """The one per-key top-k cut keeps equal scores in ascending item
    order in both score directions, per key."""
    from flink_pipeline_spark.operators.llm import topk_cut

    rows = [(1, 0.5, 9), (1, 0.5, 4), (1, 0.1, 6), (2, 0.3, 8)]
    df = spark.createDataFrame(
        rows, "query_id BIGINT, score DOUBLE, item BIGINT"
    )
    got = topk_cut(df, "query_id", "score", "item", 2, desc=desc)
    by_key = {}
    for r in got.collect():
        by_key.setdefault(r.query_id, []).append((r.item, r.rank))
    assert sorted(by_key[1], key=lambda t: t[1]) == want
    assert by_key[2] == [(8, 1)]


def _join_product(spark, tag: str):
    """A 360-row join of two 50-row ranges: the planner's size estimate
    is the product over the join, with no row count."""
    a = spark.range(50).withColumn("k", F.col("id") % 7)
    b = spark.range(50).select(
        F.col("id").alias("j"), (F.col("id") % 5).alias("k"), F.lit(tag).alias("tag")
    )
    return a.join(b, "k")


def _stats(df):
    """(sizeInBytes, rowCount or None) of ``df``'s optimized plan."""
    s = df._jdf.queryExecution().optimizedPlan().stats()
    return s.sizeInBytes(), s.rowCount().get() if s.rowCount().isDefined() else None


@pytest.mark.parametrize("owned", [False, True], ids=["bare", "caller_cached"])
@pytest.mark.parametrize("ran", [False, True], ids=["fresh", "ran"])
@pytest.mark.parametrize("cut", ["stage", "eager_checkpoint"])
def test_cut_carries_measured_size(spark, cut, ran, owned):
    """Both eager cuts read back with the measured size and row count of
    the frame, also when its plan was already run before the cut; a
    cache the caller owns stays cached, and the cut adds no cache entry."""
    from pyspark import StorageLevel

    from flink_pipeline_spark import caching

    tag = f"{cut}-{ran}-{owned}"
    estimate, _ = _stats(_join_product(spark, tag))
    df = _join_product(spark, tag)
    if owned:
        df.persist()
    if ran:  # optimizes df's own plan, before any cut's cache exists
        df.collect()
    cache = spark._jsparkSession.sharedState().cacheManager()
    entries = cache.numCachedEntries()
    try:
        out = getattr(caching, cut)(df)
        assert cache.numCachedEntries() == entries
        assert (df.storageLevel != StorageLevel.NONE) == owned
        size, rows = _stats(out)
        assert rows == 360
        assert size * 10 < estimate
        assert sorted(out.collect()) == sorted(df.collect())
    finally:
        df.unpersist()


def test_only_caching_cuts_lineage():
    """Every eager checkpoint in the package goes through caching.stage or
    caching.eager_checkpoint, which measure the size they carry; a bare
    checkpoint elsewhere would plan its joins on the estimate."""
    import pathlib

    import flink_pipeline_spark

    root = pathlib.Path(flink_pipeline_spark.__file__).parent
    bare = [
        f"{p.relative_to(root)}:{i}"
        for p in sorted(root.rglob("*.py"))
        if p.name != "caching.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "localCheckpoint(" in line or ".checkpoint(" in line
    ]
    assert bare == []


def _where(pattern: str) -> list[str]:
    """The package module of every line matching ``pattern``, once per
    line."""
    import pathlib
    import re

    import flink_pipeline_spark

    root = pathlib.Path(flink_pipeline_spark.__file__).parent
    return [
        str(p.relative_to(root))
        for p in sorted(root.rglob("*.py"))
        for line in p.read_text().splitlines()
        if re.search(pattern, line)
    ]


def test_one_sink_wiring_and_one_partition_layout():
    """Streams start through lifecycle.start_sink, the one foreachBatch
    wiring, and store partitions are named only by heavy's write and
    read rules; no module keeps a start_*_stream wrapper."""
    assert _where(r"writeStream\.foreachBatch") == ["streaming/lifecycle.py"]
    assert _where(r"\bdef start_\w*_stream\b") == []
    assert set(_where(r"[\"']batch_id=")) == {"streaming/heavy.py"}


def test_one_local_execution_gate():
    """Frames reach the driver as Arrow only through operators/local.py's
    bounded collect, and its gate constant is assigned once, there: no
    operator keeps a private gate."""
    assert _where(r"\.toArrow\(") == ["operators/local.py"]
    assert _where(r"^\s*\w*LOCAL_MAX\w*\s*=") == ["operators/local.py"]


def test_one_rule_per_graph_ann_decision():
    """The graph-ANN operators state each decision once: the two-layer
    search derives its layer-1 corpus (no seeding option survives), a
    rank cut in operators/llm.py is topk_cut or the capped-cell
    sub-split, and the two operators that score a stored pair share
    one pair distance."""
    import inspect

    from flink_pipeline_spark.operators import llm

    assert _where(r"\bl1_members\b|\bentry_from\b") == []
    row_numbers = _where(r"F\.row_number\(\)").count("operators/llm.py")
    owners = (llm.topk_cut, llm._sub_split)
    assert row_numbers == 2
    assert all(inspect.getsource(f).count("F.row_number()") == 1 for f in owners)
    for op in (llm.nsw_descent, llm.nsw_delete):
        src = inspect.getsource(op)
        assert "_pair_dist(" in src and "SQDIST_Q" not in src, op.__name__


def test_default_driver_memory_fits_the_machine():
    """The default heap cap is valid and never above physical memory."""
    import os

    from flink_pipeline_spark.session import EngineConf

    conf = EngineConf()
    conf.validate()
    assert conf.driver_memory.endswith("g")
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert int(conf.driver_memory[:-1]) * 2**30 <= max(phys, 2**30)
