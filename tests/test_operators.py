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
