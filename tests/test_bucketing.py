"""Bucketed co-located join (SURVEY.md OPT notes / pyspark guide):
writing both sides bucketed on the join key lets the join run without
any shuffle exchange — the batch analog of the reference's
per-sample-directory co-location."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_pipeline_spark.catalog import load_table

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    for name, df, key in (("b_orders", o, "o_orderkey"), ("b_lineitem", li, "l_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name)
        )
    yield "b_orders", "b_lineitem"
    for name in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


@pytest.mark.slow  # 14s setup
def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    bo, bl = bucketed_tables
    # force the shuffle-join path (orders is broadcast-sized at test SF,
    # which would bypass bucketing entirely)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table(bl)
            .join(spark.table(bo), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Bucketed: true" in plan
        # co-located: no exchange on either join key between scan and join
        # (the only exchange allowed is the groupBy's, on o_orderstatus)
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        result = {(r.o_orderstatus, r.n) for r in joined.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # correctness unchanged vs unbucketed
    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    expected = {
        (r.o_orderstatus, r.n)
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert result == expected
