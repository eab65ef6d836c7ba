"""The one method-vs-truth scoring rule, Spark side and oracle side.

Every audit that prices approximate methods (ANN top-k, radius,
near-dup pair generators) against an exact truth set reports, per
method:

  n_truth   — rows in the truth set;
  n_method  — rows the method emitted;
  hits      — emitted rows that are truth rows;
  recall    — hits / n_truth, portable-rounded, 0.0 when n_truth = 0;
  prec      — hits / n_method, portable-rounded, 0.0 when n_method = 0.

``recall_rollup`` (Spark) and ``recall_rollup_sql`` (DuckDB oracle
text) are its only two implementations. The caller chooses the key
columns by what it selects into the truth frame —
``(query_id, neighbor_id)``, ``(doc_a, doc_b)``, ``(vec_a, vec_b)``,
``(file_a, file_b)`` — and passes its methods as an ordered
name -> frame (or name -> CTE) mapping; the exact control row, when
an audit reports one, is passed like any other method. Every method
gets its row even when its frame is empty (the method grid). Audits
that publish fewer columns drop them; audits that publish more join
them onto the rollup.

Leaf module: imports only pyspark, functions.portable and caching,
so every plans module (llm_ops included) can import it.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import literal_frame
from ..functions.portable import round_agg, round_sql

# the key pair of every top-k / radius neighbor audit
NEIGHBOR_KEYS = ("query_id", "neighbor_id")


def _ratio(num: Column, den: Column) -> Column:
    return F.when(den == 0, F.lit(0.0)).otherwise(
        round_agg(num.cast("double") / den)
    )


def recall_rollup(
    spark: SparkSession, truth: DataFrame, methods: dict[str, DataFrame]
) -> DataFrame:
    """(method, n_truth, n_method, hits, recall, prec), one row per
    entry of ``methods``. ``truth`` carries exactly the key columns;
    each method frame carries at least them.

    Scale: the hit join and the group-by run on the methods' emitted
    rows; the n_truth denominator is a 1-row broadcast cross join
    (the vetted audit convention). The hit join carries no broadcast
    hint: a pair-audit truth set is data-dependent in size (a heavily
    duplicated corpus would blow the broadcast ceiling), so AQE
    broadcasts it only when it measures small."""
    keys = truth.columns
    # every method enters the group-by through one key-less grid row
    # (n = 0, never a hit), so an empty frame still gets its row; a
    # grid JOIN would fold to a nested-loop join for a single method,
    # whose method column is a constant on both sides
    grid = literal_frame(spark, [(n,) for n in methods], "method STRING")
    m = reduce(
        DataFrame.unionByName,
        [
            df.select(*keys, F.lit(name).alias("method"), F.lit(1).alias("n"))
            for name, df in methods.items()
        ],
        grid.select(
            *[F.lit(None).cast(truth.schema[k].dataType).alias(k)
              for k in keys],
            "method",
            F.lit(0).alias("n"),
        ),
    )
    counts = (
        m.join(truth.withColumn("is_hit", F.lit(1)), keys, "left")
        .groupBy("method")
        .agg(
            F.sum("n").cast("long").alias("n_method"),
            F.sum(F.coalesce(F.col("is_hit"), F.lit(0)))
            .cast("long")
            .alias("hits"),
        )
    )
    tt = truth.agg(F.count("*").cast("long").alias("n_truth"))
    return counts.crossJoin(F.broadcast(tt)).select(
        "method",
        "n_truth",
        "n_method",
        "hits",
        _ratio(F.col("hits"), F.col("n_truth")).alias("recall"),
        _ratio(F.col("hits"), F.col("n_method")).alias("prec"),
    )


def _ratio_sql(num: str, den: str) -> str:
    return (
        f"CASE WHEN {den} = 0 THEN 0.0 "
        f"ELSE {round_sql(f'{num}::DOUBLE / {den}')} END"
    )


def recall_rollup_sql(methods: dict[str, str], keys: tuple[str, ...]) -> str:
    """The oracle twin of ``recall_rollup``: CTE text (to follow a
    ``WITH ...,``) that scores each method CTE in ``methods``
    (method name -> CTE name) against the caller's ``truth`` CTE on
    ``keys``, ending in a ``rollup`` CTE with the same six columns.
    The caller writes the final SELECT over ``rollup``; ``rollup_m``
    holds every (method, keys) row for audits that count more per
    method."""
    cols = ", ".join(keys)
    m = "\n        UNION ALL\n        ".join(
        f"SELECT '{name}' AS method, {cols} FROM {cte}"
        for name, cte in methods.items()
    )
    on = " AND ".join(f"t.{k} = m.{k}" for k in keys)
    grid = ", ".join(f"'{n}'" for n in methods)
    n_method = "coalesce(c.n_method, 0)"
    hits = "coalesce(c.hits, 0)"
    return f"""rollup_m AS (
        {m}
    ), rollup_counts AS (
        SELECT m.method,
               CAST(count(*) AS BIGINT) AS n_method,
               CAST(sum(CASE WHEN t.{keys[0]} IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS hits
        FROM rollup_m m LEFT JOIN truth t ON {on}
        GROUP BY m.method
    ), rollup_grid AS (
        SELECT unnest([{grid}]) AS method
    ), rollup_tt AS (
        SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth
    ), rollup AS (
        SELECT g.method, tt.n_truth,
               CAST({n_method} AS BIGINT) AS n_method,
               CAST({hits} AS BIGINT) AS hits,
               {_ratio_sql(hits, 'tt.n_truth')} AS recall,
               {_ratio_sql(hits, n_method)} AS prec
        FROM rollup_grid g LEFT JOIN rollup_counts c ON c.method = g.method
        CROSS JOIN rollup_tt tt
    )"""
