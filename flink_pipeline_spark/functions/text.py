"""Portable text/hash expression builders for the LLM-data operators.

Each helper returns SQL text in both dialects (Spark SQL / DuckDB) from
the same constants, so the dedup/similarity pipelines are bit-identical
across engines. The primitive everything rests on is hash56
(functions/portable.py): md5-prefix -> BIGINT, reduced mod P31 so the
affine MinHash transforms (a*x + b) % P31 never overflow int64
(x < 2^31, a < 2^20 -> a*x < 2^51).
"""

from __future__ import annotations

from .portable import hash56_sql_duckdb, hash56_sql_spark

P31 = 2_147_483_647  # 2^31 - 1 (prime)

# Fixed affine MinHash parameters (k = 12 functions, 4 bands x 3 rows).
# Deterministic literals: runtime randomness would break resume/oracle.
MINHASH_PARAMS = [
    (746777, 1060577), (141667, 1985771), (430013, 175261), (982451, 505447),
    (611953, 1941979), (287117, 743327), (524287, 131071), (917501, 623851),
    (334171, 1299709), (700417, 822977), (198491, 1583539), (865957, 399989),
]
MINHASH_BANDS = 4
MINHASH_ROWS = 3  # per band; k = bands * rows

# Default SimHash signature width: 56 bits (the full portable hash56).
# Block-key cardinality for pigeonhole pairing at max_hamming=3 is
# 2^(bits/4) — 16384 keys/block at 56 bits, which keeps bucket
# occupancy sub-linear as the corpus grows. The 16-bit CALIB width is
# fixture-calibration only: its 16-key blocks fill linearly with the
# corpus and the bucket cap then drops real pairs (SCALING.md measured
# zero pairs at 48x) — never use it at corpus scale.
SIMHASH_BITS = 56
SIMHASH_BITS_CALIB = 16


def shingle_hash_sql(engine: str, shingle_expr: str) -> str:
    """shingle text -> integer in [0, P31)."""
    h = hash56_sql_spark if engine == "spark" else hash56_sql_duckdb
    return f"({h(shingle_expr)} % {P31})"


def shingles_sql(engine: str, text_expr: str, n: int = 3, distinct: bool = True) -> str:
    """Word n-gram shingles of a space-tokenized text column
    (set semantics when ``distinct``)."""
    if engine == "spark":
        toks = f"split({text_expr}, ' ')"
        body = (
            f"CASE WHEN size({toks}) >= {n} THEN "
            f"transform(sequence(0, size({toks}) - {n}), "
            f"i -> concat_ws(' ', slice({toks}, i + 1, {n}))) "
            f"ELSE array() END"
        )
        return f"array_distinct({body})" if distinct else f"({body})"
    toks = f"string_split({text_expr}, ' ')"
    body = (
        f"list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' '))"
    )
    return f"list_distinct({body})" if distinct else f"({body})"


def minhash_params_values_sql() -> str:
    body = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_PARAMS))
    return f"(VALUES {body}) AS hp(i, a, b)"


# ---------------------------------------------------------------------------
# Composite quality score (single source of truth)
# ---------------------------------------------------------------------------

# The heuristic document-quality score used by BOTH the scoring surface
# (q_text_quality) and the selection surface (q_token_budget_select):
# length saturation + lexical diversity + token-length saturation.
# DuckDB oracle text over columns named (n_tokens, n_distinct,
# n_letter_chars); quality_score() is the Spark Column twin. Tune the
# weights HERE so the two surfaces can never drift apart.
QUALITY_SCORE_SQL = (
    "0.4 * least(n_tokens / 50.0, 1.0)"
    " + 0.3 * (n_distinct::DOUBLE / n_tokens)"
    " + 0.3 * least(n_letter_chars::DOUBLE / n_tokens / 6.0, 1.0)"
)


def quality_score(n_tokens, n_distinct, n_letter_chars):
    """Spark Column form of QUALITY_SCORE_SQL (same shape, same
    left-associated double arithmetic — keep the two in lock-step)."""
    from pyspark.sql import functions as F

    dr = n_distinct.cast("double") / n_tokens
    al = n_letter_chars.cast("double") / n_tokens
    return (
        0.4 * F.least(n_tokens / 50.0, F.lit(1.0))
        + 0.3 * dr
        + 0.3 * F.least(al / 6.0, F.lit(1.0))
    )
