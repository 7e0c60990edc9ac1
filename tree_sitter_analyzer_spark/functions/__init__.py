"""Cross-engine scalar helpers.

Each helper emits SQL text for BOTH Spark and DuckDB where syntax differs
(hex parsing, identifier tokenization) so every operator keeps a single
semantic definition with per-engine spellings verified equal by the parity
suite. ``sql_over`` binds a Spark builder's input frames to such SQL text
for one statement.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


def md5int_spark(x: str) -> str:
    """First 32 bits of md5 as BIGINT — the engine-portable string hash
    (SURVEY.md F2). Verified equal to the DuckDB spelling."""
    return f"CAST(conv(substr(md5({x}),1,8),16,10) AS BIGINT)"


def md5int_duck(x: str) -> str:
    return f"CAST(('0x' || substr(md5({x}),1,8)) AS BIGINT)"


def md5int_py(s: str) -> int:
    """Pure-python mirror of md5int_spark/md5int_duck — for the
    independent test references."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def sql_over(spark: SparkSession, text: str, **frames: DataFrame) -> DataFrame:
    """Run the SQL ``text`` over DataFrames bound by name for this one
    statement: ``sql_over(spark, "SELECT count(*) FROM lineitem",
    lineitem=df)``. Each frame enters as a CTE over PySpark's
    statement-scoped argument view, so the body (often the DuckDB
    oracle's own text) stays byte-for-byte unchanged, the bound names
    shadow any session view of the same name, and the session's set of
    temporary views is left as it was."""
    ctes = ", ".join(f"{n} AS (SELECT * FROM {{{n}}})" for n in frames)
    body = text.replace("{", "{{").replace("}", "}}")
    return spark.sql(f"WITH {ctes} (\n{body}\n)", **frames)


# --- identifier tokenization (F1: the reference's FTS tokenizer) -------------
#
# The reference tokenizes symbol names with camelCase splitting, separator
# normalization, lowercasing, and a light suffix stemmer
# (semantic_search.py:142-153; FTS5 'porter unicode61',
# _ast_cache_schema.py:425-434). Re-expressed as ONE SQL definition with
# per-engine spellings so identifier-search queries are fully oracle-able:
#   getCustomerValue_fastId -> [get, custom, value, fast, id]
#   ('value' matches no stem suffix; 'customer' loses 'er')
# Stemmer: strip the first matching suffix of (ing, ers, er, ed, es, s)
# when the token is > len(suffix)+2 chars (same guard as the reference);
# tokens shorter than 2 chars are dropped.

_STEM_SUFFIXES = ("ing", "ers", "er", "ed", "es", "s")


def _stem_case(var: str) -> str:
    branches = "".join(
        f" WHEN length({var}) > {len(s) + 2} AND {var} LIKE '%{s}' "
        f"THEN substr({var}, 1, length({var}) - {len(s)})"
        for s in _STEM_SUFFIXES
    )
    return f"(CASE{branches} ELSE {var} END)"


def _split_idents(x: str, regexp_repl: str) -> str:
    # camelCase boundary -> space, then _-/. -> space, then lower().
    camel = regexp_repl
    seps = camel
    for ch in "_-/.":
        seps = f"replace({seps}, '{ch}', ' ')"
    return f"lower({seps})"


def ident_tokens_spark(x: str) -> str:
    """array<string> of stemmed identifier tokens (Spark spelling)."""
    camel = f"regexp_replace({x}, '([a-z0-9])([A-Z])', '$1 $2')"
    split = f"split({_split_idents(x, camel)}, ' ')"
    kept = f"filter({split}, t -> length(t) >= 2)"
    return f"transform({kept}, t -> {_stem_case('t')})"


def ident_tokens_duck(x: str) -> str:
    """Same tokens, DuckDB spelling (backref syntax + list_* functions)."""
    camel = f"regexp_replace({x}, '([a-z0-9])([A-Z])', '\\1 \\2', 'g')"
    split = f"string_split({_split_idents(x, camel)}, ' ')"
    kept = f"list_filter({split}, t -> length(t) >= 2)"
    return f"list_transform({kept}, t -> {_stem_case('t')})"
