"""Oracle dtype audit (round-4 verdict #2): the driver hashes pandas
values WITHOUT dtype coercion, so a DuckDB oracle whose output column
lands in pandas as a different dtype than Spark's (HUGEINT -> float64 vs
Spark int64) hash-mismatches even when every value is equal.  This audit
statically compares the declared output types of every registered oracle
(DuckDB planner types, no execution) against the Spark plan's schema
(no job), and flags any column whose pandas landing dtype would differ.

Rules (how duckdb .df() / Spark .toPandas() land types):
  Spark  bigint->int64  int->int32  smallint->int16  double->float64
         string->object boolean->bool date->datetime/object
  DuckDB BIGINT->int64  INTEGER->int32  HUGEINT->float64(!)
         DECIMAL->float64/object(!)  DOUBLE->float64  VARCHAR->object

Any HUGEINT or DECIMAL oracle output is an automatic violation (Spark
never lands those pandas dtypes from this engine's integer discipline);
otherwise the two landing families must match exactly.

Usage: python tests/oracle_dtype_audit.py [sf_dir]
Exit 0 = clean; 1 = violations listed.
"""

from __future__ import annotations

import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# Spark simpleString dtype -> pandas landing dtype (toPandas, Arrow on).
_SPARK_PANDAS = {
    "bigint": "int64", "int": "int32", "smallint": "int16",
    "tinyint": "int8", "double": "float64", "float": "float32",
    "string": "object", "boolean": "bool", "binary": "object",
    "date": "object", "timestamp": "datetime", "timestamp_ntz": "datetime",
}


def spark_landing(dt: str) -> str:
    if dt.startswith(("array", "map", "struct", "decimal")):
        return "object" if not dt.startswith("decimal") else "DECIMAL!"
    return _SPARK_PANDAS.get(dt, f"?{dt}")


def duck_landing(dt: str) -> str:
    d = str(dt).upper()
    if d == "HUGEINT":
        return "HUGEINT!"          # lands float64/object — never matches
    if d.startswith("DECIMAL"):
        return "DECIMAL!"          # lands float64/object — never matches
    if d in ("BIGINT", "UBIGINT"):
        return "int64"
    if d in ("INTEGER", "UINTEGER"):
        return "int32"
    if d in ("SMALLINT", "USMALLINT"):
        return "int16"
    if d in ("TINYINT", "UTINYINT"):
        return "int8"
    if d == "DOUBLE":
        return "float64"
    if d == "FLOAT":
        return "float32"
    if d == "VARCHAR":
        return "object"
    if d == "BOOLEAN":
        return "bool"
    if d == "BLOB":
        return "object"
    if d == "DATE":
        return "object"
    if d.startswith("TIMESTAMP"):
        return "datetime"
    if d.startswith(("STRUCT", "MAP")) or d.endswith("[]"):
        return "object"
    return f"?{d}"


def landing_violations(
    name: str, spark_dtypes: list[tuple[str, str]], rel
) -> list[tuple[str, str, str, str]]:
    """(name, column, spark, duckdb) for every column whose landing dtype
    differs between a Spark frame's ``dtypes`` and a bound DuckDB
    relation — neither side executed. A differing column set is one
    violation on column ``*``."""
    stypes = {c: spark_landing(t) for c, t in spark_dtypes}
    otypes = dict(zip(rel.columns, [duck_landing(t) for t in rel.types]))
    if set(stypes) != set(otypes):
        return [(name, "*", f"cols {sorted(stypes)}", f"cols {sorted(otypes)}")]
    return [(name, c, stypes[c], otypes[c])
            for c in stypes if stypes[c] != otypes[c]]


def audit(sf: str) -> list[tuple[str, str, str, str]]:
    import __spark_entry__ as entry
    from tree_sitter_analyzer_spark.session import get_spark

    spark = get_spark(cpus=4)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    queries, oracles = entry.queries(), entry.oracle_sql()
    violations: list[tuple[str, str, str, str]] = []
    for name, fn in queries.items():
        if name not in oracles:
            continue
        sdf = fn(spark, sf)              # plan only — no job runs
        rel = con.sql(oracles[name])     # bind only — no execution
        violations += landing_violations(name, sdf.dtypes, rel)
    return violations


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    violations = audit(sf)
    for name, col, st, ot in violations:
        print(f"VIOLATION {name:30s} {col:24s} spark={st:12s} duckdb={ot}")
    print(f"\n{len(violations)} dtype violations")
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
