"""CLI entry point — `python -m tree_sitter_analyzer_spark`.

Mirrors the reference's CLI surface (``api.py:85-127``, cli/commands): the
same named queries callable from the shell, results as JSON/CSV envelopes
with capped rows + true totals (T5). CLI and Python API route through the
identical registry, so they cannot drift (the facade-map contract
discipline, ``mcp/facade_map.py:8-12``).

    python -m tree_sitter_analyzer_spark list
    python -m tree_sitter_analyzer_spark run zonal_stats --sf-dir /root/testdata/sf0.001
    python -m tree_sitter_analyzer_spark run pip_join --limit 5 --format csv
    python -m tree_sitter_analyzer_spark sql "SELECT count(*) AS n FROM tiles"
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="tree_sitter_analyzer_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    runp = sub.add_parser("run", help="run a named query")
    runp.add_argument("name")
    runp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    runp.add_argument("--limit", type=int, default=20)
    runp.add_argument("--format", choices=["json", "csv", "compact"], default="json")
    runp.add_argument("--cpus", type=int, default=None)

    exp = sub.add_parser(
        "explain", help="show a registered query's physical plan"
    )
    exp.add_argument("name")
    exp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    exp.add_argument(
        "--mode",
        choices=["simple", "formatted", "extended", "cost"],
        default="formatted",
    )
    exp.add_argument("--cpus", type=int, default=None)

    selp = sub.add_parser(
        "select", help="run a selector string over the tiles table"
    )
    selp.add_argument("selector")
    selp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    selp.add_argument("--cpus", type=int, default=None)
    selp.add_argument(
        "--table", choices=["tiles", "documents"], default="tiles",
        help="which table the selector runs over",
    )
    selp.add_argument(
        "--explain", action="store_true",
        help="print the compiled physical plan instead of executing "
        "(:near is the one eager step — its iterative kNN search still "
        "runs at chain build)",
    )

    sqlp = sub.add_parser("sql", help="run gated ad-hoc SQL over the views")
    sqlp.add_argument("query")
    sqlp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    sqlp.add_argument("--limit", type=int, default=20)
    sqlp.add_argument("--cpus", type=int, default=None)

    args = p.parse_args(argv)

    from .registry import load_all

    registry = load_all()

    if args.cmd == "list":
        for name, q in sorted(registry.items()):
            oracle = "oracle" if q.oracle else "rows-only"
            print(f"{name:28s} [{oracle}] {q.doc}")
        return 0

    from .session import get_spark

    spark = get_spark(cpus=args.cpus)
    try:
        if args.cmd == "select":
            from .plans.chain import Engine
            from .plans.selector import SelectorError

            try:
                chain = Engine(spark, args.sf_dir).select(
                    args.selector, table=args.table
                )
                if args.explain:
                    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    print(
                        chain.df()._jdf.queryExecution().explainString(
                            jmode.fromString("formatted")
                        )
                    )
                    return 0
                env = chain.answer(compact=True)
            except (SelectorError, KeyError) as exc:
                print(
                    json.dumps({"verdict": "error", "error": str(exc)}),
                    file=sys.stderr,
                )
                return 2
            print(json.dumps(env, default=str))
            return 0

        if args.cmd == "sql":
            from .plans.sql_surface import register_views, run_user_sql

            register_views(spark, args.sf_dir)
            env = run_user_sql(spark, args.query, max_rows=args.limit)
            print(json.dumps(env, default=str))
            return 0

        if args.name not in registry:
            print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
            return 2
        if args.cmd == "explain":
            # The plan IS the scale contract (docs/PLANS.md); surface it
            # on the CLI so broadcast/pushdown/exchange shapes are
            # inspectable without writing code.
            df = registry[args.name].spark_fn(spark, args.sf_dir)
            jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
            print(
                df._jdf.queryExecution().explainString(
                    jmode.fromString(args.mode)
                )
            )
            return 0
        df = registry[args.name].spark_fn(spark, args.sf_dir)
        total = df.count()
        rows = [r.asDict() for r in df.limit(args.limit).collect()]
        if args.format == "compact":
            # Token-compact tabular envelope (the reference's TOON encoder,
            # toon_encoder.py / SURVEY.md S8): one column header + row
            # arrays, ~40-60% fewer chars than repeated-key JSON for the
            # same payload — the agent-context-budget discipline
            # (README.md:250-256 of the reference) applied to this CLI.
            cols = sorted(rows[0]) if rows else []
            print(
                json.dumps(
                    {
                        "verdict": "ok",
                        "query": args.name,
                        "cols": cols,
                        "rows": [[r[c] for c in cols] for r in rows],
                        "stats": {
                            "total_matches": total,
                            "returned": len(rows),
                            "was_truncated": total > len(rows),
                        },
                    },
                    default=str,
                )
            )
        elif args.format == "csv":
            import csv

            w = csv.DictWriter(sys.stdout, fieldnames=sorted(rows[0]) if rows else [])
            w.writeheader()
            for r in rows:
                w.writerow({k: r[k] for k in sorted(r)})
        else:
            print(
                json.dumps(
                    {
                        "verdict": "ok",
                        "query": args.name,
                        "results": rows,
                        "stats": {
                            "total_matches": total,
                            "returned": len(rows),
                            "was_truncated": total > len(rows),
                        },
                    },
                    default=str,
                )
            )
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
