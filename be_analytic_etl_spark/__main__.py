"""Command-line entry point: ``python -m be_analytic_etl_spark <cmd>``.

The reference engine is driven as scripts (``python main.py``,
``python connect_postgre.py``); this CLI is the equivalent driver surface
for the Spark engine:

    python -m be_analytic_etl_spark list
    python -m be_analytic_etl_spark run groupby_avg --sf-dir /root/testdata/sf0.01 --show 10
    python -m be_analytic_etl_spark explain ext_minhash_lsh_neardup
    python -m be_analytic_etl_spark lint ext_pipeline_e2e --strict
    python -m be_analytic_etl_spark lint-sources
    python -m be_analytic_etl_spark sql "SELECT COUNT(*) FROM lineitem"
    python -m be_analytic_etl_spark pipeline --spec spec.json --show 5

``run`` executes a registered query (``--noop`` materializes without
driver-side collect — the bench semantics); ``explain`` prints the
formatted physical plan and ``lint`` turns it into typed findings (the
pre-flight checks before a 100 TB run); ``sql`` installs the table views
+ SQL UDFs and runs a statement (the reference's pgAdmin workflow);
``pipeline`` runs a declarative JSON spec over the documents table via
``pipeline.run_pipeline``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="be_analytic_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    sub.add_parser(
        "lint-sources",
        help="scan package sources for divergence-class-6 decimal casts "
        "(raw libm/sqrt outputs cast to DECIMAL without stable_round)",
    )

    for name in ("run", "explain", "lint"):
        s = sub.add_parser(name)
        s.add_argument("query")
        s.add_argument("--sf-dir", default="/root/testdata/sf0.001")
        if name == "run":
            s.add_argument("--show", type=int, default=20)
            s.add_argument("--noop", action="store_true",
                           help="materialize with the noop sink (no collect)")
        if name == "lint":
            s.add_argument("--max-exchanges", type=int, default=None)
            s.add_argument("--strict", action="store_true",
                           help="exit non-zero on error-severity findings")

    s = sub.add_parser("sql", help="run SQL over the table catalog (pgAdmin-style)")
    s.add_argument("statement")
    s.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    s.add_argument("--show", type=int, default=20)

    s = sub.add_parser("pipeline")
    s.add_argument("--spec", required=True, help="JSON file: list of stage dicts")
    s.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    s.add_argument("--table", default="documents")
    s.add_argument("--show", type=int, default=20)
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    from be_analytic_etl_spark.registry import QUERIES

    if args.cmd == "list":
        # register() stores an oracle with every query
        for name in QUERIES:
            print(f"{name}\toracle")
        print(f"TOTAL\t{len(QUERIES)}", file=sys.stderr)
        return 0

    if args.cmd == "lint-sources":
        import os

        from be_analytic_etl_spark.plans.lint import (
            lint_decimal_casts,
            lint_product_decimal_casts,
        )

        pkg = os.path.dirname(os.path.abspath(__file__))
        findings = lint_decimal_casts(pkg) + lint_product_decimal_casts(pkg)
        for f in findings:
            print(f)
        print(f"TOTAL\t{len(findings)} finding(s)", file=sys.stderr)
        return 1 if findings else 0

    from pyspark.sql import SparkSession

    from be_analytic_etl_spark.session import get_spark

    # Only stop a session this invocation created: under a test harness
    # (or a REPL) getOrCreate returns the caller's live session, which
    # must survive the command.
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("be-analytic-etl-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.cmd in ("run", "explain", "lint"):
            if args.query not in QUERIES:
                print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
                return 2
            df = QUERIES[args.query](spark, args.sf_dir)
            if args.cmd == "explain":
                df.explain(mode="formatted")
                return 0
            if args.cmd == "lint":
                from be_analytic_etl_spark.plans.lint import lint_plan

                findings = lint_plan(df, max_exchanges=args.max_exchanges)
                for f in findings:
                    print(f)
                n_err = sum(1 for f in findings if f.severity == "error")
                print(f"{len(findings)} findings, {n_err} errors", file=sys.stderr)
                return 1 if (args.strict and n_err) else 0
            t0 = time.perf_counter()
            if args.noop:
                df.write.mode("overwrite").format("noop").save()
            else:
                df.show(args.show, truncate=False)
            print(f"{args.query}: {time.perf_counter() - t0:.2f}s", file=sys.stderr)
            return 0

        if args.cmd == "sql":
            from be_analytic_etl_spark.functions.sqludf import install_sql_functions
            from be_analytic_etl_spark.sources import install_views

            install_views(spark, args.sf_dir)
            install_sql_functions(spark)
            spark.sql(args.statement).show(args.show, truncate=False)
            return 0

        # pipeline
        from be_analytic_etl_spark.pipeline import run_pipeline
        from be_analytic_etl_spark.sources import load_table

        with open(args.spec, encoding="utf-8") as f:
            spec = json.load(f)
        df = load_table(spark, args.sf_dir, args.table, spread=True)
        out = run_pipeline(df, spec)
        out.show(args.show, truncate=False)
        return 0
    finally:
        if not preexisting:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
