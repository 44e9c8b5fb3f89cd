"""CLI entry point — the Spark twin of the reference's ``python cleaner.py``
(``cleaner.py:396-397`` invokes ``run_cleaning_pipeline()`` with the default
paths documented at ``README.md:7``: ``sample_data.json`` in, JSON output +
text quality report out).

Usage::

    python -m yanwenxian_week3_data_pipeline_spark [INPUT] \
        [-o cleaned_output.json] [-r quality_report.txt] [-q]

Also exposes the standalone validation surface (the reference's entry
point 3, ``validator.py:144``) as a subcommand-free flag: ``--validate-only``
runs batch validation and prints the validation report without cleaning.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None, spark=None) -> int:
    p = argparse.ArgumentParser(
        prog="yanwenxian_week3_data_pipeline_spark",
        description="Spark-native article cleaning + validation pipeline",
    )
    p.add_argument("input", nargs="?", default="sample_data.json",
                   help="article JSON (array, {'articles': [...]}, or single object)")
    p.add_argument("-o", "--output", default="cleaned_output.json",
                   help="cleaned-records JSON output path")
    p.add_argument("-r", "--report", default="quality_report.txt",
                   help="quality report text output path")
    p.add_argument("-q", "--quiet", action="store_true",
                   help="suppress per-stage progress prints")
    p.add_argument("--validate-only", action="store_true",
                   help="run batch validation only and print the validation report")
    p.add_argument("--query", metavar="NAME",
                   help="run a registered analytics query instead of the cleaning "
                        "pipeline (see --list-queries); prints up to --limit rows")
    p.add_argument("--list-queries", action="store_true",
                   help="list every registered query name and exit")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                   help="table directory for --query (parquet star schema)")
    p.add_argument("--limit", type=int, default=20,
                   help="max rows to print for --query")
    args = p.parse_args(argv)

    if args.list_queries:
        from .plans import all_queries

        for name, spec in sorted(all_queries().items()):
            kind = "oracle" if spec.oracle else "rows-only"
            print(f"{name}\t{kind}")
        return 0

    owns_session = spark is None
    if owns_session:
        from .session import get_spark

        spark = get_spark("yanwenxian-week3-cli")
        spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.query:
            from .plans import all_queries

            specs = all_queries()
            if args.query not in specs:
                print(f"unknown query {args.query!r}; see --list-queries", file=sys.stderr)
                return 2
            df = specs[args.query].build(spark, args.sf_dir)
            df.show(args.limit, truncate=False)
            return 0

        if args.validate_only:
            from collections import Counter

            from pyspark.sql import Observation, functions as F

            from .domains.articles import article_rules
            from .operators.validate import with_validation
            from .report import ValidationStats, render_validation_report
            from .schema import RECORD_ID
            from .sources.articles_json import load_articles

            # one action: the failed rows are collected, the totals ride
            # along as observed metrics
            flagged = with_validation(load_articles(spark, args.input), article_rules())
            obs = Observation()
            failed = flagged.observe(
                obs,
                F.count(F.lit(1)).alias("total"),
                F.sum(F.col("passed").cast("long")).alias("passed"),
            ).where(~F.col("passed")).select(RECORD_ID, "reason", "message")
            rows = sorted(failed.collect(), key=lambda r: r[0])
            total, passed = int(obs.get["total"]), int(obs.get["passed"] or 0)
            details = [
                {"index": int(r[RECORD_ID]), "reason": r["reason"], "message": r["message"]}
                for r in rows
            ]
            # count desc, ties in first-occurrence (record_id) order, as
            # validator.py:155 and the pipeline report order them
            stats = ValidationStats(
                total=total,
                passed=passed,
                failed=total - passed,
                failure_reasons=Counter(d["reason"] for d in details).most_common(),
                failed_record_details=details,
            )
            print(render_validation_report(stats))
            return 0

        from .pipeline import run_cleaning_pipeline

        run_cleaning_pipeline(
            spark, args.input, args.output, args.report, verbose=not args.quiet
        )
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
