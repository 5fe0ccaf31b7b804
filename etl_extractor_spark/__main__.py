"""CLI entry point — the analog of the reference's ``python main.py``
(reference main.py:1-40: config-driven extract → transform → load).

    python -m etl_extractor_spark --sf-dir /root/testdata/sf0.001 \
        --out /tmp/lake [--log /tmp/etl.log]

Reads the configured source tables from the parquet scale-factor
directory, runs the full staged pipeline (extract → staging → dims →
fact → gold), and prints the per-table row-count reconciliation the
reference logs at every stage. It also writes ``<out>/run_record.json``:
one ``{stage, rows_out, sec}`` entry per stage, where ``rows_out`` maps
each table the stage produced to its rows, observed on the stage's own
writes (the record costs no Spark job).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="etl_extractor_spark")
    p.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    p.add_argument("--out", help="lake root (staging/ + gold/ written below)")
    p.add_argument("--log", default=None, help="optional rotating log file")
    p.add_argument("--query", help="run one registered query by name and print rows (use 'list' to enumerate)")
    p.add_argument("--limit", type=int, default=20, help="rows to show with --query")
    args = p.parse_args(argv)

    if args.query:
        from etl_extractor_spark.plans.registry import all_queries
        from etl_extractor_spark.session import get_spark

        queries = all_queries()
        if args.query == "list":
            print("\n".join(sorted(queries)))
            return 0
        if args.query not in queries:
            print(f"unknown query {args.query!r}; --query list to enumerate", file=sys.stderr)
            return 2
        spark = get_spark(app_name="etl-extractor-spark-cli")
        queries[args.query](spark, args.sf_dir).show(args.limit, truncate=False)
        return 0

    if not args.out:
        p.error("--out is required unless --query is given")

    from etl_extractor_spark.pipeline import run_pipeline
    from etl_extractor_spark.session import get_spark
    from etl_extractor_spark.sources.parquet import load_table

    spark = get_spark(app_name="etl-extractor-spark-cli")
    sources = {
        name: load_table(spark, args.sf_dir, name)
        for name in ("customer", "part", "supplier", "orders", "lineitem", "events")
    }
    counts = run_pipeline(
        spark,
        sources,
        staging_dir=os.path.join(args.out, "staging"),
        gold_dir=os.path.join(args.out, "gold"),
        log_path=args.log,
    )
    with open(os.path.join(args.out, "run_record.json"), "w") as f:
        json.dump(counts.record, f, indent=1)
    print(json.dumps(counts))
    return 0


if __name__ == "__main__":
    sys.exit(main())
