"""CLI — the spark-submit contract (SURVEY.md §3 entry point 2).

    python -m yelp_data_pipeline_spark list
    python -m yelp_data_pipeline_spark run <query> [--sf-dir D] [--show N | --out PATH]
    python -m yelp_data_pipeline_spark b2s --bronze B --silver S --year Y --month M
    python -m yelp_data_pipeline_spark s2g --silver S --gold G --year Y --month M
    python -m yelp_data_pipeline_spark backfill --bronze B --silver S --gold G --start YYYY-MM --end YYYY-MM
    python -m yelp_data_pipeline_spark curate --out PATH [--sf-dir D]

The pipeline commands print the rows each task wrote, per table.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="yelp_data_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registry queries")

    runp = sub.add_parser("run", help="run a registry query")
    runp.add_argument("query")
    runp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    runp.add_argument("--show", type=int, default=20)
    runp.add_argument("--out", help="write result parquet here instead of showing")

    b2s = sub.add_parser("b2s", help="bronze→silver monthly job")
    b2s.add_argument("--bronze", required=True)
    b2s.add_argument("--silver", required=True)
    b2s.add_argument("--year", type=int, required=True)
    b2s.add_argument("--month", type=int, required=True)

    cur = sub.add_parser("curate", help="document curation job (scrub→quality→dedup→write)")
    cur.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    cur.add_argument("--out", required=True)
    cur.add_argument("--min-quality", type=float, default=0.45)

    s2g = sub.add_parser("s2g", help="silver→gold monthly job")
    s2g.add_argument("--silver", required=True)
    s2g.add_argument("--gold", required=True)
    s2g.add_argument("--year", type=int, required=True)
    s2g.add_argument("--month", type=int, required=True)

    bf = sub.add_parser(
        "backfill",
        help="month-range b2s>>s2g backfill (catchup=True, "
        "max_active_runs=1, retries — the reference DAG's semantics)",
    )
    bf.add_argument("--bronze", required=True)
    bf.add_argument("--silver", required=True)
    bf.add_argument("--gold", required=True)
    bf.add_argument("--start", required=True, help="YYYY-MM (inclusive)")
    bf.add_argument("--end", required=True, help="YYYY-MM (inclusive)")
    bf.add_argument("--retries", type=int, default=1)

    args = p.parse_args(argv)

    from .queries import queries

    if args.cmd == "list":
        for name in queries():
            print(name)
        return 0

    from .session import get_spark

    spark = get_spark("cli")
    spark.sparkContext.setLogLevel("WARN")

    if args.cmd == "run":
        qs = queries()
        if args.query not in qs:
            print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
            return 2
        df = qs[args.query](spark, args.sf_dir)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
        else:
            df.show(args.show, truncate=False)
        return 0

    from . import pipelines

    if args.cmd == "curate":
        curated = pipelines.curate_documents_job(
            spark, args.sf_dir, args.out, min_quality=args.min_quality
        )
        print(f"curated: {curated.count()} rows -> {args.out}")
        return 0

    if args.cmd == "backfill":
        def _ym(s: str) -> tuple[int, int]:
            y, m = s.split("-")
            return int(y), int(m)

        summary = pipelines.backfill(
            spark, args.bronze, args.silver, args.gold,
            _ym(args.start), _ym(args.end), retries=args.retries,
        )
        for rec in summary:
            rows = ", ".join(f"{k}={v}" for k, v in rec["rows"].items())
            print(
                f"{rec['year']}-{rec['month']:02d} {rec['task']} "
                f"(attempt {rec['attempts']}): {rows}"
            )
        return 0

    if args.cmd == "b2s":
        rows = pipelines.bronze_to_silver(
            spark, args.bronze, args.silver, args.year, args.month
        )
    else:
        rows = pipelines.silver_to_gold(
            spark, args.silver, args.gold, args.year, args.month
        )
    for name, n in rows.items():
        print(f"{name}: {n} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
