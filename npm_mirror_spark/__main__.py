"""CLI: run any registered query (or the streaming pipeline) from a shell.

    python -m npm_mirror_spark list
    python -m npm_mirror_spark run q_mirror_record [--sf-dir DIR] [-n 20]
    python -m npm_mirror_spark explain q_asof_join [--sf-dir DIR]

`run` prints the first N rows and the row count; `explain` prints the
formatted physical plan (the same evidence docs/PLANS.md is generated
from). Uses the tuned session factory, ``get_spark()``: SPARK_GRAFT_CPUS
sets both the local cores and the shuffle partitions.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="npm_mirror_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    for name in ("run", "explain"):
        s = sub.add_parser(name)
        s.add_argument("query")
        s.add_argument("--sf-dir", default="/root/testdata/sf0.01")
        if name == "run":
            s.add_argument("-n", "--rows", type=int, default=20)

    rel = sub.add_parser(
        "release", help="run the 5-stage curation pipeline, commit a snapshot"
    )
    rel.add_argument("out_dir")
    rel.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    rel.add_argument("--capacity", type=int, default=512)

    args = p.parse_args(argv)

    from npm_mirror_spark.queries import ORACLES, QUERIES

    if args.cmd == "list":
        for q in sorted(QUERIES):
            print(f"{q}  [{'oracle' if q in ORACLES else 'rows-only'}]")
        return 0

    if args.cmd == "release":
        import json

        from pyspark.sql import functions as F

        from npm_mirror_spark.release import build_release
        from npm_mirror_spark.session import get_spark
        from npm_mirror_spark.tables import load_table

        spark = get_spark()
        spark.sparkContext.setLogLevel("ERROR")
        docs = load_table(spark, args.sf_dir, "documents")
        bench = docs.where(F.col("doc_id") % 20 == 0)
        corpus = docs.where(F.col("doc_id") % 20 != 0)
        audit = build_release(
            spark, corpus, bench, args.out_dir, capacity=args.capacity
        )
        print(json.dumps(audit))
        return 0

    if args.query not in QUERIES:
        print(f"unknown query {args.query!r}; `list` shows all", file=sys.stderr)
        return 2

    from npm_mirror_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    df = QUERIES[args.query](spark, args.sf_dir)
    if args.cmd == "explain":
        df.explain("formatted")
    else:
        df.show(args.rows, truncate=60)
        print(f"{df.count()} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
