"""spark-submit entry point for the durable corpus profile
(operators/sketch.py): build the bounded sketch tables once, fold
daily batches in, and answer corpus questions from kilobytes of
sketch state instead of a full re-scan.

Usage (cluster):
    spark-submit --py-files gocrd_spark.zip -m gocrd_spark.jobs.profile_job \
        build --input s3://bucket/documents --table s3://bucket/profile
    ... profile_job append --input s3://bucket/day2 \
        --table s3://bucket/profile --batch-id 2026-08-18
    ... profile_job report --table s3://bucket/profile \
        [--terms the,data,model]

Usage (sandbox):
    python -m gocrd_spark.jobs.profile_job build \
        --input /tmp/docs --table /tmp/profile

``build`` is write-once/resume (a finished table is never recomputed;
parameter mismatch refuses loudly); ``append`` is commit-marker
idempotent — re-running a batch-id is a no-op, so the daily job is
safe to retry. ``report`` prints one JSON line per profile face:
per-group distinct-token estimates, doc-length p50/p90/p99 bounds,
and (optionally) count-min term-count estimates.
"""

from __future__ import annotations

import argparse
import json


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="gocrd-spark corpus-profile job")
    sub = parser.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("build", help="materialize the profile once")
    b.add_argument("--input", required=True)
    b.add_argument("--table", required=True)
    b.add_argument("--group-col", default="source")
    a = sub.add_parser("append", help="fold a batch in (idempotent)")
    a.add_argument("--input", required=True)
    a.add_argument("--table", required=True)
    a.add_argument("--batch-id", required=True)
    a.add_argument("--group-col", default="source")
    r = sub.add_parser("report", help="print profile estimates as JSON")
    r.add_argument("--table", required=True)
    r.add_argument("--terms", default="", help="comma-separated CMS probes")
    args = parser.parse_args(argv)

    from pyspark.sql import SparkSession

    from gocrd_spark.operators import sketch
    from gocrd_spark.session import get_spark

    # a host process's live session is used as it is (get_spark would
    # apply its defaults to it) and left running
    active = SparkSession.getActiveSession()
    spark = active or get_spark(app_name=f"gocrd-profile-{args.cmd}")
    try:
        if args.cmd == "build":
            docs = spark.read.parquet(args.input)
            sketch.profile_build(docs, args.table, group_col=args.group_col)
            print(json.dumps({"built": args.table}))
        elif args.cmd == "append":
            docs = spark.read.parquet(args.input)
            sketch.profile_append(
                docs, args.table, args.batch_id, group_col=args.group_col
            )
            print(json.dumps({"appended": args.batch_id, "table": args.table}))
        else:
            distinct = {
                r["group"]: r["est_distinct"]
                for r in sketch.profile_distinct(spark, args.table).collect()
            }
            quant = [
                {
                    "group": r["group"],
                    "q_permille": r["q_permille"],
                    "value_lo": r["value_lo"],
                    "value_hi": r["value_hi"],
                }
                for r in sketch.profile_length_quantiles(spark, args.table)
                .orderBy("group", "q_permille")
                .collect()
            ]
            out = {"distinct_terms": distinct, "doclen_quantiles": quant}
            if args.terms:
                out["term_counts"] = {
                    r["term"]: r["est_count"]
                    for r in sketch.profile_term_counts(
                        spark, args.table, args.terms.split(",")
                    ).collect()
                }
            print(json.dumps(out, sort_keys=True))
    finally:
        if active is None:
            spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
