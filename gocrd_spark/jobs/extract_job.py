"""spark-submit entry point for the extraction pipeline.

Usage (cluster):
    spark-submit --py-files gocrd_spark.zip -m gocrd_spark.jobs.extract_job \
        --input s3://bucket/pages --output s3://bucket/extracted \
        --n-groups 200000 --salt 42 --ts-start 2026-01-01 --ts-end 2026-02-01

Usage (sandbox):
    python -m gocrd_spark.jobs.extract_job --input /tmp/pages --output /tmp/out

Resumable: rerunning with the same output dir skips committed groups
(SURVEY.md §4.4). Exit code 0 even when individual documents fail —
they become error rows; the summary JSON on stdout carries counters.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="gocrd-spark extraction job")
    parser.add_argument("--input", required=True, help="pages table (parquet dir or Iceberg id), or a WARC shard dir with --input-format warc")
    parser.add_argument("--input-format", default="parquet", choices=["parquet", "warc"],
                        help="read parquet/Iceberg pages (default) or raw *.warc/*.warc.gz shards")
    parser.add_argument("--output", required=True, help="output dir (data/ + _commits/)")
    parser.add_argument("--n-groups", type=int, default=64, help="commit groups (O(100k) at crawl scale)")
    parser.add_argument("--salt", type=int, default=42, help="url-hash salt")
    parser.add_argument("--ts-start", default=None, help="warc_ts lower bound (inclusive)")
    parser.add_argument("--ts-end", default=None, help="warc_ts upper bound (exclusive)")
    parser.add_argument("--master", default=None, help="override spark master")
    parser.add_argument("--with-metadata", action="store_true",
                        help="also write the head-metadata side table (meta/) in the same pass")
    args = parser.parse_args(argv)

    import datetime

    for name in ("ts_start", "ts_end"):
        value = getattr(args, name)
        if value is not None:
            try:
                datetime.datetime.fromisoformat(value)
            except ValueError:
                parser.error(f"--{name.replace('_', '-')}: not an ISO timestamp: {value!r}")

    from pyspark.sql import SparkSession

    from gocrd_spark.pipeline import run_extract_job
    from gocrd_spark.session import get_spark

    # a host process's live session is used as it is (get_spark would
    # apply its defaults to it) and left running
    active = SparkSession.getActiveSession()
    spark = active or get_spark(master=args.master, app_name="gocrd-extract")
    try:
        summary = run_extract_job(
            spark,
            input_path=args.input,
            output_dir=args.output,
            n_groups=args.n_groups,
            salt=args.salt,
            ts_start=args.ts_start,
            ts_end=args.ts_end,
            input_format=args.input_format,
            with_metadata=args.with_metadata,
        )
        print(json.dumps(summary))
        return 0
    finally:
        if active is None:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
