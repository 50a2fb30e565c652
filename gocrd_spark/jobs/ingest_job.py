"""spark-submit entry point for streaming ingest dedup — drain a
document-stream directory through the incremental near-dup pipeline
(streaming/ingest_dedup.py): every micro-batch is checked against the
durable MinHash table and folded in.

Usage (sandbox):
    python -m gocrd_spark.jobs.ingest_job \
        --input /tmp/docs_stream --table /tmp/mh_table \
        --store /tmp/docs_store --pairs /tmp/pairs \
        --checkpoint /tmp/ckpt [--seed-docs /tmp/seed.parquet]

First run with --seed-docs builds the durable table + docs store from
the seed corpus (pass an empty parquet for a cold start); later runs
resume from the checkpoint and only process new stream files.
Re-running after a crash is safe end to end: the checkpoint replays
the unfinished micro-batch, whose writes are idempotent (commit-marker
fold-in, per-batch overwrite outputs).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="gocrd-spark streaming ingest dedup")
    parser.add_argument("--input", required=True, help="stream input dir (parquet files, doc_id/ts/text)")
    parser.add_argument("--table", required=True, help="durable MinHash signature table dir")
    parser.add_argument("--store", required=True, help="docs text store dir (per-batch subdirs)")
    parser.add_argument("--pairs", required=True, help="near-dup pairs output dir (per-batch subdirs)")
    parser.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    parser.add_argument("--seed-docs", default=None,
                        help="seed corpus parquet (doc_id, text); builds table+store when the table doesn't exist yet")
    parser.add_argument("--threshold", type=float, default=0.5)
    parser.add_argument("--n", type=int, default=3, help="shingle n (table build only)")
    parser.add_argument("--num-hashes", type=int, default=32, help="table build only")
    parser.add_argument("--bands", type=int, default=8, help="table build only")
    parser.add_argument("--master", default=None, help="override spark master")
    args = parser.parse_args(argv)

    from pyspark.sql import SparkSession

    from gocrd_spark import fsio
    from gocrd_spark.operators.dedup import minhash_signatures
    from gocrd_spark.session import get_spark
    from gocrd_spark.streaming.ingest_dedup import ingested_pairs, run_ingest_dedup

    # a host process's live session is used as it is (get_spark would
    # apply its defaults to it) and left running
    active = SparkSession.getActiveSession()
    spark = active or get_spark(master=args.master, app_name="gocrd-ingest")
    try:
        if not fsio.is_built(spark, args.table):
            if args.seed_docs is None:
                parser.error(
                    f"no table at {args.table}; pass --seed-docs to build one"
                )
            seed = spark.read.parquet(args.seed_docs).select("doc_id", "text")
            minhash_signatures(
                seed, args.table, n=args.n,
                num_hashes=args.num_hashes, bands=args.bands,
            )
            seed.write.mode("overwrite").parquet(
                os.path.join(args.store, "batch=seed")
            )
        run_ingest_dedup(
            spark, args.input, args.table, args.store, args.pairs,
            args.checkpoint, threshold=args.threshold,
        )
        # explicit existence check — a real read failure must surface,
        # not print pairs_total: 0 with exit code 0
        if fsio.exists(spark, args.pairs):
            n_pairs = ingested_pairs(spark, args.pairs).count()
        else:
            n_pairs = 0  # no batch emitted any pairs yet
        print(json.dumps({"pairs_total": n_pairs, "table": args.table}))
        return 0
    finally:
        if active is None:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
