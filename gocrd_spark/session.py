"""SparkSession construction with the engine's scale defaults.

Tuned for the document-extraction workload (SURVEY.md §4.2-§4.3):
rows are megabyte-scale XML payloads, so Arrow batches are capped low;
AQE handles post-shuffle coalescing and skew splits.
"""

from __future__ import annotations

import os
import re
from typing import Optional

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
ARROW_BATCH_ROWS = 128
# Spark 4's direct bound on Arrow batch PAYLOAD: with the row cap alone,
# 128 megabyte-scale crawl rows could hold ~hundreds of MB per batch;
# the byte cap splits fat batches regardless of row count, so the row
# cap can sit where SMALL rows are efficient. 64 MiB keeps worst-case
# per-worker batch memory bounded; inert for KB-scale rows.
ARROW_BATCH_BYTES = 64 * 1024 * 1024


def get_spark(
    master: Optional[str] = None,
    app_name: str = "gocrd-spark",
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra: Optional[dict[str, str]] = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - Arrow batches are capped at ``ARROW_BATCH_ROWS`` rows and
      ``ARROW_BATCH_BYTES`` of payload: r05 ran 64-row batches as the
      only guard against megabyte-scale document rows; with the byte cap
      carrying that guard, the row cap moves to 128 — measured +26%
      extraction throughput at local[32] on the bench corpus (16.7k ->
      21.1k docs/s salted plan; 2->8 scaling pair holds >= 0.83),
      because KB-scale rows were paying per-batch Python round-trip
      overhead at 64.
    - AQE on: coalesces small post-shuffle partitions and splits skewed
      ones at runtime — the salted url-hash shuffle benefits directly.
    - On a local master the Python worker daemon is
      :mod:`gocrd_spark.daemon`: it imports pyspark from its directory
      install rather than Spark's zips, which pyspark re-reads on every
      task (about 0.06-0.09 s a task). The workers there share the
      driver's machine, working directory and ``PYTHONPATH``, which the
      kernels already need to import ``gocrd_spark``. On a cluster the
      daemon starts before any ``--py-files`` are on the path, so the
      conf stays unset; set it through ``extra`` only where the
      executors' own Python environment can import ``gocrd_spark``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # shuffle/spill to tmpfs when available: this VM's root disk is slow and
    # the salted-repartition shuffle is I/O-bound through it (a real cluster
    # would use local NVMe); /dev/shm holds the whole working set here
    local_dir = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # pin UTC so timestamp truncation/casts match the DuckDB oracles'
        # naive-UTC semantics on any host timezone (engine-parity contract)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_BATCH_BYTES))
        # parquet source tuning for the fat-binary-column layout
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if re.fullmatch(r"local(\[[^\]]*\])?", master or "local"):
        builder = builder.config("spark.python.daemon.module", "gocrd_spark.daemon")
    for key, value in (extra or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
