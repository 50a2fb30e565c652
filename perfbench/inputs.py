"""Benchmark inputs: where they live and how they are made.

Everything is generated under ``.bench_build/perfbench`` in the checkout
and keyed by ``datagen.DATAGEN_VERSION`` (plus the seed for the
extraction window), so a run only generates what an earlier run in the
same checkout has not. Generation is pure Python (pyarrow, no JVM) and
runs before the workload's process starts, so no clock sees it.

    python3 perfbench/inputs.py --workload extract_job --seed 1 [--trace 1]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
TMP = os.path.join(WORK, "tmp")
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# The query workload's scale: 1_000 datagen pages and the committed copy
# of the sf0.01 documents table (its goldens ship in goldens/*_sf001).
QUERY_SF_DIR = os.path.join(DATA, "sf0.01")
QUERY_PAGES = 1_000
# The extraction window: the two reference-fixture rows plus a block of
# EXTRACT_DOCS - 2 consecutive doc ids chosen by the seed.
EXTRACT_DOCS = 8_000
EXTRACT_FILES = 8

PAGES_FIELDS = ("url", "warc_ts", "html", "text", "lang")


def child_env() -> dict:
    """Environment for the processes a run starts: temporary files of
    Python and of every JVM (spark-submit's launcher and Spark's own)
    inside the checkout, and no JVM perf-data file."""
    return dict(
        os.environ,
        TMPDIR=TMP,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )


def program_present() -> bool:
    """The benchmark drives the program from the checkout it runs in."""
    return all(
        os.path.exists(os.path.join(ROOT, p))
        for p in ("__spark_entry__.py", "gocrd_spark/pipeline.py",
                  "tools/gen_goldens.py", "goldens")
    )


def _import_program() -> None:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def datagen_version() -> int:
    _import_program()
    from gocrd_spark.datagen import DATAGEN_VERSION

    return DATAGEN_VERSION


def window_ids(seed: int) -> list[int]:
    base = 2 + (seed % 9_000) * 10_000  # 8-digit urls for every seed
    return [0, 1] + list(range(base, base + EXTRACT_DOCS - 2))


def extract_input_path(seed: int) -> str:
    return os.path.join(
        WORK, "inputs", f"extract_v{datagen_version()}_s{seed}_n{EXTRACT_DOCS}"
    )


def query_pages_path() -> str:
    """Same key as the program's own pages cache for this scale."""
    return os.path.join(WORK, "inputs", f"v{datagen_version()}_sf_{QUERY_PAGES}")


def _write_pages(rows: list[dict], path: str, n_files: int) -> None:
    """datagen rows as ``n_files`` zstd parquet files of contiguous id
    ranges, published by one rename."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        part = rows[k * step:(k + 1) * step]
        table = pa.table({f: [r[f] for r in part] for f in PAGES_FIELDS}, schema=schema)
        pq.write_table(table, os.path.join(tmp, f"part-{k:05d}.parquet"),
                       compression="zstd")
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def prepare(workload: str, seed: int, trace: int) -> None:
    """Build every input the run reads. The extraction window is read by
    extract_job and by every traced run, whose layer probes run on it."""
    _import_program()
    from gocrd_spark import datagen

    from expect import expected_extraction

    os.makedirs(TMP, exist_ok=True)
    os.makedirs(os.path.join(WORK, "inputs"), exist_ok=True)
    path = extract_input_path(seed)
    if (workload == "extract_job" or trace) and not os.path.exists(
        os.path.join(path, "_SUCCESS")
    ):
        rows = [datagen.make_row_with_spec(i) for i in window_ids(seed)]
        with open(path + ".expected.json.tmp", "w") as fh:
            json.dump(expected_extraction(rows), fh)
        os.replace(path + ".expected.json.tmp", path + ".expected.json")
        _write_pages([r for r, _, _ in rows], path, EXTRACT_FILES)
    qpath = query_pages_path()
    if workload.startswith("queries") and not os.path.exists(
        os.path.join(qpath, "_SUCCESS")
    ):
        # the program writes this table from spark.range(0, n, 1, 4)
        _write_pages([datagen.make_row(i) for i in range(QUERY_PAGES)], qpath, 4)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    prepare(args.workload, args.seed, args.trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
