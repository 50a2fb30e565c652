"""Self-test of the benchmark's checks.

    python3 perfbench/selftest.py [--seed 0]

Runs one extraction job pass and one pass of the query workload, checks
that both are clean, then corrupts one extracted text, drops one other
output row and alters one query result, and checks that exactly those
three operations are reported as failed. Exit code 0 when they are.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import inputs

sys.path.insert(0, inputs.ROOT)


def corrupt_extract(out: str) -> tuple[str, str]:
    """Change the text of one url and drop the row of another, in place.
    Returns (corrupted url, dropped url)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    data = os.path.join(out, "data")
    path = next(
        os.path.join(data, g, f) for g in sorted(os.listdir(data))
        for f in sorted(os.listdir(os.path.join(data, g))) if f.endswith(".parquet")
    )
    table = pq.read_table(path)
    rows = table.to_pylist()
    changed = next(r for r in rows if r["text"])
    changed["text"] = changed["text"][:-1] + "#"
    dropped = next(r for r in rows if r is not changed)
    rows.remove(dropped)
    pq.write_table(pa.Table.from_pylist(rows, schema=table.schema), path)
    return changed["url"], dropped["url"]


def alter_query(results: dict) -> str:
    """Change one value of the first non-empty query result in place."""
    name = next(n for n, pdf in results.items() if len(pdf))
    v = results[name].iat[0, 0]
    results[name].iat[0, 0] = f"{v}#" if isinstance(v, str) or v is None else v + 1
    return name


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args()
    if not inputs.program_present():
        print(f"perfbench: no gocrd_spark checkout in {inputs.ROOT}", file=sys.stderr)
        return 2
    inputs.prepare("queries_sf001", args.seed, trace=1)
    os.environ.update(inputs.child_env())

    from expect import check_extract_output
    from tracing import Tracer
    from workloads import ExtractJob, Queries, setup

    spark, ctx = setup("queries_sf001", args.seed, None)
    off = Tracer(enabled=False)
    job = ExtractJob(spark, ctx)
    _, out = job.run_pass(off)
    clean_docs = sorted(check_extract_output(out, job.expected))
    corrupted = corrupt_extract(out)
    bad_docs = sorted(check_extract_output(out, job.expected))
    shutil.rmtree(job.out_root)

    queries = Queries(spark, ctx)
    _, results = queries.run_pass(off)
    clean_queries = [n for n in queries.names if not queries.oracle.matches(n, results[n])]
    altered = alter_query(results)
    bad_queries = [n for n in queries.names if not queries.oracle.matches(n, results[n])]
    spark.stop()

    report = {
        "clean": {"docs": clean_docs, "queries": clean_queries},
        "injected": {"docs": sorted(corrupted), "queries": [altered]},
        "reported": {"docs": bad_docs, "queries": bad_queries},
    }
    ok = (not clean_docs and not clean_queries and bad_docs == sorted(corrupted)
          and bad_queries == [altered])
    report["ok"] = ok
    print(json.dumps(report))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
