"""bench_extra.py — per-query isolation bench + plan capture (r06).

The FROZEN bench.py measures the round; this file is the working
instrument (guide §1): time any subset of queries() with the noop sink
in a single warm session, and dump `.explain("formatted")` to
plans/r06/<query>_<tag>.txt so plan claims are reviewable.

Usage:
  python bench_extra.py time  NAME [NAME...] [--repeats N] [--sf DIR]
  python bench_extra.py plan  NAME [NAME...] [--tag before|after] [--sf DIR]
  python bench_extra.py sweep [--repeats N] [--sf DIR]   # every query
Prints one JSON line {"queries": {name: best_sec}, "steal_pct": x}.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _ticks():
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7] if len(f) > 7 else 0, sum(f)


def main() -> int:
    import __spark_entry__ as entry
    from gocrd_spark.session import get_spark

    args = sys.argv[1:]
    mode = args.pop(0) if args else "sweep"
    repeats, tag = 2, "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--repeats":
            repeats = int(args[i + 1]); i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif args[i] == "--tag":
            tag = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    spark = get_spark(master=f"local[{cpus}]", app_name=f"bench-extra-{mode}")
    q = entry.queries()
    if mode == "sweep":
        names = list(q)
    unknown = [n for n in names if n not in q]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    entry._pages(spark, sf_dir)  # warm the synthetic-pages cache untimed

    if mode == "plan":
        os.makedirs(os.path.join(REPO, "plans", "r06"), exist_ok=True)
        for n in names:
            df = q[n](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(REPO, "plans", "r06", f"{n}_{tag}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
            print(f"# wrote {path}", file=sys.stderr)
        print(json.dumps({"plans": names, "tag": tag}))
        spark.stop()
        return 0

    s0, t0 = _ticks()
    per: dict[str, float] = {}
    for n in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{n}")
        best = float("inf")
        try:
            for _ in range(repeats):
                t0q = time.time()
                q[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0q)
            per[n] = round(best, 3)
        except Exception as exc:
            per[n] = -1.0
            print(f"# {n} failed: {exc}", file=sys.stderr)
        print(f"# {n}: {per[n]}", file=sys.stderr)
    s1, t1 = _ticks()
    out = {
        "queries": per,
        "steal_pct": round(100 * (s1 - s0) / max(t1 - t0, 1), 2),
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "repeats": repeats,
        "sf_dir": sf_dir,
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
