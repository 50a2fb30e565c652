"""A/A comparison of two sets of run records.

    python3 perfbench/compare.py SET_A SET_B
    python3 perfbench/compare.py --overhead SET

A set is a directory of the records run.py writes (one JSON file per
run, ``.bench_build/perfbench/records/`` by default). For every workload
and end-to-end metric it prints each set's median and quartiles, the
spread (quartile distance over median) and whether the two agree: each
spread, ``setup_s`` excepted, within the metric's bound from
BENCHMARK.json, the second median no worse than the first by more than
the bound, and the same share of failed operations. Exit code 1 when
any pairing disagrees.

``--overhead`` compares traced with untraced runs of one set: the
median traced pass CPU seconds and wall against the untraced ones.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

BENCHMARK = os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir,
                         "BENCHMARK.json")


def load(set_dir: str) -> list[dict]:
    runs = []
    for path in sorted(glob.glob(os.path.join(set_dir, "*.json"))):
        with open(path) as fh:
            runs.append(json.load(fh))
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def compare(a: list[dict], b: list[dict], bench: dict) -> bool:
    ok = True
    print(f"{'workload':14} {'metric':20} {'set':3} {'n':>3} {'median':>11} "
          f"{'q1':>11} {'q3':>11} {'spread':>7} {'bound':>6} verdict")
    for wl in sorted({r["workload"] for r in a + b if not r["trace"]}):
        ra = [r for r in a if r["workload"] == wl and not r["trace"]]
        rb = [r for r in b if r["workload"] == wl and not r["trace"]]
        fails = {tuple(sorted({r["result"]["failed"] / r["result"]["attempted"]
                               for r in rs})) for rs in (ra, rb)}
        if len(fails) != 1:
            print(f"{wl}: failed share differs: {fails}")
            ok = False
        for m in bench["end_to_end"]:
            va = [r["result"]["metrics"][m["name"]]["value"] for r in ra
                  if m["name"] in r["result"]["metrics"]]
            vb = [r["result"]["metrics"][m["name"]]["value"] for r in rb
                  if m["name"] in r["result"]["metrics"]]
            if not va or not vb:
                continue
            stats = [quartiles(va), quartiles(vb)]
            spreads = [(q3 - q1) / q2 for q1, q2, q3 in stats]
            worse = (stats[1][1] - stats[0][1]) / stats[0][1]
            if m["better"] == "higher":
                worse = -worse
            agree = worse <= m["bound"] and (
                m["name"] == "setup_s" or max(spreads) <= m["bound"])
            ok &= agree
            for label, vals, (q1, q2, q3), sp in zip("AB", (va, vb), stats, spreads):
                verdict = ""
                if label == "B":
                    verdict = f"{'agree' if agree else 'DISAGREE'} (B worse by {worse:+.1%})"
                print(f"{wl:14} {m['name']:20} {label:3} {len(vals):3d} {q2:11.4f} "
                      f"{q1:11.4f} {q3:11.4f} {sp:7.1%} {m['bound']:6.2f} {verdict}")
    return ok


def overhead(runs: list[dict]) -> None:
    for wl in sorted({r["workload"] for r in runs}):
        for key, metric in (("pass_cpu_s", "trace.pass_cpu_s"), ("pass_s", "trace.pass_s")):
            plain = [statistics.median(r[key]) for r in runs
                     if r["workload"] == wl and not r["trace"] and key in r]
            traced = [r["result"]["metrics"][metric]["value"] for r in runs
                      if r["workload"] == wl and r["trace"]
                      and metric in r["result"]["metrics"]]
            if plain and traced:
                p, t = statistics.median(plain), statistics.median(traced)
                print(f"{wl}: {key} {p:.3f} s untraced ({len(plain)} runs), "
                      f"{t:.3f} s traced ({len(traced)} runs): overhead {t / p - 1:+.1%}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("sets", nargs="+")
    args = ap.parse_args()
    if args.overhead:
        overhead([r for s in args.sets for r in load(s)])
        return 0
    if len(args.sets) != 2:
        ap.error("give two sets")
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    return 0 if compare(load(args.sets[0]), load(args.sets[1]), bench) else 1


if __name__ == "__main__":
    sys.exit(main())
