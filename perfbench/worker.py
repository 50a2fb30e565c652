"""One run of one workload, in a fresh process (started by run.py).

Set-up is timed from the top of this file: imports, ``get_spark``,
opening the inputs and a fixed small warm-up. Then passes of the
workload (workloads.measure): untimed warm-up passes, then timed ones
until they fill ``--seconds``. Every pass's outputs are checked
(untimed). Prints one JSON
record on its last stdout line.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import inputs  # noqa: E402

sys.path.insert(0, inputs.ROOT)

from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS, measure, setup  # noqa: E402


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()

    event_log = None
    if args.trace:
        event_log = os.path.join(inputs.WORK, "eventlog", str(os.getpid()))
        os.makedirs(event_log)
    spark, ctx = setup(args.workload, args.seed, event_log)
    setup_s = time.perf_counter() - T_START

    if args.trace:
        from layers import traced_run

        record = traced_run(spark, ctx, WORKLOADS[args.workload], args, event_log)
    else:
        steal0 = steal_ticks()
        wl = WORKLOADS[args.workload](spark, ctx)
        m = measure(wl, args.seconds, Tracer(enabled=False))
        steal1 = steal_ticks()
        record = {
            "attempted": wl.ops * m["passes"],
            "failed": m["failed"],
            "metrics": {
                "pass_cpu_s": (statistics.median(m["cpu_s"]), "s"),
                "output_mib": (statistics.median(wl.output_mib), "MiB"),
                "setup_s": (setup_s, "s"),
            },
            "pass_s": m["walls"],
            "pass_cpu_s": m["cpu_s"],
            "steal_pct": 100 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
            "per_query_s": getattr(wl, "per_query", None),
            "phases": {"setup_s": setup_s, "warmup_s": m["warmup_s"],
                       "check_s": m["check_s"]},
        }
        t = time.perf_counter()
        spark.stop()
        record["phases"]["stop_s"] = time.perf_counter() - t
    shutil.rmtree(os.path.join(inputs.WORK, "out", str(os.getpid())),
                  ignore_errors=True)
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
