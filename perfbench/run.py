"""Benchmark command: one run of one workload.

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. It builds the inputs for the seed
(untimed, inputs.py) and runs the workload in a fresh process
(worker.py). The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The full record (pass walls, per-query walls) goes to
``.bench_build/perfbench/records/`` for compare.py.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

import inputs
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
WORKER_TIMEOUT_S = 150


def _session_members(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid:
                pids.append(int(d))
    return pids


def _reap(sid: int) -> None:
    """Kill whatever the child's session left behind and wait until it
    is gone (the Python workers live in their own process group)."""
    deadline = time.monotonic() + 30
    while (pids := _session_members(sid)) and time.monotonic() < deadline:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _worker(args: list[str], env: dict) -> dict:
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        stdout=subprocess.PIPE, env=env, start_new_session=True, text=True,
    )
    try:
        out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        _reap(proc.pid)
        proc.communicate()
        raise RuntimeError(f"worker {args} timed out")
    finally:
        _reap(proc.pid)
    lines = [line for line in out.splitlines() if line.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"worker {args} failed with code {proc.returncode}")
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not inputs.program_present():
        print(f"perfbench: no gocrd_spark checkout in {inputs.ROOT}", file=sys.stderr)
        return 2

    t0 = time.perf_counter()
    inputs.prepare(args.workload, args.seed, args.trace)
    phases = {"prepare_s": time.perf_counter() - t0}
    env = inputs.child_env()
    t = time.perf_counter()
    record = _worker(["--workload", args.workload, "--seed", str(args.seed),
                      "--seconds", str(args.seconds), "--trace", str(args.trace)], env)
    phases["worker_s"] = time.perf_counter() - t
    metrics = record["metrics"]
    phases["run_s"] = time.perf_counter() - t0

    result = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }
    records = os.path.join(inputs.WORK, "records")
    os.makedirs(records, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{time.time_ns()}.json"
    with open(os.path.join(records, name), "w") as fh:
        json.dump(dict(record, phases=dict(record.get("phases", {}), **phases),
                       workload=args.workload, seed=args.seed,
                       trace=args.trace, result=result), fh)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
