#!/usr/bin/env python3
"""The benchmark's own tests. Run from the root of a checkout.

Steadiness: runs each workload once per seed and prints, for every
end-to-end metric, the spread of its values (distance between the first
and third quartile, as a share of the median) against the metric's bound
in BENCHMARK.json. A spread under a third of the bound is steady.

    python3 perfbench/selfcheck.py --runs 10 [--workload station_etl ...]

Smoke: ``--smoke`` runs every workload once at a tiny input size, traced
and untraced, and once with corrupted output, and fails unless the clean
runs are correct and the corrupted ones are not.

    python3 perfbench/selfcheck.py --smoke
"""
import argparse
import json
import os
import signal
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import run as run_py  # noqa: E402


def run(workload, seed, seconds, trace=0, extra=()):
    p = subprocess.Popen(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         *extra], stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        out, err = p.communicate()
    finally:
        # run.py stops its JVM on SIGTERM
        if p.poll() is None:
            p.terminate()
            p.wait()
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed}: rc {p.returncode}\n{err[-2000:]}")
    lines = out.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def steadiness(spec, workloads, runs, first_seed):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    worst = {}
    for w in workloads:
        values = {m: [] for m in bounds}
        for seed in range(first_seed, first_seed + runs):
            _, last = run(w, seed, spec["run_seconds"])
            if not last["correct"]:
                sys.exit(f"{w} seed {seed}: output check failed")
            for m in bounds:
                values[m].append(last["metrics"][m]["value"])
            print(f"{w} seed {seed}: " + ", ".join(
                f"{m}={values[m][-1]:.4g}" for m in bounds), flush=True)
        for m, vs in values.items():
            s = spread(vs)
            ok = "steady" if s < bounds[m] / 3 else (
                "within bound" if s <= bounds[m] else "TOO WIDE")
            print(f"  {w} {m}: median {statistics.median(vs):.4g}, spread "
                  f"{s:.3f} vs bound {bounds[m]} ({ok})", flush=True)
            worst[(w, m)] = s / bounds[m]
    return worst


def smoke(spec):
    failed = False
    for w in run_py.SIZES:
        for trace in (0, 1):
            report, last = run(w, 1, 1, trace, ("--smoke",))
            names = spec["per_layer" if trace else "end_to_end"]
            missing = [m["name"] for m in names if m["name"] not in last["metrics"]]
            ok = last["correct"] and not missing
            failed |= not ok
            print(f"{w} trace={trace}: correct={last['correct']} "
                  f"missing={missing} rounds={report['rounds']}")
        _, last = run(w, 1, 1, 0, ("--smoke", "--corrupt"))
        failed |= last["correct"]
        print(f"{w} corrupted: correct={last['correct']} (must be false)")
    return not failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = json.load(open("BENCHMARK.json"))
    if a.smoke:
        sys.exit(0 if smoke(spec) else 1)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    worst = steadiness(spec, workloads, a.runs, a.first_seed)
    wide = [k for k, v in worst.items() if v > 1]
    sys.exit(1 if wide else 0)


if __name__ == "__main__":
    main()
