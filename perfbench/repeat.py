#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end metric's
median and quartile spread, the steadiness test BENCHMARK.json's bounds
are held to.

    python3 perfbench/repeat.py --workload <name> --seeds 1-10 [--seconds 8]

Spread is (Q3 - Q1) / median, with quartiles from
statistics.quantiles(values, n=4). A metric is steady when its spread is
below a third of its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for s in seeds(a.seeds):
        t = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                           capture_output=True, text=True)
        last = json.loads(r.stdout.strip().splitlines()[-1]) if r.stdout.strip() else None
        if r.returncode != 0 or not last or not last["correct"]:
            print("seed %d failed (exit %d):\n%s" % (s, r.returncode, r.stderr[-2000:]))
            return 1
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print("seed %d: %.0f s, %s" % (s, time.time() - t, json.dumps(
            {k: round(v["value"], 4) for k, v in last["metrics"].items()})), flush=True)
    print("%-16s %12s %8s %8s %s" % ("metric", "median", "spread", "bound", ""))
    ok = True
    for k, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("inf")
        b = bounds.get(k)
        steady = k == "setup_s" or (b is not None and spread < b / 3)
        ok &= steady
        print("%-16s %12.5g %8.4f %8s %s" % (k, med, spread, b, "" if steady else "NOT STEADY"))
    return 0 if ok else 2


if __name__ == "__main__":
    sys.exit(main())
