#!/usr/bin/env python3
"""Run the benchmark over several seeds and report, per end-to-end metric,
the median and the spread: (Q3 - Q1) / median, with the quartiles of
Python's statistics.quantiles(values, n=4). Run from the repository root:

    python3 perfbench/spread.py --workloads pip_tile,serve --seeds 1-10 --seconds 8
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="8")
    a = ap.parse_args()
    ok = True
    for w in a.workloads.split(","):
        values = {}
        for seed in seeds_of(a.seeds):
            t0 = time.time()
            out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                                  "--seconds", a.seconds, "--trace", "0"],
                                 stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            if out.returncode != 0:
                print(f"{w} seed {seed}: exit {out.returncode}")
                ok = False
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            ok &= res["correct"]
            for k, m in res["metrics"].items():
                if m["value"] is not None:
                    values.setdefault(k, []).append(m["value"])
            print(f"{w} seed {seed}: wall={time.time() - t0:.0f}s correct={res['correct']} " +
                  " ".join(f"{k}={m['value']}" for k, m in res["metrics"].items()), flush=True)
        for k, vs in values.items():
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
            print(f"{w} {k}: median {med:.6g} spread {(q[2] - q[0]) / med:.4f} n={len(vs)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
