#!/usr/bin/env python3
"""Run the benchmark over several seeds and keep the output for compare.py.

    python3 perfbench/sweep.py --out runs.txt [--workloads serve,curate]
        [--seeds 1-10] [--trace 0|1] [--seconds N]

Runs `run.py` once per (workload, seed), one at a time, from the
checkout root, appends each run's standard output to `--out`, and ends
by printing each end-to-end metric's median, quartiles and spread.
`--seconds` defaults to BENCHMARK.json's `run_seconds`.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--seconds", default=str(bench["run_seconds"]))
    a = ap.parse_args()
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", a.seconds, "--trace", a.trace],
                stdout=subprocess.PIPE, text=True)
            with open(a.out, "a") as f:
                f.write(p.stdout)
            print(f"{w} seed {s}: exit {p.returncode}, {time.time() - t0:.1f} s", file=sys.stderr)
    subprocess.run([sys.executable, os.path.join(HERE, "compare.py"), a.out])


if __name__ == "__main__":
    main()
