#!/usr/bin/env python3
"""Compare two sets of benchmark runs: parent and change.

    python3 perfbench/compare.py <parent.txt> <change.txt>
    python3 perfbench/compare.py <runs.txt>          # spreads of one set

A result file is the standard output of any number of `run.py` runs
(`sweep.py` writes one): each run's `perfbench detail:` line names its
workload, and the result line after it holds its metrics.

Per workload it prints, for every end-to-end metric, each side's median
and quartiles (Python's `statistics.quantiles(n=4)`), the change of the
median, and a verdict against the metric's bound in BENCHMARK.json:
`WORSE` when the change's median is worse than the parent's by more than
the bound, `unresolved` when either side's spread (quartile distance
over median) exceeds the bound, else `ok` or `better`. Per-layer metrics
(traced runs) are listed with their median change.

Metrics come from correct runs only. Each side's incorrect runs and
failed ÷ attempted operations are printed too. The change is `WORSE` when
it has more incorrect runs or a higher failure rate than the parent.
Exit code 1 when anything is WORSE, when a side has no correct run of a
workload the other side has, or, with one file, when any run is
incorrect.
"""
import json
import os
import statistics
import sys

PREFIX = "perfbench detail: "


class Runs:
    """The runs of one (workload, trace) in one result file."""

    def __init__(self):
        self.metrics = []  # metrics of each correct run
        self.incorrect = 0
        self.attempted = 0
        self.failed = 0

    def error_rate(self):
        return self.failed / self.attempted if self.attempted else 1.0

    def __str__(self):
        return (f"{len(self.metrics)} correct, {self.incorrect} incorrect, "
                f"{self.failed}/{self.attempted} ops failed")


def load(path):
    """{(workload, trace): Runs} from one result file."""
    runs, detail = {}, None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith(PREFIX):
                detail = json.loads(line[len(PREFIX):])
            elif line.startswith("{") and detail is not None:
                r = json.loads(line)
                side = runs.setdefault((detail["workload"], int(detail.get("trace", 0))), Runs())
                side.attempted += r.get("attempted", 0)
                side.failed += r.get("failed", 0)
                if r.get("correct") and "metrics" in r:
                    side.metrics.append({k: v["value"] for k, v in r["metrics"].items()})
                else:
                    side.incorrect += 1
                detail = None
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def fmt(x):
    return f"{x:.4g}"


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layers = {m["name"]: m for m in bench["per_layer"]}
    sides = [load(p) for p in argv[1:]]
    worse = False
    for w in sorted({w for side in sides for (w, _) in side}):
        for trace, spec in ((0, e2e), (1, layers)):
            groups = [s.get((w, trace), Runs()) for s in sides]
            if not any(g.attempted or g.incorrect for g in groups):
                continue
            print(f"\n== {w} ({'per-layer' if trace else 'end-to-end'}; runs: "
                  + " / ".join(str(g) for g in groups) + ")")
            if any(not g.metrics for g in groups):
                print("  correctness: a side has no correct run")
                worse = True
            elif len(groups) == 2 and (groups[1].incorrect > groups[0].incorrect
                                       or groups[1].error_rate() > groups[0].error_rate()):
                print("  correctness: WORSE")
                worse = True
            elif len(groups) == 1 and groups[0].incorrect:
                print("  correctness: incorrect runs")
                worse = True
            sets = [g.metrics for g in groups]
            for name, m in spec.items():
                vals = [[r[name] for r in s if r.get(name) is not None] for s in sets]
                if not all(vals):
                    continue
                cols = []
                for xs in vals:
                    q1, q2, q3 = quartiles(xs)
                    cols.append(f"{fmt(q2)} [{fmt(q1)}, {fmt(q3)}]")
                line = f"  {name:44s} {m['unit']:>6s}  " + "  ->  ".join(cols)
                if len(vals) == 2:
                    a, b = statistics.median(vals[0]), statistics.median(vals[1])
                    rel = (b - a) / abs(a) if a else 0.0
                    line += f"  {rel:+.1%}"
                    if trace == 0:
                        bound = m["bound"]
                        worse_by = rel if m["better"] == "lower" else -rel
                        if worse_by > bound:
                            verdict, worse = "WORSE", True
                        elif max(spread(vals[0]), spread(vals[1])) > bound:
                            verdict = "unresolved"
                        else:
                            verdict = "better" if worse_by < 0 else "ok"
                        line += f"  {verdict}"
                elif trace == 0:
                    s = spread(vals[0])
                    line += f"  spread {s:.1%} of bound {m['bound']:.0%}" + (
                        "  TOO WIDE" if name != "setup_s" and s > m["bound"] else "")
                print(line)
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
