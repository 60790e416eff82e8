#!/usr/bin/env python3
"""Run the benchmark repeatedly and summarize each metric's spread.

    python3 perfbench/repeat.py --workload graph_builder --runs 10
    python3 perfbench/repeat.py --runs 10 --first-seed 101 --json ab_parent.json

Runs `perfbench/run.py` --runs times per workload (every workload of
BENCHMARK.json unless --workload is given), each run with the next seed
from --first-seed on. For every metric it prints the median, the first
and third quartile (statistics.quantiles(n=4)), and the spread: the
distance between the quartiles over the median. For end-to-end metrics
the spread is printed against the metric's bound in BENCHMARK.json, and
flagged when it exceeds a third of the bound. --json keeps every value,
for comparing two commits run with the same seeds.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit("run failed (%s seed %d):\n%s" % (workload, seed, r.stderr[-2000:]))
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", metavar="FILE")
    a = ap.parse_args()

    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    kept = {}
    for w in workloads:
        values, units, failed = {}, {}, 0
        for i in range(a.runs):
            res = run_once(w, a.first_seed + i, bench["run_seconds"], a.trace)
            failed += res["failed"]
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
                units[k] = m["unit"]
            print("%s seed %d done" % (w, a.first_seed + i), file=sys.stderr)
        kept[w] = values
        print("\n%s: %d runs, %d failed operations" % (w, a.runs, failed))
        print("%-30s %12s %12s %12s %8s %8s  %s" % ("metric", "median", "q1", "q3", "spread", "bound", "unit"))
        for k, xs in values.items():
            q1, q2, q3 = stats.quartiles(xs) if len(xs) > 1 else (xs[0],) * 3
            sp = stats.spread(xs) if len(xs) > 1 else 0.0
            bound = bounds.get(k)
            flag = "  > bound/3" if bound is not None and k != "setup_s" and sp > bound / 3 else ""
            print("%-30s %12.4f %12.4f %12.4f %8.4f %8s  %s%s" % (
                k, q2, q1, q3, sp, "%.2f" % bound if bound is not None else "-", units[k], flag))
    if a.json:
        Path(a.json).write_text(json.dumps(kept, indent=1))


if __name__ == "__main__":
    main()
