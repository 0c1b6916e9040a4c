#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload executor_work --seeds 1-10 [--seconds 5] [--trace 0]

For every metric: the median of the runs and the distance between the
first and third quartile (`statistics.quantiles(values, n=4)`) as a
share of that median, next to the metric's bound from BENCHMARK.json.
Runs are sequential; each run's output is appended to
.perfbench/spread/<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    seconds = a.seconds or bench["run_seconds"]
    out_dir = os.path.join(ROOT, ".perfbench", "spread")
    os.makedirs(out_dir, exist_ok=True)
    values, failures = {}, 0
    with open(os.path.join(out_dir, f"{a.workload}.jsonl"), "a") as log:
        for s in seeds(a.seeds):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                                "--seed", str(s), "--seconds", str(seconds), "--trace", str(a.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            log.write(json.dumps({"seed": s, "exit": r.returncode, "stdout": r.stdout}) + "\n")
            if r.returncode != 0:
                failures += 1
                print(f"seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
                continue
            res = json.loads(last)
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"seed {s}: " + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()))
    for k, v in values.items():
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k:40s} median {med:12.5g}  spread {spread:7.2%}  bound {bounds.get(k)}  n={len(v)}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
