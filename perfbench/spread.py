"""Run one workload under several seeds and report each metric's median,
quartiles and spread (interquartile distance over median):

    python3 perfbench/spread.py --workload catalog --seeds 1 2 3 4 5

Each run is a separate ``run.py`` process, as the benchmark is meant to be
run. Prints one line per metric and, last, one JSON object with the runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

sys.path.insert(0, ROOT)
from perfbench.stats import spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs = []
    for seed in args.seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, **result})
        print(f"seed {seed}: failed {result['failed']}/{result['attempted']} "
              + " ".join(f"{k}={v['value']:.4f}" for k, v in result["metrics"].items()), flush=True)

    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        line = f"{name:<34} median {med:12.4f}"
        if len(values) >= 2:
            q1, _, q3 = statistics.quantiles(values, n=4)
            sp = spread(values)
            line += f"  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {sp:.4f}"
            if name in bounds:
                line += f"  bound {bounds[name]}  {'ok' if sp <= bounds[name] / 3 else 'WIDE'}"
        print(line)
    print(json.dumps({"workload": args.workload, "runs": runs}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
