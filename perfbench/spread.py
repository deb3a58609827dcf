"""Run one workload once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload NAME --seeds 1-10 [--seconds S] [--trace 0|1]

Runs ``run.py`` in a fresh process per seed, one after another, from the
current directory (a checkout root), and prints for every metric its
median and its quartile spread, (Q3 - Q1) / median with
``statistics.quantiles(values, n=4)``, next to the bound BENCHMARK.json gives
it. The raw results go to ``.perfbench_work/spread-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return proc.returncode
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": wall, **res})
        print(f"seed {seed}: {wall:.1f} s correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}", flush=True)
    os.makedirs(".perfbench_work", exist_ok=True)
    with open(f".perfbench_work/spread-{args.workload}.json", "w") as f:
        json.dump(runs, f, indent=1)
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        spread = quartile_spread(vals) if len(vals) >= 2 and med else float("nan")
        print(f"{name:48s} median {med:12.4f} spread {spread:7.4f} bound {bounds.get(name)}")
    print(f"mean run wall {statistics.mean(r['wall_s'] for r in runs):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
