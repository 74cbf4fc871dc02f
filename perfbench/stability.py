"""Run the benchmark on several seeds and report each end-to-end
metric's spread: the distance between the first and third quartile of
its values, as a share of their median.

    python3 perfbench/stability.py --workloads ml_cv_training engine_mix --seeds 1-10

Runs one at a time, from the repository root, with ``run_seconds`` from
BENCHMARK.json. Prints one JSON line per run and a table at the end;
``--out`` also saves every run and the summary as JSON.
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
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", required=True, help="a range such as 1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for workload in args.workloads:
        for seed in _seeds(args.seeds):
            cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t = time.monotonic()
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True).stdout
            run = {"workload": workload, "seed": seed, "wall_s": time.monotonic() - t,
                   "result": json.loads(out.splitlines()[-1])}
            runs.append(run)
            print(json.dumps(run), flush=True)
    summary = {}
    for workload in args.workloads:
        mine = [r for r in runs if r["workload"] == workload]
        summary[workload] = {
            name: spread([r["result"]["metrics"][name]["value"] for r in mine]) for name in bounds
        }
        summary[workload]["wall_s"] = spread([r["wall_s"] for r in mine])
        summary[workload]["failed"] = sum(r["result"]["failed"] for r in mine)
    print(f"{'workload':16} {'metric':12} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} {'bound':>6}")
    for workload, metrics in summary.items():
        for name, s in metrics.items():
            if isinstance(s, dict):
                print(f"{workload:16} {name:12} {s['median']:10.3f} {s['q1']:10.3f} {s['q3']:10.3f} "
                      f"{s['spread']:7.3f} {bounds.get(name, float('nan')):6.2f}")
        print(f"{workload:16} failed ops: {metrics['failed']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
