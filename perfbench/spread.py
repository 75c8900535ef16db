"""Run-to-run spread of every metric, per workload.

Runs ``run.py`` once per seed (each run its own process and SparkSession)
and reports, per metric, the median and the distance between the first
and third quartiles (``statistics.quantiles(values, n=4)``) as a share of
the median: the measured spread the bounds in BENCHMARK.json rest on.

    python3 perfbench/spread.py --workload lau_geotag --seeds 1-10 [--write [--label L]]

``--label`` stores the set under ``L`` instead of the workload name, so
two sets of runs of the same code can be kept side by side.
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
SPREAD_FILE = os.path.join(HERE, "spread.json")


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def one_run(workload: str, seed: int, seconds: int) -> tuple[dict, float, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.perf_counter()
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=600, check=False)
    wall = time.perf_counter() - t
    if res.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {res.returncode}\n{res.stderr[-2000:]}")
    ops = next((ln for ln in res.stderr.splitlines() if " ops in " in ln), "")
    return json.loads(res.stdout.strip().splitlines()[-1]), wall, ops


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--write", action="store_true", help=f"merge the result into {SPREAD_FILE}")
    ap.add_argument("--label", help="key to store the set under (default: the workload)")
    args = ap.parse_args()
    runs, walls, ok = [], [], True
    for seed in _seeds(args.seeds):
        out, wall, ops = one_run(args.workload, seed, args.seconds)
        ok &= out["correct"]
        runs.append(out["metrics"])
        walls.append(wall)
        print(f"seed {seed}: wall {wall:.1f} s, correct {out['correct']}, "
              + ", ".join(f"{k}={m['value']:.4g}" for k, m in out["metrics"].items()
                          ), flush=True)
        print(f"  {ops.split(': ', 1)[-1]}", flush=True)
    table = {k: summarize([r[k]["value"] for r in runs]) for k in runs[0]}
    for k, s in table.items():
        print(f"{k:40s} median {s['median']:12.5g}  spread {s['spread']:.4f}")
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    if args.write:
        data = {}
        if os.path.exists(SPREAD_FILE):
            with open(SPREAD_FILE) as f:
                data = json.load(f)
        data[args.label or args.workload] = {
            "workload": args.workload, "seeds": args.seeds, "seconds": args.seconds,
            "all_correct": ok, "wall_s_median": statistics.median(walls), "metrics": table,
        }
        with open(SPREAD_FILE, "w") as f:
            json.dump(data, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
