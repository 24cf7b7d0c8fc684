"""Run one workload over several seeds and report each end-to-end
metric's median and quartile spread ((Q3 - Q1) / median), plus each run's
wall time, CPU steal share and memory peaks.

    python3 perfbench/spread.py --workload <name> --seeds 1 2 3 4 5 [--seconds S]

Run from the root of a checkout.  ``--seconds`` defaults to
BENCHMARK.json's ``run_seconds``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import quartile_spread


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=float)
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    run_py = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds:
        t = time.monotonic()
        out = subprocess.run(
            [sys.executable, run_py, "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()
        walls.append(time.monotonic() - t)
        result = json.loads(out[-1])
        if not result["correct"] or result["failed"]:
            print(f"seed {seed}: failed checks: {out[-2]}", file=sys.stderr)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        detail = json.loads(out[-2])
        print(json.dumps({"seed": seed, "wall_s": round(walls[-1], 1),
                          "steal": round(detail["conditions"]["steal_share_run"], 3),
                          **{k: round(v["value"], 4) for k, v in result["metrics"].items()},
                          "memory": {k: round(v, 1) for k, v in detail["memory"].items()}}))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, vals in values.items():
        spread = quartile_spread(vals) if len(vals) >= 2 else float("nan")
        print(json.dumps({"metric": name, "median": statistics.median(vals), "spread": round(spread, 4),
                          "bound": bounds.get(name), "ok": spread < bounds.get(name, 0) / 3}))
    print(json.dumps({"wall_s_median": statistics.median(walls), "wall_s_max": max(walls)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
