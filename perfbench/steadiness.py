"""Run one workload over several seeds and print, per metric, the median and
the spread (distance between the first and third quartile as a share of the
median), next to the bound BENCHMARK.json sets.

    python3 perfbench/steadiness.py --workload live_votes --seeds 1 2 3 4 5
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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.perf_counter() - t0
        last = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: rc {out.returncode} wall {wall:.1f} s correct {last['correct']} "
              f"attempted {last['attempted']} failed {last['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()),
              flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k}: median {med:.4g} spread {spread:.3f} bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
