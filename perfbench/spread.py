#!/usr/bin/env python3
"""Runs one workload on several seeds and reports each end-to-end metric's
spread: the distance between its first and third quartile as a share of
its median, next to the bound `BENCHMARK.json` fixes for it.

Usage, from the root of a checkout:

    python3 perfbench/spread.py --workload hockey-fast --seeds 1 2 3 4 5
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=int, nargs="+")
    args = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in args.seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        last = json.loads(res.stdout.strip().splitlines()[-1]) if res.returncode == 0 else None
        if not last or not last["correct"]:
            sys.exit(f"seed {seed}: run failed or incorrect:\n{res.stdout[-2000:]}")
        for name, v in last["metrics"].items():
            values[name].append(v["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4f}"
                                          for k, v in last["metrics"].items()), flush=True)
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        med = statistics.median(xs)
        share = (q3 - q1) / med if med else float("inf")
        print(f"{m['name']:<14} median {med:10.4f} {m['unit']:<6} spread {share:6.3f} "
              f"bound {m['bound']:.3f}{'' if share < m['bound'] / 3 else '  <- above a third'}")


if __name__ == "__main__":
    main()
