#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports how steady it is.

    python3 perfbench/steadiness.py --workload etl_floor --seeds 10 [--trace 0] [--out FILE]

For every metric: the ten (or --seeds) values, their median, and the
distance between the first and third quartile as a share of the median
(`statistics.quantiles(values, n=4)`), next to the metric's bound in
BENCHMARK.json. Also reports the wall time of each run. Runs from the
root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, walls, failed = {}, [], 0
    for seed in range(args.first_seed, args.first_seed + args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(args.trace)]
        t0 = time.time()
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        if r.returncode != 0:
            sys.exit(f"seed {seed} exited {r.returncode}:\n{r.stderr[-3000:]}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        failed += res["failed"]
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {walls[-1]:.1f}s wall, correct={res['correct']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    report = {"workload": args.workload, "trace": args.trace, "seeds": args.seeds,
              "failed": failed, "run_wall_s": walls, "metrics": {}}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        report["metrics"][k] = {"median": med, "iqr_share": spread, "bound": bounds.get(k),
                                "values": vs}
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if spread < b / 3 else "WIDE" if spread > b else "within bound")
        print(f"{k:24s} median {med:12.4f}  iqr/median {spread:7.4f}  bound {b}  {flag}")
    print(f"run wall: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
