#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports, per workload and
end-to-end metric, the median and the quartile spread (the distance
between the first and third quartile as a share of the median, from
`statistics.quantiles(values, n=4)`) against the metric's bound.

    python3 perfbench/spread.py --seeds 1-10 [--workloads a,b] [--trace 0] \
        [--out results.json]

Run from the root of a checkout. Seconds and bounds come from
BENCHMARK.json. Every run's result line is kept in `--out`.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, type=seeds)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs = []
    ok = True
    for w in args.workloads.split(","):
        values = {}
        for seed in args.seeds:
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, str(BENCH / "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", args.trace],
                capture_output=True, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            try:
                result = json.loads(lines[-1])
            except (IndexError, ValueError):
                print(f"{w} seed {seed}: no result (exit {p.returncode})\n"
                      f"{p.stderr[-2000:]}", flush=True)
                ok = False
                continue
            runs.append({"workload": w, "seed": seed, "wall_s": wall,
                         "summary": [x for x in lines if x.startswith("#")],
                         "result": result})
            ok &= result["correct"] and result["failed"] == 0
            shown = {k: round(v["value"], 4) for k, v in result["metrics"].items()} \
                if args.trace == "0" else ""
            print(f"{w} seed {seed}: {wall:.1f} s correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']} {shown}", flush=True)
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        if args.trace != "0":
            continue
        for k, xs in values.items():
            if len(xs) < 2:
                continue
            q = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q[2] - q[0]) / med
            print(f"  {w} {k}: median {med:.6g}, spread {spread:.3f} "
                  f"(bound {bounds[k]}, a third {bounds[k] / 3:.3f})", flush=True)
    if args.out:
        Path(args.out).write_text(json.dumps(runs, indent=1) + "\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
