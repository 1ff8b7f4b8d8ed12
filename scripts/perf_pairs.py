#!/usr/bin/env python3
"""Alternated parent/change pairs of the benchmark, from two checkouts.

    python3 scripts/perf_pairs.py --parent <checkout> --change <checkout> \
        --workload <geojoin|knn_service|curation> [--seeds 1-10] \
        [--seconds 8] [--trace 0] [--out pairs.json]

Each seed is one pair: `perfbench/run.py` runs once in each checkout, the
parent first on odd seeds and the change first on even ones, so drift of
the machine falls on both sides alike. Prints, per metric, the median and
quartiles (Q1-Q3, `statistics.quantiles(values, n=4)`) of each side, the
change's wins out of the pairs, and whether the median moved by more than
the parent's quartile distance. Then it compares the per-op digests that
both sides produced on each seed, and reports failed ops and failed
verification. The metric directions come from the change's
BENCHMARK.json. Every run's output is kept in `--out`.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(checkout, workload, seed, seconds, trace):
    """One benchmark run: (result object or None, {op: digest}, output)."""
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", trace],
        cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    digests = {}
    for line in lines:
        if line.startswith("digest "):
            fields = dict(f.split("=", 1) for f in line.split()[1:4])
            digests[(fields["op"], fields["phase"])] = line.split(" ", 4)[-1]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    return result, digests, {"wall_s": time.time() - t0, "exit": p.returncode,
                             "stdout": p.stdout, "stderr": p.stderr[-4000:]}


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    return tuple(statistics.quantiles(values, n=4))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", type=seeds)
    ap.add_argument("--seconds", default=8, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.loads((args.change / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}

    sides = ("parent", "change")
    runs = []
    values = {s: {} for s in sides}
    mismatches, missing = [], []
    for seed in args.seeds:
        order = sides if seed % 2 else sides[::-1]
        got = {}
        for side in order:
            result, digests, raw = run(getattr(args, side), args.workload, seed,
                                       args.seconds, args.trace)
            got[side] = (result, digests)
            runs.append({"side": side, "seed": seed, "result": result, **raw})
            m = (result or {}).get("metrics", {})
            print(f"seed {seed} {side}: " + (", ".join(
                f"{k}={v['value']:.4g}" for k, v in m.items()
                if k in ("setup_s", "items_per_s", "op_p50_s", "op_tail_s"))
                if result else f"no result (exit {raw['exit']})"), flush=True)
            if result is None:
                missing.append((seed, side))
                continue
            if result.get("failed") or not result.get("correct"):
                mismatches.append(f"seed {seed} {side}: failed {result.get('failed')}"
                                  f"/{result.get('attempted')}, correct={result.get('correct')}")
            for k, v in m.items():
                values[side].setdefault(k, {})[seed] = v["value"]
        (pd, cd) = (got["parent"][1], got["change"][1])
        for op in sorted(set(pd) & set(cd)):
            if pd[op] != cd[op]:
                mismatches.append(f"seed {seed} op {op}: parent {pd[op]} != change {cd[op]}")
        shared = len(set(pd) & set(cd))
        print(f"seed {seed}: {shared} op digests compared", flush=True)

    print(f"\n{args.workload}, trace {args.trace}, {len(args.seeds)} pairs "
          f"(median [Q1, Q3]; wins = pairs where the change is better)")
    summary = {}
    for k in sorted(set(values["parent"]) & set(values["change"])):
        pairs = [(values["parent"][k][s], values["change"][k][s]) for s in args.seeds
                 if s in values["parent"][k] and s in values["change"][k]]
        if not pairs:
            continue
        par = [p for p, _ in pairs]
        chg = [c for _, c in pairs]
        pq, cq = quartiles(par), quartiles(chg)
        sign = 1 if better.get(k, "lower") == "higher" else -1
        wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
        moved = sign * (cq[1] - pq[1]) > (pq[2] - pq[0])
        summary[k] = {"parent": pq, "change": cq, "wins": wins, "pairs": len(pairs),
                      "beyond_parent_iqr": moved}
        print(f"  {k:40s} parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]  "
              f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
              f"wins {wins}/{len(pairs)}{'  beyond parent IQR' if moved else ''}")
    print("\ndigests: " + ("identical" if not mismatches else f"{len(mismatches)} problems"))
    for line in mismatches:
        print("  " + line)
    for seed, side in missing:
        print(f"  seed {seed} {side}: no result")
    if args.out:
        Path(args.out).write_text(json.dumps({"runs": runs, "summary": summary,
                                              "problems": mismatches}, indent=1))
    return 1 if mismatches or missing else 0


if __name__ == "__main__":
    sys.exit(main())
