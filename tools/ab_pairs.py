#!/usr/bin/env python3
"""Alternating A/B runs of perfbench between two checkouts.

Usage:
    tools/ab_pairs.py --parent DIR --change DIR --workload NAME \
        --seeds 501-510 [--seconds 6] [--trace 0] [--out runs.jsonl]

For each seed it runs `python3 perfbench/run.py` once in each checkout,
parent first on even pairs and change first on odd ones, so neither side
is always the colder run. It then prints, for every metric the runs
report: the median [Q1, Q3] per side, the change/parent ratio of the
medians, the change's wins out of the pairs where both runs succeeded,
and whether the median gap exceeds the parent's IQR. The last lines give
each side's `failed` count: failed jobs plus runs that gave no result.
Metric directions come from the parent's BENCHMARK.json. With --out,
every run's result line is appended to that file as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def directions(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["better"]
            for m in spec["end_to_end"] + spec["per_layer"]}


def run_once(checkout, a, seed):
    """Returns perfbench's result object, or None if the run gave none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    return res if proc.returncode == 0 and "metrics" in res else None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range,
                    help="inclusive range, e.g. 501-510")
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    dirs = {"parent": os.path.abspath(a.parent),
            "change": os.path.abspath(a.change)}
    better = directions(dirs["parent"])

    results = []  # per pair: {side: result or None}
    failed = {s: 0 for s in SIDES}
    for k, seed in enumerate(a.seeds):
        pair = {}
        for side in (SIDES if k % 2 == 0 else SIDES[::-1]):
            res = run_once(dirs[side], a, seed)
            pair[side] = res
            failed[side] += 1 if res is None else res["failed"]
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps({"workload": a.workload,
                                         "seed": seed, "side": side,
                                         "result": res}) + "\n")
            vals = ("no result" if res is None else " ".join(
                f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()))
            print(f"seed {seed} {side}: {vals}", file=sys.stderr, flush=True)
        results.append(pair)

    names = sorted({m for p in results for r in p.values() if r
                    for m in r["metrics"]})
    print(f"{a.workload}: {len(a.seeds)} pairs, seeds "
          f"{a.seeds[0]}-{a.seeds[-1]}, trace {a.trace}, "
          f"seconds {a.seconds}")
    print(f"{'metric':<24}{'parent median [Q1, Q3]':>34}"
          f"{'change median [Q1, Q3]':>34}{'ratio':>8}{'wins':>8}"
          f"{'gap>IQR':>9}")
    for m in names:
        side_vals = {s: [p[s]["metrics"][m]["value"] for p in results
                         if p[s] and m in p[s]["metrics"]] for s in SIDES}
        if not all(side_vals.values()):
            continue
        both = [(p["parent"]["metrics"][m]["value"],
                 p["change"]["metrics"][m]["value"]) for p in results
                if p["parent"] and p["change"]]
        lower = better.get(m, "lower") == "lower"
        wins = sum((c < b) if lower else (c > b) for b, c in both)
        (pm, pq1, pq3), (cm, cq1, cq3) = (quartiles(side_vals[s])
                                          for s in SIDES)
        gap = (pm - cm) if lower else (cm - pm)
        ratio = cm / pm if pm else float("nan")
        print(f"{m:<24}{f'{pm:.4g} [{pq1:.4g}, {pq3:.4g}]':>34}"
              f"{f'{cm:.4g} [{cq1:.4g}, {cq3:.4g}]':>34}{ratio:>8.3f}"
              f"{f'{wins}/{len(both)}':>8}"
              f"{'yes' if gap > pq3 - pq1 else 'no':>9}")
    print("failed: " + ", ".join(f"{s} {failed[s]}" for s in SIDES))


if __name__ == "__main__":
    main()
