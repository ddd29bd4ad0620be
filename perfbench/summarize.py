#!/usr/bin/env python3
"""Summarise benchmark runs kept in .bench_build/results/.

    python3 perfbench/summarize.py [--seeds 201-210] > summary.json

Groups the kept run records by workload, trace flag and core count, and
gives for every metric the values in seed order, the median, the
quartiles (statistics.quantiles, n=4) and the spread (quartile distance
over the median). Run from the repository root.
"""
import argparse
import glob
import json
import os
import statistics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", help="inclusive range a-b of seeds to keep")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-")) if a.seeds else (None, None)
    groups = {}
    for f in sorted(glob.glob(os.path.join(".bench_build", "results", "*.json"))):
        name = os.path.basename(f)[:-5]
        workload, rest = name.split("-seed")
        seed, trace, cores = rest.replace("trace", "").replace("cores", "").split("-")
        if lo is not None and not lo <= int(seed) <= hi:
            continue
        with open(f) as fh:
            r = json.load(fh)
        g = groups.setdefault(f"{workload} trace={trace} cores={cores}", {"runs": []})
        g["runs"].append({"seed": int(seed), "correct": r["correct"],
                          "attempted": r["attempted"], "failed": r["failed"],
                          "metrics": r["per_layer"] if trace == "1" else r["end_to_end"]})
    for g in groups.values():
        g["runs"].sort(key=lambda run: run["seed"])
        stats = {}
        for m in g["runs"][0]["metrics"]:
            xs = [run["metrics"][m] for run in g["runs"]]
            med = statistics.median(xs)
            s = {"values": xs, "median": med}
            if len(xs) >= 2:
                q = statistics.quantiles(xs, n=4)
                s.update(q1=q[0], q3=q[2], spread=(q[2] - q[0]) / med if med else None)
            stats[m] = s
        g["metrics"] = stats
    print(json.dumps(groups, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
