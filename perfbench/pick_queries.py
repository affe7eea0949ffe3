#!/usr/bin/env python3
"""Derives the sweep query lists (perfbench/queries/*.txt) from a
`perfbench.Main record` run, so the lists are reproducible.

A run of the benchmark has to fit its time budget, so a sweep times a
fixed sample of its families' queries rather than all of them. The
sample is systematic by cost: within each family, queries are ranked by
their recorded sf0.1 evaluation time and every k-th is taken (from the
middle of the first stride), with k = ceil(workload time / budget), and
at least one query per family. The known defects
(perfbench/known_defects.json) are always included, so they count in
every run's failures.

Usage: python3 perfbench/pick_queries.py RECORD_DIR
"""
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# workload -> (families, recorded seconds one pass may cost)
WORKLOADS = {"sweep": (("rel", "mars", "td", "emb", "mm", "txt"), 5.0)}


def main():
    with open(os.path.join(sys.argv[1], "record.jsonl")) as f:
        rec = [json.loads(line) for line in f if line.strip()]
    with open(os.path.join(HERE, "known_defects.json")) as f:
        known = json.load(f)
    for workload, (families, budget) in WORKLOADS.items():
        mine = [r for r in rec if r["family"] in families]
        total = sum(r.get("seconds", 0.0) for r in mine)
        k = max(1, math.ceil(total / budget))
        picked = set()
        for fam in families:
            ranked = sorted((r for r in mine if r["family"] == fam),
                            key=lambda r: (r.get("seconds", 0.0), r["name"]))
            idx = list(range(k // 2, len(ranked), k)) or [len(ranked) // 2]
            picked.update(ranked[i]["name"] for i in idx)
        picked.update(r["name"] for r in mine if r["name"] in known)
        secs = sum(r.get("seconds", 0.0) for r in mine if r["name"] in picked)
        path = os.path.join(HERE, "queries", f"{workload}.txt")
        with open(path, "w") as f:
            f.write(f"# {workload}: {len(picked)} of {len(mine)} queries ({', '.join(families)}),\n"
                    f"# every k-th (k={k}) by recorded sf0.1 time within each family, plus the\n"
                    f"# known defects; {secs:.1f} of {total:.1f} recorded seconds. perfbench/pick_queries.py\n")
            f.write("\n".join(sorted(picked)) + "\n")
        print(f"{workload}: {len(picked)}/{len(mine)} queries, k={k}, {secs:.1f}/{total:.1f} s")


if __name__ == "__main__":
    main()
