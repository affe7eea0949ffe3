#!/usr/bin/env python3
"""Paired A/B of two checkouts on one benchmark workload.

    python3 tools/loop_ab.py <parent-dir> <change-dir> \
        --workload loop|sweep --pairs N --first-seed S [--layers] [--forks] [--per-op]

Runs the command `BENCHMARK.json` declares (`perfbench/run.py`) once per
side per pair, one JVM at a time, with the pair's seed, the declared run
length and tracing off; the side that runs first alternates from pair to
pair. Each run's result line is printed as it lands, with its side and
seed. Then, for every end-to-end metric `BENCHMARK.json` lists, it prints
each side's median and quartiles, the change's wins out of N (ties count
for neither side) and a verdict:

    gain        the change wins at least 9 pairs in 10 and its median beats
                the parent's by more than the parent's interquartile range
    regression  the change's median is worse than the parent's by more than
                the metric's bound (a fraction of the parent's median)
    unresolved  neither

With --layers, one traced run per side follows the pairs (the first seed,
`--trace 1`), and every per-layer metric `BENCHMARK.json` lists that is
non-zero on either side is printed side by side with the change/parent
ratio, so a claim can name the layer that moved.

With --per-op, each side's median latency per op name (a sweep's query, a
loop's `cycle`) over its untraced runs is printed side by side with the
change/parent ratio, read from each run's
`<side>/.bench_build/records/<workload>-seed<n>-trace0/ops.jsonl`, so a
sweep claim can name the query that moved, not only its family.

With --forks, one more untraced run per side follows (the first seed) under
a JDK flight recording (`JAVA_TOOL_OPTIONS=-XX:StartFlightRecording`, file
`<side>/.bench_build/forks-<seed>.jfr`; the builds are cached by then, so
only the measured JVM records), and each side's `jdk.ProcessStart` events
are printed per cycle (per op), grouped by command line with digits and
hashes blanked: the processes a run forks, which execution samples miss.

Each side builds in its own checkout (its `.bench_build`). Nothing is
written under `perfbench/`. Don't run another JVM while the pairs run.
"""
import argparse
import collections
import json
import os
import re
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(side, cwd, command, workload, seed, seconds, trace=0, env=None):
    cmd = command + ["--workload", workload, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       env=env)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{side} seed {seed}: {' '.join(cmd)} exited {p.returncode} in {cwd}")
    result = json.loads(lines[-1])
    print(f"run {side} seed={seed} trace={trace} {lines[-1]}", flush=True)
    return result


def forks(side, cwd, command, workload, seed, seconds):
    """One untraced run under a flight recording; its process starts per op,
    by command line with uuids, hex digests and numbers blanked."""
    jfr = os.path.join(cwd, ".bench_build", f"forks-{seed}.jfr")
    if os.path.exists(jfr):
        os.remove(jfr)
    env = dict(os.environ,
               JAVA_TOOL_OPTIONS=f"-XX:StartFlightRecording:dumponexit=true,filename={jfr}")
    ops = run(side, cwd, command, workload, seed, seconds, env=env)["attempted"]
    quiet = {k: v for k, v in os.environ.items() if k != "JAVA_TOOL_OPTIONS"}
    p = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ProcessStart", jfr],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, env=quiet)
    if p.returncode != 0:
        sys.exit(f"{side}: jfr print {jfr} exited {p.returncode}: {p.stderr.strip()}")
    groups = collections.Counter()
    for e in json.loads(p.stdout)["recording"]["events"]:
        cmd = e["values"]["command"].replace(cwd, "<side>")
        cmd = re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>", cmd)
        cmd = re.sub(r"[0-9a-f]{16,}", "<hash>", cmd)
        groups[re.sub(r"\d+", "<n>", cmd)] += 1
    total = sum(groups.values())
    print(f"{side} forks, seed {seed}: {total} process starts over {ops} ops, "
          f"{total / max(ops, 1):.2f} per op")
    for cmd, n in groups.most_common():
        print(f"  {n / max(ops, 1):8.3f}/op  {n:6d}  {cmd}")


def op_latencies(cwd, workload, seed):
    """Each op name's latencies in one untraced run's record (an op whose
    timed run threw has a null latency and is left out, as run.py does)."""
    path = os.path.join(cwd, ".bench_build", "records", f"{workload}-seed{seed}-trace0", "ops.jsonl")
    by_name = collections.defaultdict(list)
    with open(path) as f:
        for line in f:
            if line.strip():
                o = json.loads(line)
                if o["latency_s"] is not None:
                    by_name[o["name"]].append(o["latency_s"])
    return by_name


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def verdict(metric, parent, change):
    lower = metric["better"] == "lower"
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    wins = sum(better(c, p) for p, c in zip(parent, change))
    pq, cq = quartiles(parent), quartiles(change)
    gap = cq[1] - pq[1]
    if wins >= 0.9 * len(parent) and better(cq[1], pq[1]) and abs(gap) > pq[2] - pq[0]:
        word = "gain"
    elif (gap if lower else -gap) > metric["bound"] * abs(pq[1]):
        word = "regression"
    else:
        word = "unresolved"
    return wins, pq, cq, word


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--layers", action="store_true",
                    help="after the pairs, one traced run per side, per-layer metrics side by side")
    ap.add_argument("--forks", action="store_true",
                    help="then one run per side under JFR, process starts per op by command")
    ap.add_argument("--per-op", action="store_true",
                    help="print each side's median latency per op name over the pairs")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        sys.exit(f"unknown workload {a.workload}")
    dirs = {"parent": os.path.abspath(a.parent_dir), "change": os.path.abspath(a.change_dir)}

    results = {"parent": [], "change": []}
    per_op = {"parent": collections.defaultdict(list), "change": collections.defaultdict(list)}
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            results[side].append(run(side, dirs[side], bench["command"], a.workload, seed,
                                     bench["run_seconds"]))
            if a.per_op:
                for name, xs in op_latencies(dirs[side], a.workload, seed).items():
                    per_op[side][name].extend(xs)

    for side in ("parent", "change"):
        rs = results[side]
        print(f"{side}: correct {sum(r['correct'] for r in rs)}/{len(rs)} runs, failed ops "
              + " ".join(str(r["failed"]) for r in rs) + " of attempted "
              + " ".join(str(r["attempted"]) for r in rs))
    for m in bench["end_to_end"]:
        name = m["name"]
        parent = [r["metrics"][name]["value"] for r in results["parent"]]
        change = [r["metrics"][name]["value"] for r in results["change"]]
        wins, pq, cq, word = verdict(m, parent, change)
        print(f"{a.workload} {name} ({m['unit']}, {m['better']} is better): "
              f"parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]  "
              f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
              f"({(cq[1] - pq[1]) / pq[1]:+.1%})  wins {wins}/{a.pairs}  {word}")

    if a.per_op:
        print(f"{a.workload} per-op median latency_s over the pairs: parent  change  change/parent")
        for name in sorted(set(per_op["parent"]) | set(per_op["change"])):
            p, c = (statistics.median(per_op[side][name]) if per_op[side][name] else float("nan")
                    for side in ("parent", "change"))
            ratio = f"{c / p:.3f}" if p else "-"
            print(f"  {name}: {p:.4g}  {c:.4g}  {ratio}")

    if a.layers:
        traced = {side: run(side, dirs[side], bench["command"], a.workload, a.first_seed,
                            bench["run_seconds"], trace=1)["metrics"]
                  for side in ("parent", "change")}
        print(f"{a.workload} per-layer, seed {a.first_seed}, --trace 1: parent  change  change/parent")
        for m in bench["per_layer"]:
            p, c = (traced[side].get(m["name"], {}).get("value", 0) for side in ("parent", "change"))
            if p or c:
                ratio = f"{c / p:.3f}" if p else "-"
                print(f"  {m['name']} ({m['unit']}, {m['better']} is better): "
                      f"{p:.6g}  {c:.6g}  {ratio}")

    if a.forks:
        for side in ("parent", "change"):
            forks(side, dirs[side], bench["command"], a.workload, a.first_seed, bench["run_seconds"])


if __name__ == "__main__":
    main()
