#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or show the tracing overhead.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl
    python3 perfbench/compare.py --overhead RUNS.jsonl
    python3 perfbench/compare.py --spread RUNS.jsonl

The files are written by `run.py --record`. For each workload and metric
it prints the median and quartiles of each side and a verdict (better,
worse, unchanged or unresolved; see `harness.verdict`). End-to-end
metrics come from untraced runs and use the bounds in BENCHMARK.json;
per-layer metrics come from traced runs and have no bound. Runs are
paired by seed. `--overhead` prints, per workload, the traced runs'
end-to-end medians minus the untraced runs'. `--spread` prints, per
workload, each end-to-end metric's interquartile distance over the
untraced runs as a share of their median, next to the metric's bound.
"""

import argparse
import json
import sys
from collections import defaultdict
from pathlib import Path

import harness

ROOT = Path(__file__).resolve().parent.parent


def load(path):
    runs = defaultdict(list)
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs[(r["workload"], r["trace"])].append(r)
    return runs


def paired(base, change, group, name):
    """Values of one metric, paired by seed where both sides have it."""
    b = {r["seed"]: r[group][name] for r in base}
    c = {r["seed"]: r[group][name] for r in change}
    seeds = [s for s in b if s in c] or None
    if seeds:
        return [b[s] for s in seeds], [c[s] for s in seeds]
    return list(b.values()), list(c.values())


def fmt(xs):
    q1, q2, q3 = harness.quartiles(xs)
    return f"{q2:12.5g} [{q1:.4g}, {q3:.4g}]"


def compare(spec, base, change, out):
    rows = []
    for w in spec["workloads"]:
        for group, trace in (("end_to_end", 0), ("per_layer", 1)):
            b_runs, c_runs = base.get((w["name"], trace)), change.get((w["name"], trace))
            if not b_runs or not c_runs:
                continue
            for m in spec[group]:
                b, c = paired(b_runs, c_runs, group, m["name"])
                v = harness.verdict(b, c, m["better"], m.get("bound"))
                rows.append((w["name"], m["name"], m["unit"], fmt(b), fmt(c), v))
    print(f"{'workload':<13} {'metric':<36} {'unit':<13} "
          f"{'base median [q1, q3]':<34} {'change median [q1, q3]':<34} verdict", file=out)
    for r in rows:
        print(f"{r[0]:<13} {r[1]:<36} {r[2]:<13} {r[3]:<34} {r[4]:<34} {r[5]}", file=out)
    return rows


def overhead(spec, runs, out):
    print(f"{'workload':<13} {'metric':<14} {'untraced':>12} {'traced':>12} {'overhead':>10}",
          file=out)
    for w in spec["workloads"]:
        plain, traced = runs.get((w["name"], 0)), runs.get((w["name"], 1))
        if not plain or not traced:
            continue
        for m in spec["end_to_end"]:
            a = harness.median([r["end_to_end"][m["name"]] for r in plain])
            b = harness.median([r["end_to_end"][m["name"]] for r in traced])
            print(f"{w['name']:<13} {m['name']:<14} {a:12.5g} {b:12.5g} "
                  f"{(b - a) / a:+10.1%}", file=out)


def spreads(spec, runs, out):
    print(f"{'workload':<13} {'metric':<14} {'runs':>4} {'median':>12} {'spread':>8} "
          f"{'bound':>6}", file=out)
    for w in spec["workloads"]:
        plain = runs.get((w["name"], 0), [])
        if not plain:
            continue
        for m in spec["end_to_end"]:
            xs = [r["end_to_end"][m["name"]] for r in plain]
            print(f"{w['name']:<13} {m['name']:<14} {len(xs):>4} {harness.median(xs):12.5g} "
                  f"{harness.spread(xs):8.1%} {m['bound']:6.0%}", file=out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("files", nargs="+")
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--overhead", action="store_true")
    mode.add_argument("--spread", action="store_true")
    args = ap.parse_args()
    spec = harness.load_spec(ROOT / "BENCHMARK.json")
    if args.overhead or args.spread:
        if len(args.files) != 1:
            ap.error("--overhead and --spread take one file")
        (overhead if args.overhead else spreads)(spec, load(args.files[0]), sys.stdout)
    else:
        if len(args.files) != 2:
            ap.error("give a base file and a change file")
        compare(spec, load(args.files[0]), load(args.files[1]), sys.stdout)


if __name__ == "__main__":
    main()
