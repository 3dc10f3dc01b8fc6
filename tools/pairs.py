#!/usr/bin/env python3
"""Pair two trees' perfbench runs and summarize each metric.

    python3 tools/pairs.py PARENT CHANGE [--workload NAME] [--trace 0|1]

PARENT and CHANGE are each a `perfbench/results/runs.jsonl` file or a
checkout containing one. Runs are matched by workload and seed (the
last run of a tree for a (workload, seed) wins), so interleaved runs of
the two trees on the same seeds reduce to pairs. For every metric both
runs of a pair report, prints the parent and change medians, their
ratio (change / parent) and how many pairs the change won: lower wins
unless BENCHMARK.json (next to this tool's repository root) declares the
metric "better": "higher". A pair whose values are equal is a win for
neither. Only untraced runs are read unless --trace 1 is given; traced
runs add the per-layer metrics.

Standard library only.
"""
import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def runs_file(path):
    if os.path.isdir(path):
        path = os.path.join(path, "perfbench", "results", "runs.jsonl")
    if not os.path.isfile(path):
        sys.exit(f"pairs: no runs file at {path}")
    return path


def load(path, workload, trace):
    """{(workload, seed): {metric: value}} of the matching runs."""
    out = {}
    with open(runs_file(path)) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            r = json.loads(line)
            if r.get("trace") != trace or (workload and r.get("workload") != workload):
                continue
            vals = {}
            for group in ("metrics", "per_layer"):
                for name, m in (r.get(group) or {}).items():
                    v = m.get("value") if isinstance(m, dict) else m
                    if isinstance(v, (int, float)):
                        vals[name] = float(v)
            out[(r.get("workload"), r.get("seed"))] = vals
    return out


def higher_better():
    """Metric names BENCHMARK.json declares better when higher."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except (OSError, ValueError):
        return set()
    return {m["name"] for group in ("end_to_end", "per_layer")
            for m in bench.get(group, []) if m.get("better") == "higher"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    base = load(a.parent, a.workload, a.trace)
    new = load(a.change, a.workload, a.trace)
    keys = sorted(set(base) & set(new), key=lambda k: (str(k[0]), str(k[1])))
    if not keys:
        sys.exit("pairs: no (workload, seed) appears in both runs files")
    up = higher_better()
    for wl in sorted({k[0] for k in keys}, key=str):
        wkeys = [k for k in keys if k[0] == wl]
        print(f"{wl}: {len(wkeys)} pairs, seeds {', '.join(str(k[1]) for k in wkeys)}")
        print(f"  {'metric':<40} {'parent':>10} {'change':>10} {'ratio':>7}  wins")
        names = sorted(set.intersection(*(set(base[k]) & set(new[k]) for k in wkeys)))
        for name in names:
            p = [base[k][name] for k in wkeys]
            c = [new[k][name] for k in wkeys]
            pm, cm = statistics.median(p), statistics.median(c)
            sign = -1 if name in up else 1
            wins = sum(1 for x, y in zip(p, c) if sign * (y - x) < 0)
            ratio = f"{cm / pm:7.3f}" if pm else "      -"
            print(f"  {name:<40} {pm:10.3f} {cm:10.3f} {ratio}  {wins}/{len(wkeys)}")


if __name__ == "__main__":
    main()
