#!/usr/bin/env python3
"""Pair two trees' perfbench runs and summarize each metric.

    python3 tools/pairs.py PARENT CHANGE [--workload NAME] [--trace 0|1]

PARENT and CHANGE are each a `perfbench/results/runs.jsonl` file or a
checkout containing one. Runs are matched by workload and seed (the
last run of a tree for a (workload, seed) wins), so interleaved runs of
the two trees on the same seeds reduce to pairs. For every metric both
runs of a pair report, prints the parent's and the change's quartiles
[q1, median, q3], the ratio of the medians (change / parent), how many
pairs the change won, and whether a claim of a gain on that metric
holds: at least 10 pairs, at least 9 in 10 of them won, and the medians
apart by more than the parent's interquartile range, in the change's
favour. Lower wins unless BENCHMARK.json (next to this tool's repository
root) declares the metric "better": "higher". A pair whose values are
equal is a win for neither. The per-kind latency medians a run records
in its `detail` (bm25_p50_ms, ivf_p50_ms, ...) are listed after the
metrics, so a serve change shows which index request moved. Only
untraced runs are read unless --trace 1 is given; traced runs add the
per-layer metrics.

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


# per-kind request latencies perfbench records in a run's `detail`
DETAIL = ("bm25_p50_ms", "ivf_p50_ms", "probe_p50_ms", "append_p50_ms",
          "delete_p50_ms", "reclaim_p50_ms")


def load(path, workload, trace):
    """{(workload, seed): {metric: value}} of the matching runs; the
    `detail` latencies are keyed `detail.<name>`."""
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
            for name in DETAIL:
                v = (r.get("detail") or {}).get(name)
                if isinstance(v, (int, float)):
                    vals["detail." + name] = float(v)
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
        print(f"  {'metric':<28} {'parent [q1, median, q3]':>30} "
              f"{'change [q1, median, q3]':>30} {'ratio':>7}  wins   claim")
        names = sorted(set.intersection(*(set(base[k]) & set(new[k]) for k in wkeys)),
                       key=lambda n: (n.startswith("detail."), n))
        for name in names:
            p = [base[k][name] for k in wkeys]
            c = [new[k][name] for k in wkeys]
            pq, cq = quartiles(p), quartiles(c)
            sign = -1 if name in up else 1
            wins = sum(1 for x, y in zip(p, c) if sign * (y - x) < 0)
            ratio = f"{cq[1] / pq[1]:7.3f}" if pq[1] else "      -"
            gap = sign * (pq[1] - cq[1])
            holds = (len(wkeys) >= 10 and 10 * wins >= 9 * len(wkeys)
                     and gap > pq[2] - pq[0])
            print(f"  {name:<28} {fmt(pq):>30} {fmt(cq):>30} {ratio}  "
                  f"{wins:>2}/{len(wkeys):<2}  {'holds' if holds else 'no'}")


def quartiles(xs):
    """(q1, median, q3); statistics' exclusive method, the median for
    all three when there are fewer than two values."""
    if len(xs) < 2:
        m = statistics.median(xs)
        return (m, m, m)
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q1, statistics.median(xs), q3)


def fmt(q):
    return "[" + ", ".join(f"{v:.3f}" for v in q) + "]"


if __name__ == "__main__":
    main()
