#!/usr/bin/env python3
"""Per-function table of a traced perfbench run.

    python3 tools/spans.py perfbench/results/spans-serve-304.json [more.json ...]
    python3 tools/spans.py --warmup perfbench/results/spans-serve-304.json

Reads the span file a `--trace 1` run of perfbench/run.py writes and
prints, per span name (`<Module>.<function>` for calls into graft, the
workload's own phases otherwise): the number of calls, wall seconds per
call, driver jobs per call, executor CPU seconds per call and self
seconds in total (wall time not covered by a child span), sorted by
total wall time. Calls made inside the `serve.warmup` span are left
out, as in the benchmark's per-layer metrics, unless `--warmup` is
given. Standard library only.
"""
import argparse
import json
import sys


def table(doc, warmup=False):
    """Rows of (name, calls, wall_s, jobs, exec_cpu_s, self_s) with every
    figure but self_s per call, in descending order of total wall."""
    spans = doc["spans"]
    warm = set() if warmup else {s["id"] for s in spans if s["name"] == "serve.warmup"}
    agg = {}
    for s in spans:
        if s["parent"] in warm:
            continue
        a = agg.setdefault(s["name"], [0, 0.0, 0, 0.0, 0.0])
        a[0] += 1
        a[1] += s["wall_s"]
        a[2] += s["jobs"]
        a[3] += s["exec_cpu_ns"] / 1e9
        a[4] += s["self_s"]
    rows = [(name, n, wall / n, jobs / n, cpu / n, self_s)
            for name, (n, wall, jobs, cpu, self_s) in agg.items()]
    return sorted(rows, key=lambda r: -r[1] * r[2])


def render(doc, warmup=False):
    head = ("span", "calls", "wall_s/call", "jobs/call", "cpu_s/call", "self_s")
    body = [(name, str(n), f"{wall:.3f}", f"{jobs:.1f}", f"{cpu:.3f}", f"{self_s:.2f}")
            for name, n, wall, jobs, cpu, self_s in table(doc, warmup)]
    widths = [max(len(r[i]) for r in [head] + body) for i in range(len(head))]
    lines = ["  ".join(c.ljust(w) if i == 0 else c.rjust(w)
                       for i, (c, w) in enumerate(zip(r, widths)))
             for r in [head] + body]
    lines.append(f"run_s {doc['run_s']:.2f}  uncovered_s {doc['uncovered_s']:.2f}  "
                 f"jobs_outside_spans {doc['jobs_outside_spans']}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("files", nargs="+", help="perfbench/results/spans-*.json")
    ap.add_argument("--warmup", action="store_true",
                    help="count the calls made during serve.warmup too")
    a = ap.parse_args()
    for i, path in enumerate(a.files):
        with open(path) as f:
            doc = json.load(f)
        if len(a.files) > 1:
            print(("\n" if i else "") + f"== {path}")
        print(render(doc, a.warmup))


if __name__ == "__main__":
    sys.exit(main())
