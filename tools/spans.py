#!/usr/bin/env python3
"""Per-function table of a traced perfbench run.

    python3 tools/spans.py perfbench/results/spans-serve-304.json [more.json ...]
    python3 tools/spans.py --warmup perfbench/results/spans-serve-304.json
    python3 tools/spans.py --diff BASE.json NEW.json

Reads the span file a `--trace 1` run of perfbench/run.py writes and
prints, per span name (`<Module>.<function>` for calls into graft, the
workload's own phases otherwise): the number of calls, wall seconds per
call, driver jobs per call, executor CPU seconds per call and self
seconds in total (wall time not covered by a child span), sorted by
total wall time. Calls made inside the `serve.warmup` span are left
out, as in the benchmark's per-layer metrics, unless `--warmup` is
given. With `--diff`, prints per span name the change between two traced
runs (e.g. the parent commit's and a change's): calls, jobs per call and
wall seconds per call, base -> new, with the difference; a span present in
only one run reads `-` on the other side. Standard library only.
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


def render_diff(base, new, warmup=False):
    b = {r[0]: r for r in table(base, warmup)}
    n = {r[0]: r for r in table(new, warmup)}
    order = [r[0] for r in table(new, warmup)] + [k for k in b if k not in n]

    def pair(name, i, fmt):
        x = b[name][i] if name in b else None
        y = n[name][i] if name in n else None
        d = fmt(y - x, True) if x is not None and y is not None else "-"
        return [fmt(x, False) if x is not None else "-",
                fmt(y, False) if y is not None else "-", d]

    def num(prec):
        return lambda v, signed: f"{v:+.{prec}f}" if signed else f"{v:.{prec}f}"

    def count(v, signed):
        return f"{v:+d}" if signed else str(v)

    head = ("span", "calls", "new", "diff", "jobs/call", "new", "diff",
            "wall_s/call", "new", "diff")
    body = [tuple([name] + pair(name, 1, count) + pair(name, 3, num(1))
                  + pair(name, 2, num(3)))
            for name in order]
    widths = [max(len(r[i]) for r in [head] + body) for i in range(len(head))]
    lines = ["  ".join(c.ljust(w) if i == 0 else c.rjust(w)
                       for i, (c, w) in enumerate(zip(r, widths)))
             for r in [head] + body]
    lines.append(f"run_s {base['run_s']:.2f} -> {new['run_s']:.2f}  "
                 f"uncovered_s {base['uncovered_s']:.2f} -> {new['uncovered_s']:.2f}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("files", nargs="*", help="perfbench/results/spans-*.json")
    ap.add_argument("--warmup", action="store_true",
                    help="count the calls made during serve.warmup too")
    ap.add_argument("--diff", nargs=2, metavar=("BASE", "NEW"),
                    help="per-span change from the BASE run to the NEW run")
    a = ap.parse_args()
    if a.diff:
        docs = []
        for path in a.diff:
            with open(path) as f:
                docs.append(json.load(f))
        print(render_diff(docs[0], docs[1], a.warmup))
        return 0
    if not a.files:
        ap.error("give span files, or --diff BASE NEW")
    for i, path in enumerate(a.files):
        with open(path) as f:
            doc = json.load(f)
        if len(a.files) > 1:
            print(("\n" if i else "") + f"== {path}")
        print(render(doc, a.warmup))


if __name__ == "__main__":
    sys.exit(main())
