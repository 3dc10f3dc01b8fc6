#!/usr/bin/env python3
"""graft end-to-end benchmark runner.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the library and the
benchmark program from source with sbt (offline); later runs reuse the
build until a source file changes. Each run generates its inputs from
the seed, starts one fresh JVM (memos and shared indexes key on
directory paths, so only a fresh JVM is cold), checks every output
without timing the check, and prints one JSON result as the last line
of stdout. See README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen
import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD, "perfbench-classpath.txt")
RESULTS = os.path.join(HERE, "results")

# Each run is one cold JVM on inputs generated from the seed. Why each
# workload is included:
#   curate - raw jsonl.gz batches through quarantine and the README
#            curation chain to a manifest: tokenize, shingle and shuffle
#            work that scales with the data; no serving.
#   serve  - persisted BM25 + IVF indexes under a read-only closed loop
#            (one client) of hybrid requests: almost no data work per
#            request, latency set by fixed per-job cost; then a few
#            append/delete/probe rounds with a vacuum + compact on
#            indexes of their own, so write-path cost shows in cpu_s and
#            in the per-layer spans.
WORKLOADS = {
    "curate": dict(n_docs=2500),
    "serve": dict(n_docs=1500, n_vecs=1500),
}
JVM_HEAP = "3g"
# Seconds the benchmark JVM may run beyond --seconds before it is killed
# and the run counts as failed: set-up, index builds, warm-up and
# maintenance take about 55 s on 4 vCPUs, and a run with the default
# --seconds must still end within 180 s.
JVM_SLACK_S = 140

# Spark 4 on JDK 17 outside spark-submit (the root build.sbt's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# What sbt compiles: the library, both build files and PerfMain.
COMPILED = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
            os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")]


def digest(tops):
    """SHA-1 over the path and bytes of every file under `tops`."""
    h = hashlib.sha1()
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, files in os.walk(top) for f in files)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft + PerfMain with sbt; cache the runtime classpath
    with the hash of the sources it was built from."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft sources not found next to perfbench/ (run from the repository root)")
    sources = digest(COMPILED)
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as f:
            built_from, cp = (f.read().split("\n", 1) + [""])[:2]
        if built_from == sources:
            return cp.strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=600)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(sources + "\n" + lines[-1])
    return lines[-1]


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return None


def cpu_ticks():
    """(steal, total) jiffies over all CPUs: steal is time the hypervisor
    gave this machine's CPUs to someone else."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def jvm(cp, work, args, timeout):
    """Start one benchmark JVM and wait for it. Returns (run record,
    None), or (None, why) when it crashed or ran past `timeout` and was
    killed."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "record.json")
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.PerfMain",
              "--work", work, "--out", out,
              "--launched", str(int(time.time() * 1000))] + args)
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        return None, f"benchmark JVM killed after {timeout:.0f} s"
    if p.returncode != 0 or not os.path.isfile(out):
        errs = [l for l in (p.stdout + p.stderr).splitlines()
                if "Exception" in l or "Error" in l]
        sys.stderr.write("\n".join(errs[:8]) + "\n")
        return None, f"benchmark JVM exited with {p.returncode}"
    with open(out) as f:
        return json.load(f), None


def tracing_overhead(workload, seed, tree, build_s):
    """This traced run's build_s over the median build_s of the untraced
    runs recorded for the same workload, seed and sources, minus 1; None
    when there are none."""
    path = os.path.join(RESULTS, "runs.jsonl")
    if build_s is None or not os.path.isfile(path):
        return None
    with open(path) as f:
        base = [r["metrics"]["build_s"]["value"] for r in map(json.loads, f)
                if (r["workload"], r["seed"], r.get("tree"), r["trace"]) == (workload, seed, tree, 0)]
    base = [b for b in base if b is not None]
    return build_s / statistics.median(base) - 1 if base else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; known: {', '.join(WORKLOADS)}")
    cp = build()
    # the sources this run ran: what sbt compiled plus this runner
    tree = digest(COMPILED + sorted(glob.glob(os.path.join(HERE, "*.py"))))

    load0, ticks0 = loadavg(), cpu_ticks()
    t0 = time.time()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "in")
    try:
        truth = gen.generate(inp, a.workload, a.seed, **WORKLOADS[a.workload])
        rec, why = jvm(cp, work, ["--in", inp, "--workload", a.workload,
                                  "--seconds", str(a.seconds), "--trace", str(a.trace)],
                       timeout=a.seconds + JVM_SLACK_S)
        # a run that produced no record is one attempted op, failed
        verdict = (checks.check(a.workload, rec, truth, inp) if rec else
                   {"attempted": 1, "failed": 1, "failures": [why], "ivf_recall": None})
    finally:
        shutil.rmtree(work, ignore_errors=True)
    e2e = checks.end_to_end(a.workload, rec) if rec else checks.unmeasured(checks.END_TO_END)
    ticks1 = cpu_ticks()
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]) if ticks0 and ticks1 else None
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "tree": tree, "loadavg_start": load0, "loadavg_end": loadavg(),
              "nproc": rec and rec["nproc"], "steal_frac": steal, "wall_s": time.time() - t0,
              "jvm_cpu_s": rec and rec["cpu_s"],
              "attempted": verdict["attempted"], "failed": verdict["failed"],
              "ops_failed_frac": verdict["failed"] / verdict["attempted"],
              "ivf_recall": verdict["ivf_recall"], "failures": verdict["failures"][:20],
              "detail": rec and checks.detail(a.workload, rec), "metrics": e2e}
    metrics, overhead = e2e, None
    if a.trace == 1:
        table = rec and checks.span_table(rec)
        metrics = (checks.per_layer(rec, table) if rec else
                   checks.unmeasured(checks.PER_LAYER))
        overhead = tracing_overhead(a.workload, a.seed, tree, e2e["build_s"]["value"])
        record.update(per_layer=metrics, tracing_overhead_frac=overhead)
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    if a.trace == 1 and rec:
        with open(os.path.join(RESULTS, f"spans-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump(dict(table, tracing_overhead_frac=overhead), f, indent=1)

    print(f"{a.workload} seed {a.seed}: ops_failed_frac "
          f"{record['ops_failed_frac']:.4f} ({verdict['failed']}/{verdict['attempted']}), "
          f"ivf_recall {verdict['ivf_recall']}, loadavg {load0} -> {record['loadavg_end']}")
    print("detail:", json.dumps(record["detail"]))
    if a.trace == 1:
        print("tracing_overhead_frac:", overhead,
              "(null: no untraced run of this seed and tree in results/runs.jsonl)"
              if overhead is None else "")
    for f in verdict["failures"][:5]:
        print("failed:", f)
    print(json.dumps({"correct": verdict["failed"] == 0,
                      "attempted": verdict["attempted"],
                      "failed": verdict["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
