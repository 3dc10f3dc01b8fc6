"""Untimed correctness checks and metric reduction for one run record.

Every op the benchmark attempted is counted. An op fails when it threw
or when its output is wrong; a failed op never contributes a latency.
The references are independent of the program: DuckDB evaluates the
repository's own `pipeline_training_manifest` oracle SQL and an exact
BM25 recomputation over the live documents, and numpy computes exact
cosine neighbours for IVF recall.
"""
import statistics

import duckdb
import numpy as np
import pyarrow as pa

K = 10            # BM25 top-k served
KNN = 5           # IVF neighbours served
DF_CAP = 100      # BM25 posting df cap (library default)
RECALL_FLOOR = 0.8  # RecallSpec's floor for the nprobe=10, shortlist=32 config

# The exact BM25 reference: the integer impact formula of the library's
# bm25_retrieve oracle, over the live documents only, for an external
# query table q(query_id, token).
BM25_SQL = f"""
WITH live_dl AS (SELECT d.doc_id, d.dl FROM dl d JOIN live USING (doc_id)),
stats AS (SELECT COUNT(*) AS n_docs, (1000 * CAST(SUM(dl) AS BIGINT)) // COUNT(*) AS am
          FROM live_dl),
qt AS (SELECT DISTINCT token FROM q),
dfc AS (SELECT token, COUNT(*) AS df FROM tf JOIN live USING (doc_id)
        WHERE token IN (SELECT token FROM qt)
        GROUP BY 1 HAVING COUNT(*) <= {DF_CAP}),
post AS (SELECT tf.doc_id, tf.token,
           (LEAST((s.n_docs * 100) // dfc.df, 100000) * (44 * s.am * tf.tf))
             // (20 * s.am * tf.tf + 6 * s.am + 18000 * d.dl) AS impact
         FROM tf JOIN live USING (doc_id) JOIN dfc USING (token)
         JOIN live_dl d ON d.doc_id = tf.doc_id, stats s),
scores AS (SELECT q.query_id, p.doc_id, SUM(p.impact) AS score
           FROM post p JOIN q USING (token) GROUP BY 1, 2)
SELECT query_id, doc_id, rk, CAST(score AS BIGINT) AS score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
  FROM scores) WHERE rk <= {K}
ORDER BY query_id, rk
"""


def materialized(sql):
    """The oracle with its near-dup pair set and edge list marked
    MATERIALIZED: DuckDB otherwise inlines them into every step of the
    recursive reachability CTE and re-runs the shingle join per step
    (10x slower). The hint changes evaluation only, never the result."""
    for a, b in (("WITH RECURSIVE pairs AS (", "WITH RECURSIVE pairs AS MATERIALIZED ("),
                 ("bi AS (SELECT id1", "bi AS MATERIALIZED (SELECT id1")):
        sql = sql.replace(a, b, 1)
    return sql


class Bm25Ref:
    """Tokenize the corpus once (same whitespace split and word-trigram
    tokens as the library), then answer exact top-k for any live set."""

    def __init__(self, con):
        self.con = con
        con.execute("""
          CREATE TABLE toks AS SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
          FROM documents WHERE length(trim(text)) > 0""")
        con.execute("""
          CREATE TABLE tf AS SELECT doc_id, token, COUNT(*) AS tf FROM (
            SELECT doc_id, unnest(list_transform(range(0, len(l) - 2),
                     i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])) AS token
            FROM toks WHERE len(l) >= 3) GROUP BY 1, 2""")
        con.execute("""CREATE TABLE dl AS SELECT doc_id, CAST(len(l) - 2 AS BIGINT) AS dl
                       FROM toks WHERE len(l) >= 3""")

    def topk(self, live_ids, queries):
        """queries: {qid: [token, ...]} -> {qid: [[doc_id, rk, score], ...]}"""
        con = self.con
        live = pa.table({"doc_id": pa.array(list(live_ids), pa.int64())})
        pairs = [(qid, t) for qid, toks in queries.items() for t in toks]
        q = pa.table({"query_id": pa.array([p[0] for p in pairs], pa.int64()),
                      "token": pa.array([p[1] for p in pairs], pa.string())})
        con.register("live", live)
        con.register("q", q)
        out = {qid: [] for qid in queries}
        for qid, doc, rk, score in con.execute(BM25_SQL).fetchall():
            out[qid].append([doc, rk, score])
        return out


def exact_knn(vecs, live_ids, q, k=KNN):
    live = np.asarray(live_ids)
    m = vecs[live].astype(np.float64)
    qq = q.astype(np.float64)
    cos = (m @ qq) / (np.linalg.norm(m, axis=1) * np.linalg.norm(qq))
    return set(live[np.argsort(-cos, kind="stable")[:k]].tolist())


class Verdict:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures = []

    def op(self, o, name, why):
        """Count one op; it is good iff it returned and `why` is empty."""
        self.attempted += 1
        if not o.get("ok", True):
            why = o["err"]
        o["good"] = not why
        if why:
            self.failed += 1
            self.failures.append(f"{name}: {why}")


def _ivf_error(got, live_set):
    if len(got) != KNN or len(set(got)) != KNN or not set(got) <= live_set:
        return f"ivf neighbours {got} are not {KNN} distinct live ids"
    return ""


def check(workload, rec, truth, inp):
    """Check every op in the run record; marks each op dict `good`."""
    v = Verdict()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{inp}/corpus/documents.parquet')")
    n = truth["n_docs"]

    if workload == "curate":
        c = rec["curate"]
        why = ""
        if c["lines_read"] != n + truth["n_bad"] or c["quarantined"] != truth["n_bad"]:
            why = (f"ingest read {c['lines_read']} lines, quarantined {c['quarantined']}; "
                   f"expected {n + truth['n_bad']} and {truth['n_bad']}")
        else:
            want = set(con.execute(materialized(c["oracle_sql"])).fetchall())
            got = set(con.execute(f"SELECT doc_id, lang, shard, pos FROM "
                                  f"read_parquet('{c['manifest']}/*.parquet')").fetchall())
            if got != want:
                why = (f"manifest differs from the oracle: {len(got - want)} extra, "
                       f"{len(want - got)} missing of {len(want)}")
        v.op(c, "curate", why)
        return {"attempted": v.attempted, "failed": v.failed, "failures": v.failures,
                "ivf_recall": None}

    # serve: the read loop's requests see the corpus indexes, fixed at
    # build; the maintenance rounds' indexes start as the corpus prefix,
    # then gain each round's batch and lose its deleted ids.
    ops = rec["serve"]["ops"]
    vecs, queries, has_vec = truth["vecs"], truth["queries"], truth["has_vec"]
    # every document any op can see: corpus and all appended batches
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet(["
                + ", ".join(f"'{inp}/{p}'" for p in
                            ["corpus/documents.parquet"]
                            + [f"maint/batch_{m}/documents.parquet"
                               for m in range(len(truth["maint"]))]) + "])")
    ref = Bm25Ref(con)
    req_ops = [o for o in ops if o["kind"] == "request"]
    want_static = ref.topk(range(n), {o["qid"]: queries[o["qid"]][0] for o in req_ops})
    corpus_vecs = list(range(truth["n_vecs"]))
    live = list(range(truth["n_prefix"]))
    recalls, probing = [], []

    def ivf(o, live_vecs, q):
        why = _ivf_error(o["res"]["ivf"], set(live_vecs))
        if not why:
            recalls.append(len(set(o["res"]["ivf"]) & exact_knn(vecs, live_vecs, q)) / KNN)
        probing.append(o)
        return why

    for o in ops:
        if o["kind"] == "request":
            toks, q = queries[o["qid"]]
            why = ""
            if o["ok"]:
                if o["res"]["bm25"] != want_static[o["qid"]]:
                    why = f"bm25 top-{K} {o['res']['bm25']} != exact {want_static[o['qid']]}"
                else:
                    why = ivf(o, corpus_vecs, q)
            v.op(o, f"request {o['qid']}", why)
        elif o["kind"] == "maintain":
            m = truth["maint"][o["batch"]]
            dead = set(m["dead"])
            live = [x for x in live + list(range(m["lo"], m["hi"])) if x not in dead]
            why = ""
            if o["ok"]:
                want = ref.topk(live, {0: m["toks"]})[0]
                if o["res"]["bm25"] != want:
                    why = f"raw bm25 top-{K} {o['res']['bm25']} != exact {want}"
                else:
                    why = ivf(o, [x for x in live if has_vec[x]], m["vec"])
            v.op(o, f"maintenance round {o['batch']}", why)
        else:
            v.op(o, f"reclaim after round {o['batch']}", "")
    return {"attempted": v.attempted, "failed": v.failed, "failures": v.failures,
            "ivf_recall": _recall_floor(v, recalls, probing)}


def _recall_floor(v, recalls, ops):
    """Recall is a property of the whole stream of IVF answers: below the
    floor every op that served one counts as failed."""
    recall = statistics.mean(recalls) if recalls else 1.0
    if recall < RECALL_FLOOR:
        for o in ops:
            if o.get("good"):
                o["good"] = False
                v.failed += 1
        v.failures.append(f"IVF recall@{KNN} {recall:.3f} < {RECALL_FLOOR}")
    return recall


# ------------------------------------------------------------------ metrics

def setup_s(rec):
    """JVM launch through SparkSession creation and its first job."""
    return (rec["ready_ms"] - rec["launched_ms"]) / 1e3


def _median(xs):
    return statistics.median(xs) if xs else None


END_TO_END = {"setup_s": "s", "cpu_s": "s", "peak_heap_mb": "MB", "build_s": "s",
              "op_p50_ms": "ms"}


def end_to_end(workload, rec):
    """The end-to-end metrics with their units. Failed ops never
    contribute a time: a time with no good op behind it reads null.

    build_s   curate: first ingest read to the written manifest (curate_s);
              serve: the four index builds (index_build_s).
    op_p50_ms curate: median curation step; serve: median request of the
              read loop.
    setup_s   JVM launch through SparkSession and its first job, plus the
              serve warm-up requests.
    """
    if workload == "curate":
        c = rec["curate"]
        build = c["curate_s"] if c["good"] else None
        warm = 0.0
        ops = [s["ms"] for s in c["steps"]] if c["good"] else []
    else:
        p = rec["serve"]
        build, warm = p["build_ms"] / 1e3, p["warmup_ms"] / 1e3
        ops = [o["ms"] for o in p["ops"] if o["kind"] == "request" and o["good"]]
    out = {"setup_s": setup_s(rec) + warm, "cpu_s": rec["cpu_s"],
           "peak_heap_mb": rec["peak_heap_mb"], "build_s": build, "op_p50_ms": _median(ops)}
    return {k: {"value": out[k], "unit": u} for k, u in END_TO_END.items()}


def detail(workload, rec):
    """Set-up parts and per-step or per-kind latencies for the run record
    (not metrics)."""
    d = {"jvm_start_s": (rec["main_ms"] - rec["launched_ms"]) / 1e3,
         "session_s": (rec["session_ms"] - rec["main_ms"]) / 1e3,
         "first_job_s": (rec["ready_ms"] - rec["session_ms"]) / 1e3}
    if workload == "curate":
        d.update({s["name"]: s["ms"] for s in rec["curate"]["steps"]})
        return d
    good = [o for o in rec["serve"]["ops"] if o["good"]]
    d["sequence"] = [[o["kind"], round(o["ms"])] for o in rec["serve"]["ops"]]
    for kind in ("request", "maintain", "reclaim"):
        xs = [o["ms"] for o in good if o["kind"] == kind]
        d[f"{kind}_n"] = len(xs)
        d[f"{kind}_p50_ms"] = _median(xs)
    for key in ("bm25_ms", "ivf_ms", "append_ms", "delete_ms", "probe_ms"):
        xs = [o["res"][key] for o in good if key in o.get("res", {})]
        d[key.replace("_ms", "_p50_ms")] = _median(xs)
    return d


# ------------------------------------------------------------------ spans

# Every public function the benchmark calls, over both workloads. Per
# call of the function: wall seconds, executor CPU seconds, Spark jobs,
# shuffle and input volume; warm-up calls excluded. A function the
# workload does not call reads 0 on every run of that workload.
LAYERS = [
    "Lake.readJsonl", "Lake.quarantine", "Ingest.batchAssign", "Clean.parseClean",
    "NearDup.dedupKeepBest", "Govern.piiRedact", "TextAnalysis.nbQualityClassify",
    "TextAnalysis.dsirSelect", "TextAnalysis.perplexityScore", "Govern.decontaminate",
    "Govern.trainingManifest",
    "TextAnalysis.bm25Write", "Similarity.ivfWrite", "TextAnalysis.bm25ServeFrom",
    "Similarity.annIvfServe",
    "TextAnalysis.bm25WriteRaw", "Similarity.ivfWriteFrom", "TextAnalysis.bm25Append",
    "Similarity.ivfAppend", "TextAnalysis.bm25Delete", "Similarity.ivfDelete",
    "TextAnalysis.bm25ServeRaw", "TextAnalysis.bm25Vacuum", "Similarity.ivfCompact",
]
LAYER_METRICS = [("wall_s", "s"), ("exec_cpu_s", "s"), ("jobs", "count"),
                 ("shuffle_mb", "MB"), ("input_mb", "MB")]
PER_LAYER = dict([(f"{name}.{m}", u) for name in LAYERS for m, u in LAYER_METRICS]
                 + [("Lake.quarantine.quarantined_frac", "ratio"), ("uncovered_s", "s")])


def _union(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total, end = total + b - a, b
        elif b > end:
            total, end = total + b - end, b
    return total


def span_table(rec):
    """Every span with its self time (its duration minus the part its
    child spans cover), plus the time of the run no top-level span
    covers (JVM and session start, plan loading, record writing)."""
    spans = [s for s in rec["spans"] if s["id"] >= 0]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        covered = _union([(k["start_ns"], k["end_ns"]) for k in kids.get(s["id"], [])])
        out.append(dict(s, wall_s=dur / 1e9, self_s=(dur - covered) / 1e9))
    run_ns = (rec["end_ms"] - rec["launched_ms"]) * 1e6
    top = _union([(s["start_ns"], s["end_ns"]) for s in spans if s["parent"] == -1])
    loose = [s for s in rec["spans"] if s["id"] == -1]
    return {"run_s": run_ns / 1e9, "uncovered_s": (run_ns - top) / 1e9,
            "jobs_outside_spans": loose[0]["jobs"] if loose else 0, "spans": out}


def per_layer(rec, table):
    # warm-up calls are set-up, not the layer's steady cost
    warm = {s["id"] for s in table["spans"] if s["name"] == "serve.warmup"}
    agg = {name: [0] * 6 for name in LAYERS}
    for s in table["spans"]:
        a = agg.get(s["name"]) if s["parent"] not in warm else None
        if a is not None:
            for i, x in enumerate((1, s["wall_s"], s["exec_cpu_ns"] / 1e9, s["jobs"],
                                   s["shuffle_bytes"] / 1048576, s["input_bytes"] / 1048576)):
                a[i] += x
    out = {}
    for name in LAYERS:
        calls, *totals = agg[name]
        for (metric, _), total in zip(LAYER_METRICS, totals):
            out[f"{name}.{metric}"] = total / max(calls, 1)
    c = rec.get("curate")
    out["Lake.quarantine.quarantined_frac"] = c["quarantined"] / c["lines_read"] if c else 0.0
    out["uncovered_s"] = table["uncovered_s"]
    return {k: {"value": out[k], "unit": u} for k, u in PER_LAYER.items()}


def unmeasured(units):
    """Every metric of `units` with no value: the run produced none."""
    return {k: {"value": None, "unit": u} for k, u in units.items()}
