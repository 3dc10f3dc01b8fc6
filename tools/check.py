#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (NOT part of the
library; dev tooling only).

Usage: python3 tools/check.py <verify_out_dir> [sf_dir]

Reads each <out>/<name> parquet result written by graft.Verify, runs the
matching SQL from oracle_sql.json in DuckDB against views over the sf
parquet tables, sorts columns by name + rows by all columns, and
compares values exactly (floats: exact first, then reports max ulp-ish
diff if not).
"""
import json, math, re, sys, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def conf_float(key, default):
    """Read a numeric tunable from graft.conf — the engine reads the
    same file through GraftConfig, so a retune regrades automatically
    instead of silently grading against a stale hardcode."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "..", "graft.conf")
    try:
        with open(path) as f:
            for line in f:
                m = re.match(rf"\s*{key}\s*:\s*([0-9.eE+-]+)", line)
                if m:
                    return float(m.group(1))
    except (OSError, ValueError):
        pass
    return default


# Evaluation hints: CTE headers to mark MATERIALIZED in one query's
# oracle before DuckDB runs it. DuckDB otherwise inlines a CTE at every
# reference; pagerank_pairs reads its `und` edge list (and through it
# the whole n-gram Jaccard pair join, `pairs`) once per iteration, which
# exhausts the memory limit at sf0.1. The hint changes evaluation only,
# never the result (perfbench/checks.py marks the training manifest's
# pair CTEs the same way).
MATERIALIZE = {
    "pagerank_pairs": ("WITH pairs AS (", "und AS ("),
}


def materialized(name, sql):
    for head in MATERIALIZE.get(name, ()):
        sql = sql.replace(head, head[:-1] + "MATERIALIZED (", 1)
    return sql


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for sorting/compare
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[ns]")
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) or
                              str(type(v)).find("ndarray") >= 0 else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main():
    out_dir = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    # a query that threw in Verify writes no dir — that must FAIL the
    # gate, not silently vanish from the tally
    present = {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}
    for name in sorted(set(oracle) - present):
        print(f"  [MISSING] {name}: no Verify output (query threw?)")
        n_fail += 1
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        got = pd.read_parquet(d)
        if name not in oracle:
            status = "ROWS-ONLY" if len(got) > 0 else "ROWS-ONLY-EMPTY!"
            print(f"  [{status}] {name}: {len(got)} rows")
            if len(got) == 0:
                n_fail += 1
                continue
            # The rows-only set is hash-ungateable (seeded hashes /
            # sketches / centroid geometry) but NOT unquantifiable:
            # each gets a cross-engine quantitative check here, so the
            # local gate grades the ANSWERS against DuckDB-computed
            # ground truth even where the values can't hash-match.
            ok, note = True, None
            if name in ("ann_ivf", "ann_ivf_rerank", "ann_ivf_append",
                        "stream_ivf_append", "ann_ivf_retrain",
                        "ann_ivf_delete", "ann_ivf_pq", "ann_ivf_pq_serve",
                        "ann_ivf_opq", "ann_ivf_opq_serve",
                        "ann_ivf_adaptive", "ann_ivf_pq_adaptive"):
                # grade Spark's probed-cell top-k against DuckDB's
                # exact brute-force top-k (registry defaults k=5,
                # nQueries=50). Floors: single-stage ann_ivf probes
                # 2/16 cells (measured recall ~0.52-0.62; floor 0.4,
                # ~2 sigma slack; a centroid-blind prober lands at
                # ~0.125); the two-stage rerank paths probe 10/16 on
                # int8 codes then exact-rerank the shortlist
                # (measured ~0.90-0.95; floor 0.8); ann_ivf_pq probes
                # the same 10/16 on m=16 residual PQ codes (IVFADC)
                # then exact-reranks shortlist=128 — same floor 0.8
                # (measured 0.948 sf0.001 / 0.904 sf0.1), recall
                # governed by cell routing + ADC shortlisting.
                # ann_ivf_append
                # serves the SAME panel from an index built on a 70%
                # prefix + appended 30% batch, so appended vectors
                # are only findable if the append landed in the right
                # cells.
                # ann_ivf_delete tombstones every 3rd non-panel vector:
                # its ground truth is brute force over the SURVIVORS —
                # a vector that still serves after deletion, or one the
                # compaction wrongly dropped, both crater recall
                surv = ("NOT (b.vec_id % 3 = 0 AND b.vec_id >= 50)"
                        if name == "ann_ivf_delete" else "TRUE")
                exact = con.execute(f"""
                    SELECT query_id, neighbor_id FROM (
                      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                             row_number() OVER (PARTITION BY a.vec_id
                               ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
                                        b.vec_id) AS rn
                      FROM embeddings a, embeddings b
                      WHERE a.vec_id < 50 AND a.vec_id <> b.vec_id AND {surv})
                    WHERE rn <= 5""").df()
                truth = set(zip(exact.query_id, exact.neighbor_id))
                found = set(zip(got.query_id, got.neighbor_id))
                recall = len(truth & found) / max(len(truth), 1)
                floor = 0.4 if name == "ann_ivf" else 0.8
                ok = recall >= floor
                if name == "ann_ivf_delete" and len(got) > 0:
                    deleted_served = sum(1 for (_, n) in found
                                         if n % 3 == 0 and n >= 50)
                    ok = ok and deleted_served == 0
                    note_extra = f"; deleted ids served = {deleted_served} (must be 0)"
                else:
                    note_extra = ""
                note = (f"cross-engine recall@5 = {recall:.3f} "
                        f"({len(truth & found)}/{len(truth)} vs DuckDB brute force; "
                        f"floor {floor}){note_extra}")
            elif name == "compression_score":
                # EXACT cross-engine grade: the JDK Deflater and
                # CPython zlib wrap the same library — recompute every
                # doc's level-6 deflate length here and compare
                # row-for-row (raw/comp lengths AND the milli ratio)
                import zlib
                docs = con.execute(
                    "SELECT doc_id, text FROM documents "
                    "WHERE strlen(text) > 0").df()  # strlen = BYTE length in DuckDB
                want = {}
                for did, text in zip(docs.doc_id, docs.text):
                    raw = text.encode("utf-8")
                    comp = len(zlib.compress(raw, 6))
                    want[did] = (len(raw), comp, comp * 1000 // len(raw))
                got_m = {r.doc_id: (r.raw_len, r.comp_len, r.ratio_milli)
                         for r in got.itertuples()}
                mism = sum(1 for k, v in want.items() if got_m.get(k) != v)
                extra = len(set(got_m) - set(want))
                ok = mism == 0 and extra == 0 and len(want) == len(got_m)
                note = (f"exact zlib-length parity: {len(want)} docs, "
                        f"{mism} mismatches, {extra} extra ids")
            elif name == "approx_topk":
                # MG guarantees, graded against DuckDB exact shingle
                # counts over the SAME corpus (documents + the planted
                # re-crawl via tfTableFor's corpus == plain documents
                # here: tf table derives from documents only):
                # (1) every emitted token exists, (2) no estimate
                # overcounts, (3) max undercount <= n/(capacity+1)
                con.register("mg_out", got)
                r = con.execute("""
                    WITH tok AS (
                      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
                      FROM documents WHERE length(trim(text)) > 0),
                    sh AS (
                      SELECT unnest(list_transform(range(0, len(l) - 2),
                               i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3])) AS token
                      FROM tok WHERE len(l) >= 3),
                    truth AS (SELECT token, COUNT(*) AS tc FROM sh GROUP BY 1)
                    SELECT COUNT(*) AS matched,
                           COALESCE(MAX(CASE WHEN m.est > t.tc THEN 1 ELSE 0 END), 0) AS over,
                           COALESCE(MAX(t.tc - m.est), 0) AS max_under,
                           (SELECT COUNT(*) FROM sh) AS n
                    FROM mg_out m JOIN truth t USING (token)""").fetchone()
                matched, over, max_under, n = r
                bound = n // 65  # capacity 64
                ok = matched == len(got) and over == 0 and max_under <= bound
                note = (f"MG bounds: {matched}/{len(got)} tokens exist, "
                        f"overcounts={over}, max undercount {max_under} <= "
                        f"n/(k+1)={bound}")
            elif name in ("semdedup", "semdedup_keep_best"):
                # SemDeDup graded on the rebuilt twin corpus:
                # (a) ZERO false drops — every (drop, witness) cosine
                #     recomputed exactly must clear eps = 0.8;
                # (b) planted-twin recall — each (v, v + 1e6) pair must
                #     lose exactly one endpoint; loss = twins split
                #     across cells (the paper's approximation), floor
                #     0.9;
                # (c) no keeper is ever dropped.
                # semdedup_keep_best additionally: (d) the keeper
                #     DOMINATES every drop on the explicit quality
                #     column (documents.n_chars via doc_id = vec_id
                #     mod 1e6; equal quality → keeper has the lower id).
                con.register("sd_out", got)
                r = con.execute("""
                    WITH twin AS (
                      SELECT e.vec_id + 1000000 AS vec_id,
                             list(CAST(CAST(e.embedding[t.i] AS DOUBLE)
                                  + (CAST((e.vec_id * 31 + (t.i - 1)) % 7 AS DOUBLE) - 3.0)
                                    * 0.001 AS FLOAT) ORDER BY t.i) AS embedding
                      FROM embeddings e,
                           unnest(generate_series(1, len(e.embedding))) AS t(i)
                      GROUP BY e.vec_id),
                    corpus AS (
                      SELECT vec_id, embedding FROM embeddings
                      UNION ALL SELECT vec_id, embedding FROM twin),
                    checked AS (
                      SELECT s.drop_id, s.keeper_id,
                             list_cosine_similarity(a.embedding, b.embedding) AS cos
                      FROM sd_out s
                      JOIN corpus a ON a.vec_id = s.drop_id
                      JOIN corpus b ON b.vec_id = s.witness_id)
                    SELECT
                      (SELECT COUNT(*) FROM checked WHERE cos < 0.8),
                      (SELECT COUNT(*) FROM embeddings e
                       WHERE (e.vec_id IN (SELECT drop_id FROM sd_out))
                          <> (e.vec_id + 1000000 IN (SELECT drop_id FROM sd_out))),
                      (SELECT COUNT(*) FROM embeddings),
                      (SELECT COUNT(*) FROM sd_out
                       WHERE keeper_id IN (SELECT drop_id FROM sd_out))
                    """).fetchone()
                false_drops, one_lost, n_pairs, kept_dropped = r
                recall = one_lost / max(n_pairs, 1)
                ok = false_drops == 0 and recall >= 0.9 and kept_dropped == 0
                note = (f"false drops = {false_drops} (must be 0); twin-pair "
                        f"recall = {recall:.3f} ({one_lost}/{n_pairs}, floor 0.9); "
                        f"dropped keepers = {kept_dropped} (must be 0)")
                if name == "semdedup_keep_best":
                    bad_q = con.execute("""
                        SELECT COUNT(*) FROM sd_out s
                        JOIN documents dq ON dq.doc_id = s.drop_id % 1000000
                        JOIN documents kq ON kq.doc_id = s.keeper_id % 1000000
                        WHERE dq.n_chars > kq.n_chars
                           OR (dq.n_chars = kq.n_chars
                               AND s.drop_id < s.keeper_id)""").fetchone()[0]
                    ok = ok and bad_q == 0
                    note += (f"; quality-argmax violations = {bad_q} "
                             f"(must be 0)")
            elif name == "semdedup_budget":
                # the budget variant: (a/b/c) the semdedup checks at
                # the REPORTED eps (1e-6 margin: rows AT the quantile
                # boundary sit within float-dot ulp of eps by
                # construction, unlike C31's 0.2-slack floor); (d) the
                # threshold itself recomputed — eps must be the
                # floor(dropFrac*C)-th largest cosine of the exact
                # (cell-blind) floor-pair set, within 1e-3 (the
                # engine's capped pair set loses ~0.2% of pairs to
                # cell splits, shifting the quantile by a few ranks);
                # (e) achieved drops land in [0.7, 1.1] x the target.
                con.register("sb_out", got)
                drop_frac = conf_float("semDedupDropFrac", 0.5)
                if len(got) == 0:
                    # the operator's k==0 path (tiny dropFrac) is a
                    # legitimate empty result for the ENGINE, but the
                    # gate corpus always has floor pairs — an empty
                    # result must FAIL the grade, not crash the
                    # checker on the eps read below (main() already
                    # fails empties upstream; this guards direct use)
                    ok = False
                    note = ("semdedup_budget returned 0 rows — "
                            "cannot grade eps (k==0 path?)")
                    eps_rep = None
                if len(got) > 0:
                    eps_rep = float(got["eps"].iloc[0])
                    r = con.execute(f"""
                        WITH twin AS (
                          SELECT e.vec_id + 1000000 AS vec_id,
                                 list(CAST(CAST(e.embedding[t.i] AS DOUBLE)
                                      + (CAST((e.vec_id * 31 + (t.i - 1)) % 7 AS DOUBLE) - 3.0)
                                        * 0.001 AS FLOAT) ORDER BY t.i) AS embedding
                          FROM embeddings e,
                               unnest(generate_series(1, len(e.embedding))) AS t(i)
                          GROUP BY e.vec_id),
                        corpus AS (
                          SELECT vec_id, embedding FROM embeddings
                          UNION ALL SELECT vec_id, embedding FROM twin),
                        pairs AS (
                          SELECT a.vec_id AS id1, b.vec_id AS id2,
                                 list_cosine_similarity(a.embedding, b.embedding) AS cos
                          FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
                          WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.8),
                        q AS (SELECT cos FROM pairs ORDER BY cos DESC
                              LIMIT (SELECT CAST(floor({drop_frac} * COUNT(*)) AS BIGINT)
                                     FROM pairs))
                        SELECT
                          (SELECT COUNT(*) FROM pairs),
                          (SELECT MIN(cos) FROM q),
                          (SELECT COUNT(*) FROM sb_out s
                           JOIN corpus a ON a.vec_id = s.drop_id
                           JOIN corpus b ON b.vec_id = s.witness_id
                           WHERE list_cosine_similarity(a.embedding, b.embedding)
                                 < {eps_rep} - 1e-6),
                          (SELECT COUNT(*) FROM embeddings e
                           WHERE (e.vec_id IN (SELECT drop_id FROM sb_out))
                             AND (e.vec_id + 1000000 IN (SELECT drop_id FROM sb_out))),
                          (SELECT COUNT(*) FROM sb_out
                           WHERE keeper_id IN (SELECT drop_id FROM sb_out))
                        """).fetchone()
                    n_pairs, eps_duck, false_drops, both_lost, kept_dropped = r
                    target = drop_frac * n_pairs
                    achieved = len(got)
                    ok = (false_drops == 0 and both_lost == 0 and kept_dropped == 0
                          and abs(eps_rep - (eps_duck or 0.0)) <= 1e-3
                          and 0.7 * target <= achieved <= 1.1 * target)
                    note = (f"false drops @ reported eps = {false_drops} (must be 0); "
                            f"both-lost twins = {both_lost}; dropped keepers = "
                            f"{kept_dropped}; eps {eps_rep:.6f} vs DuckDB quantile "
                            f"{eps_duck:.6f} (|d| <= 1e-3); achieved {achieved} vs "
                            f"target {target:.0f} (band [0.7, 1.1]x)")
            elif name in ("semdedup_serve", "stream_semdedup"):
                # the incremental form: the twin batch (vec_id + 1e6)
                # serves against the indexed base corpus. (a) zero
                # false strikes — every (drop, witness) cosine
                # recomputed exactly >= eps; (b) strike recall — every
                # twin's original is indexed, so ~all must strike
                # (floor 0.9; loss = routing splits only).
                con.register("sds_out", got)
                r = con.execute("""
                    WITH twin AS (
                      SELECT e.vec_id + 1000000 AS vec_id,
                             list(CAST(CAST(e.embedding[t.i] AS DOUBLE)
                                  + (CAST((e.vec_id * 31 + (t.i - 1)) % 7 AS DOUBLE) - 3.0)
                                    * 0.001 AS FLOAT) ORDER BY t.i) AS embedding
                      FROM embeddings e,
                           unnest(generate_series(1, len(e.embedding))) AS t(i)
                      GROUP BY e.vec_id)
                    SELECT
                      (SELECT COUNT(*) FROM sds_out s
                       JOIN twin a ON a.vec_id = s.drop_id
                       JOIN embeddings b ON b.vec_id = s.witness_id
                       WHERE list_cosine_similarity(a.embedding, b.embedding) < 0.8),
                      (SELECT COUNT(DISTINCT drop_id) FROM sds_out),
                      (SELECT COUNT(*) FROM embeddings)
                    """).fetchone()
                false_strikes, struck, n_batch = r
                recall = struck / max(n_batch, 1)
                ok = false_strikes == 0 and recall >= 0.9
                note = (f"false strikes = {false_strikes} (must be 0); "
                        f"strike recall = {recall:.3f} ({struck}/{n_batch}, "
                        f"floor 0.9)")
            elif name == "minhash_lsh_dedup":
                # est_jaccard graded against DuckDB-exact jaccard on
                # the emitted pairs (16 slots: 4-sigma-ish band), plus
                # planted-twin completeness at est = 1.0
                con.register("mh_out", got)
                r = con.execute("""
                    WITH corpus AS (SELECT doc_id, text FROM documents
                                    UNION ALL SELECT doc_id + 1000000, text FROM documents),
                    toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM corpus),
                    sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(l)-2),
                             i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]))) AS s
                           FROM toks WHERE len(l) >= 3),
                    sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
                    inter AS (SELECT a.doc_id id1, b.doc_id id2, COUNT(*) ni
                              FROM sh a JOIN sh b USING (s)
                              WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
                    SELECT max(abs(m.est_jaccard -
                             COALESCE(CAST(ni AS DOUBLE)/(s1.n + s2.n - ni), 0))) AS max_err
                    FROM mh_out m
                    LEFT JOIN inter ON inter.id1 = m.id1 AND inter.id2 = m.id2
                    JOIN sizes s1 ON s1.doc_id = m.id1
                    JOIN sizes s2 ON s2.doc_id = m.id2""").fetchone()
                max_err = r[0]
                eligible = con.execute(
                    "SELECT COUNT(*) FROM documents "
                    "WHERE len(string_split_regex(trim(text), '\\s+')) >= 3").fetchone()[0]
                twins = len(got[(got.id2 == got.id1 + 1000000) & (got.est_jaccard == 1.0)])
                ok = max_err <= 0.3 and twins == eligible
                note = (f"max |est - DuckDB-exact jaccard| = {max_err:.3f} (<= 0.3), "
                        f"twins {twins}/{eligible}")
            elif name == "simhash_dedup":
                eligible = con.execute(
                    "SELECT COUNT(*) FROM documents "
                    "WHERE len(string_split_regex(trim(text), '\\s+')) >= 1").fetchone()[0]
                twins = len(got[(got.id2 == got.id1 + 1000000) & (got.hamming == 0)])
                ok = twins == eligible
                note = f"planted twins at hamming 0: {twins}/{eligible}"
            elif name == "stream_near_dedup":
                eligible = con.execute(
                    "SELECT COUNT(*) FROM documents "
                    "WHERE len(string_split_regex(trim(text), '\\s+')) >= 3").fetchone()[0]
                twins = len(got[(got.id2 == got.id1 + 1000000) & (got.est_jaccard == 1.0)])
                ok = twins == eligible
                note = f"planted twins at est 1.0: {twins}/{eligible}"
            elif name == "approx_distinct":
                # HLL estimates graded against DuckDB's exact distinct
                # counts per group (Spark default rsd = 5%; 15% is 3x)
                con.register("ad_out", got)
                r = con.execute("""
                    WITH exact AS (
                      SELECT event_type, COUNT(DISTINCT user_id) AS du,
                             COUNT(*) AS ne
                      FROM events GROUP BY 1)
                    SELECT max(abs(a.approx_users - e.du) / CAST(e.du AS DOUBLE)),
                           max(CASE WHEN a.n_events <> e.ne THEN 1 ELSE 0 END)
                    FROM ad_out a JOIN exact e USING (event_type)""").fetchone()
                ok = r[0] <= 0.15 and r[1] == 0
                note = (f"max HLL relative error vs DuckDB exact = {r[0]:.4f} "
                        f"(<= 0.15); exact columns match: {r[1] == 0}")
            elif name == "approx_quantiles":
                # GK-sketch estimates graded against DuckDB's exact
                # rank bands: est must lie inside
                # [quantile_disc(q-2eps), quantile_disc(q+2eps)],
                # eps = 1/accuracy (registry accuracy 1000)
                bad = []
                for et, q, est, n in got[["event_type", "q", "est", "n"]
                                         ].itertuples(index=False):
                    # widen the band to at least ~1.5 rank positions so
                    # small groups (n*0.004 < 1 row) don't degenerate to
                    # an exact-value compare across the two engines'
                    # discrete-rank conventions
                    d = max(0.002, 1.5 / max(n, 1))
                    lo, hi, ne = con.execute(
                        "SELECT quantile_disc(value, ?), quantile_disc(value, ?),"
                        " COUNT(*) FROM events WHERE event_type = ?",
                        [max(0.0, q - d), min(1.0, q + d), et]).fetchone()
                    # all-NULL value group: both engines yield NULL/None
                    # estimates — band compare would TypeError and crash
                    # the whole gate; None==None bounds pass, any mixed
                    # None is a bad entry
                    if lo is None or hi is None or est is None:
                        if not (lo is None and hi is None and est is None) or n != ne:
                            bad.append((et, q, est, lo, hi, n, ne))
                    elif not (lo <= est <= hi) or n != ne:
                        bad.append((et, q, est, lo, hi, n, ne))
                ok = not bad
                note = (f"all {len(got)} estimates inside exact ±0.002-rank bands"
                        if ok else f"outside band: {bad[:3]}")
            elif name == "ann_lsh":
                # random 64-dim data has no cluster structure, so
                # absolute LSH recall is meaningless here; the
                # cross-engine signal is collision QUALITY — emitted
                # pairs' DuckDB-computed cosine must sit clearly above
                # the random-pair baseline (RecallSpec's margin)
                con.register("lsh_out", got[["query_id", "neighbor_id"]])
                em = con.execute("""
                    SELECT avg(list_cosine_similarity(a.embedding, b.embedding))
                    FROM lsh_out p
                    JOIN embeddings a ON a.vec_id = p.query_id
                    JOIN embeddings b ON b.vec_id = p.neighbor_id""").fetchone()[0]
                gm = con.execute("""
                    SELECT avg(list_cosine_similarity(a.embedding, b.embedding))
                    FROM embeddings a, embeddings b
                    WHERE a.vec_id % 7 = 0 AND b.vec_id % 5 = 0
                      AND a.vec_id <> b.vec_id""").fetchone()[0]
                ok = em >= gm + 0.05
                note = (f"emitted-pair mean cosine {em:.3f} vs random-pair "
                        f"baseline {gm:.3f} (margin 0.05)")
            if note is not None:
                print(f"  [{'RECALL' if ok else 'RECALL-FAIL'}] {name}: {note}")
            if not ok:
                n_fail += 1
            else:
                n_pass += 1
            continue
        try:
            exp = con.execute(materialized(name, oracle[name])).df()
        except Exception as e:
            print(f"  [ORACLE-ERR] {name}: {e}")
            n_fail += 1
            continue
        # TYPE gate: the driver's hash is type-sensitive (r7
        # compaction_plan HUGEINT, r8 minhash est_jaccard DECIMAL both
        # failed on type with identical values — pandas value-compare
        # below cannot see it). Compare DuckDB's canonical type of each
        # column on both sides: the Verify parquet re-read through
        # read_parquet vs DESCRIBE of the oracle SQL.
        try:
            st = dict(r[:2] for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{d}/*.parquet')").fetchall())
            ot = dict(r[:2] for r in con.execute(
                f"DESCRIBE {oracle[name]}").fetchall())
            # intersect the column sets: a column present on only one
            # side is a SCHEMA problem — let the dedicated check below
            # print both full lists instead of a confusing 'spark=None'
            tbad = [(c, st[c], ot[c]) for c in sorted(set(st) & set(ot))
                    if st[c] != ot[c]]
            if tbad:
                for c, a, b in tbad:
                    print(f"  [TYPE] {name}.{c}: spark={a} oracle={b}")
                n_fail += 1
                continue
        except Exception as ex:
            print(f"  [TYPE-ERR] {name}: {ex}")
            n_fail += 1
            continue
        g, e = norm(got), norm(exp)
        if sorted(g.columns) != sorted(e.columns):
            print(f"  [SCHEMA] {name}: spark={sorted(g.columns)} oracle={sorted(e.columns)}")
            n_fail += 1
            continue
        if len(g) != len(e):
            print(f"  [ROWS] {name}: spark={len(g)} oracle={len(e)}")
            n_fail += 1
            continue
        ok = True
        for c in g.columns:
            gv, ev = g[c], e[c]
            if pd.api.types.is_float_dtype(gv) or pd.api.types.is_float_dtype(ev):
                a = gv.astype(float).to_numpy()
                b = ev.astype(float).to_numpy()
                same = [(x == y) or (math.isnan(x) and math.isnan(y)) for x, y in zip(a, b)]
                if not all(same):
                    mx = max(abs(x - y) for x, y in zip(a, b)
                             if not (math.isnan(x) or math.isnan(y)))
                    print(f"  [VAL] {name}.{c}: max abs diff {mx:.3e}")
                    ok = False
            else:
                if not gv.equals(ev):
                    bad = (gv != ev)
                    i = bad.idxmax()
                    print(f"  [VAL] {name}.{c}: first diff @row{i}: spark={gv[i]!r} oracle={ev[i]!r}")
                    ok = False
        if ok:
            print(f"  [PASS] {name}: {len(g)} rows")
            n_pass += 1
        else:
            n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
