"""Seeded corpus generator for the graft end-to-end benchmark.

One seed gives byte-identical inputs. The corpus is what the reference
pipeline ingests: gzip'd JSON-lines batches named
``{source}_{date}_batch_{n}.jsonl.gz``, a small share of them corrupt
lines, about ``dup_rate`` planted near-duplicates, text drawn from a Zipf
vocabulary of several thousand words (so shingle and token work scales
with the corpus instead of saturating on a tiny word list), plus a
clustered ``embeddings.parquet``. Alongside the batches it writes the
ground truth the checks use: ``corpus/documents.parquet`` (exactly the
well-formed lines) and the serve workload's request and maintenance plan.
"""
import gzip
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.45, 0.15, 0.15, 0.15, 0.10]
N_SOURCES = 6
DIM = 64
N_CLUSTERS = 24
ZIPF_S = 1.05       # word-frequency exponent of the vocabulary
PII_RATE = 0.03     # share of docs given an email, URL or phone number
BATCH_ROWS = 400    # lines per jsonl.gz batch file

# The serve plan. A maintenance round is the issue's round: append one
# batch, delete seeded ids, probe once; rounds run after the read-only
# request loop, on their own indexes built from the first half of the
# corpus. The batch size and delete count are this benchmark's
# assumption: no reference workload gives them.
N_WARMUP = 4        # probes reach steady state after about 4 requests
N_REQUESTS = 400    # more than any read loop of up to 60 s serves
MAX_TERMS = 3       # "a few" Zipf tokens per BM25 query
MAINT_ROUNDS = 2
MAINT_BATCH = 40    # docs (and vectors) appended per round
MAINT_DELETES = 20  # live ids deleted per round


def _vocab(rng, size):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set()
    while len(words) < size:
        w = "".join(rng.choice(letters, rng.integers(3, 10)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def _pii(rng, i):
    kind = rng.integers(0, 3)
    if kind == 0:
        return f"contact user{i}@example.com"
    if kind == 1:
        return f"see https://site{i % 97}.example.org/page{i}"
    return f"call 555-{rng.integers(100, 999)}-{rng.integers(1000, 9999)}"


def docs(seed, n_docs, vocab_size, dup_rate):
    """(doc_id, text, lang, source, n_chars) rows, ids 0..n_docs-1."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, vocab_size)
    p = 1.0 / np.arange(1, vocab_size + 1) ** ZIPF_S
    p /= p.sum()
    rows = []
    for i in range(n_docs):
        if i > 20 and rng.random() < dup_rate:
            # near-duplicate of an earlier doc: ~3% of words swapped
            src = rows[rng.integers(0, i)][1].split(" ")
            flip = rng.random(len(src)) < 0.03
            for j in np.nonzero(flip)[0]:
                src[j] = vocab[rng.choice(vocab_size, p=p)]
            words = src
        else:
            words = list(vocab[rng.choice(vocab_size, size=rng.integers(30, 140), p=p)])
            if rng.random() < PII_RATE:
                words.insert(rng.integers(0, len(words)), _pii(rng, i))
        text = " ".join(words)
        rows.append((i, text, LANGS[rng.choice(5, p=LANG_P)],
                     f"src{rng.integers(0, N_SOURCES)}", len(text)))
    return rows


def embeddings(seed, n_vecs):
    rng = np.random.default_rng(seed + 7919)
    centers = rng.normal(size=(N_CLUSTERS, DIM)).astype(np.float32)
    lab = rng.integers(0, N_CLUSTERS, n_vecs)
    vecs = centers[lab] + 0.45 * rng.normal(size=(n_vecs, DIM)).astype(np.float32)
    return vecs.astype(np.float32), (lab % 4).astype(np.int32)


def write_parquet_docs(rows, path):
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([r[4] for r in rows], pa.int64()),
    }), path)


def write_parquet_vecs(vecs, labels, ids, path):
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), path)


def write_batches(rows, seed, out, corrupt_rate):
    """jsonl.gz batches per source; returns the number of corrupt lines."""
    rng = np.random.default_rng(seed + 104729)
    date = f"2024-{1 + seed % 12:02d}-{1 + seed % 28:02d}"
    by_src = {}
    for r in rows:
        by_src.setdefault(r[3], []).append(r)
    n_bad = 0
    os.makedirs(out, exist_ok=True)
    for src in sorted(by_src):
        part = by_src[src]
        for n, lo in enumerate(range(0, len(part), BATCH_ROWS)):
            lines = []
            for r in part[lo:lo + BATCH_ROWS]:
                line = json.dumps({"doc_id": r[0], "text": r[1], "lang": r[2],
                                   "source": r[3], "n_chars": r[4]})
                lines.append(line)
                if rng.random() < corrupt_rate:
                    # a torn copy: never valid JSON, never a document
                    lines.append(line[:int(rng.integers(5, len(line) * 4 // 5))])
                    n_bad += 1
            # mtime 0: the gzip header carries no write time
            with gzip.GzipFile(os.path.join(out, f"{src}_{date}_batch_{n}.jsonl.gz"),
                               "wb", mtime=0) as f:
                f.write(("\n".join(lines) + "\n").encode("utf-8"))
    return n_bad


def _query(rng, rows, vecs):
    """One hybrid request: 1..MAX_TERMS word-trigram tokens of a random
    doc, and a stored vector plus small noise (a near-neighbour probe)."""
    words = rows[rng.integers(0, len(rows))][1].split(" ")
    toks = set()
    for _ in range(rng.integers(1, MAX_TERMS + 1)):
        i = int(rng.integers(0, len(words) - 2))
        toks.add(" ".join(words[i:i + 3]))
    v = vecs[rng.integers(0, len(vecs))] + 0.1 * rng.normal(size=vecs.shape[1])
    return sorted(toks), v.astype(np.float32)


def _vec_str(v):
    return ",".join(repr(float(x)) for x in v)


def generate(out, workload, seed, n_docs, n_vecs=0, vocab=6000, dup_rate=0.05,
             corrupt_rate=0.004):
    """Write the inputs of one run of `workload` under `out`; return the
    ground truth the checks need (the generator's record, never the
    program's). The same seed gives the same inputs.

    curate: `n_docs` docs as jsonl.gz batches with torn lines.
    serve:  `n_docs` docs as documents.parquet and the first `n_vecs` of
            their vectors as embeddings.parquet (vec_id = doc_id), the
            maintenance prefix and batches, and the request plan:
            warm-up requests, the read loop's requests, then one line
            per maintenance round (its batch, seeded ids to delete from
            the live prefix + appended docs, a probe).
    """
    n_total = n_docs + (MAINT_ROUNDS * MAINT_BATCH if workload == "serve" else 0)
    rows = docs(seed, n_total, vocab_size=vocab, dup_rate=dup_rate)
    corpus = os.path.join(out, "corpus")
    os.makedirs(corpus, exist_ok=True)
    write_parquet_docs(rows[:n_docs], os.path.join(corpus, "documents.parquet"))
    truth = {"n_docs": n_docs}
    if workload == "curate":
        truth["n_bad"] = write_batches(rows, seed, os.path.join(out, "batches"),
                                       corrupt_rate)
        return truth

    vecs, labels = embeddings(seed, n_total)
    ids = np.arange(n_total, dtype=np.int64)
    has_vec = np.zeros(n_total, dtype=bool)
    has_vec[:n_vecs] = has_vec[n_docs:] = True
    write_parquet_vecs(vecs[:n_vecs], labels[:n_vecs], ids[:n_vecs],
                       os.path.join(corpus, "embeddings.parquet"))
    n_prefix = n_docs // 2
    prefix = os.path.join(out, "maint", "prefix")
    os.makedirs(prefix, exist_ok=True)
    write_parquet_docs(rows[:n_prefix], os.path.join(prefix, "documents.parquet"))
    write_parquet_vecs(vecs[:min(n_prefix, n_vecs)], labels[:min(n_prefix, n_vecs)],
                       ids[:min(n_prefix, n_vecs)], os.path.join(prefix, "embeddings.parquet"))
    truth.update(vecs=vecs, has_vec=has_vec, n_vecs=n_vecs, n_prefix=n_prefix,
                 queries={}, maint=[])

    rng = np.random.default_rng(seed + 31)
    corpus_rows, corpus_vecs = rows[:n_docs], vecs[:n_vecs]
    plan = []
    for i in range(N_WARMUP):
        toks, v = _query(rng, corpus_rows, corpus_vecs)
        plan.append(["W", str(i), "|".join(toks), _vec_str(v)])
    for qid in range(N_REQUESTS):
        toks, v = _query(rng, corpus_rows, corpus_vecs)
        truth["queries"][qid] = (toks, v)
        plan.append(["S", str(qid), "|".join(toks), _vec_str(v)])
    live = list(range(n_prefix))
    for n in range(MAINT_ROUNDS):
        lo, hi = n_docs + n * MAINT_BATCH, n_docs + (n + 1) * MAINT_BATCH
        b = os.path.join(out, "maint", f"batch_{n}")
        os.makedirs(b, exist_ok=True)
        write_parquet_docs(rows[lo:hi], os.path.join(b, "documents.parquet"))
        write_parquet_vecs(vecs[lo:hi], labels[lo:hi], ids[lo:hi],
                           os.path.join(b, "embeddings.parquet"))
        live.extend(range(lo, hi))
        pick = set(rng.choice(len(live), MAINT_DELETES, replace=False).tolist())
        dead = sorted(live[i] for i in pick)
        live = [x for i, x in enumerate(live) if i not in pick]
        toks, v = _query(rng, [rows[i] for i in live], vecs[[x for x in live if has_vec[x]]])
        truth["maint"].append({"lo": lo, "hi": hi, "dead": dead, "toks": toks, "vec": v})
        plan.append(["M", str(n), ",".join(map(str, dead)), "|".join(toks), _vec_str(v)])
    with open(os.path.join(out, "plan.tsv"), "w", encoding="utf-8") as f:
        for p in plan:
            f.write("\t".join(p) + "\n")
    return truth
