"""Correctness checks of one benchmark run, made apart from the program.

`load(workload, run_dir)` reads the run's inputs and the outputs the
benchmark JVM dumped; `check(workload, data)` returns a list of
failures (empty when every output is right). The checks compare
against computations done here (brute-force dense re-ranking, a plain
BM25, the reference chunking loop), against the DuckDB twin of each
registered query (`SparkEntry.oracleSql`), or against properties the
method must have; never against a stored copy of earlier output.
"""
import hashlib
import json
import math
import os
from decimal import Decimal, ROUND_HALF_UP

import duckdb
import pyarrow.parquet as pq

EMBED_DIM = 16          # graft.operators.Ingest.EmbedDim
CHUNK_SIZE, CHUNK_OVERLAP = 120, 24   # Ingest.ChunkSize / ChunkOverlap
N_PROBE, K = 2, 5       # the benchmark's dense search parameters
BM25_K1, BM25_B = 1.2, 0.75
TOL = 1.5e-4            # scores are round4 values summed in engine order


def jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def tsv(path):
    with open(path) as f:
        return [line.rstrip("\n").split("\t") for line in f if line.strip()]


def docs_of(path):
    t = pq.read_table(path, columns=["doc_id", "text"]).to_pydict()
    return dict(zip(t["doc_id"], t["text"]))


def load(workload, run_dir):
    inp, out = f"{run_dir}/input", f"{run_dir}/out"
    d = {"input": inp}
    if workload == "ask":
        d["docs"] = docs_of(f"{inp}/documents.parquet")
        d["requests"] = tsv(f"{inp}/requests.tsv")
        for part in ("dense", "lexical", "admin", "snapshots", "readback",
                     "probes", "chunks"):
            d[part] = jsonl(f"{out}/{part}.jsonl")
        d["applied"] = json.load(open(f"{out}/applied.json"))
    else:
        d["curate"] = jsonl(f"{out}/curate.jsonl")
    return d


def round4(x):
    """Spark's round(x, 4): HALF_UP on the double's decimal string."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def embed(text):
    """The hashed bag-of-words embedding, as documented in Ingest.docEmbed:
    md5 of each token picks the dimension (first 4 hex chars mod EMBED_DIM)
    and the sign (5th hex char even: +1), counts are L2-normalized and
    rounded to 4 places."""
    raw = {}
    for tok in text.split(" "):
        h = hashlib.md5(tok.encode()).hexdigest()
        dim = int(h[0:4], 16) % EMBED_DIM
        raw[dim] = raw.get(dim, 0) + (1 if int(h[4], 16) % 2 == 0 else -1)
    nrm = math.sqrt(sum(v * v for v in raw.values())) or 1e-10
    return {dim: round4(v / nrm) for dim, v in raw.items()}


def topk_errors(label, got, expected, k, tol=TOL):
    """`got` is a ranked [(id, score)] list; `expected` maps every
    candidate id to its score computed here. The list must hold the
    best min(k, #candidates) candidates with their scores, ranked by
    score descending, ties by id ascending."""
    errs = []
    ids = [g[0] for g in got]
    if len(set(ids)) != len(ids):
        errs.append(f"{label}: repeated ids {ids}")
    if len(got) != min(k, len(expected)):
        errs.append(f"{label}: {len(got)} hits, expected {min(k, len(expected))}")
    for doc, score in got:
        if doc not in expected:
            errs.append(f"{label}: {doc} is not a candidate")
        elif abs(expected[doc] - score) > tol:
            errs.append(f"{label}: {doc} scored {score}, recomputed {expected[doc]}")
    for (d1, s1), (d2, s2) in zip(got, got[1:]):
        if s1 < s2 or (s1 == s2 and d1 > d2):
            errs.append(f"{label}: rank order broken at {d1} ({s1}) / {d2} ({s2})")
    if got and len(got) == k:
        left = [s for doc, s in expected.items() if doc not in set(ids)]
        if left and max(left) > got[-1][1] + tol:
            errs.append(f"{label}: a candidate scoring {max(left)} was left out "
                        f"(k-th hit scored {got[-1][1]})")
    return errs


def dense_expected(text, emb):
    """Brute-force re-ranking of the probed buckets' rows."""
    q = embed(text)
    probes = [d for d, _ in sorted(q.items(), key=lambda kv: (-abs(kv[1]), kv[0]))[:N_PROBE]]
    exp = {}
    for doc, (bucket, dims) in emb.items():
        if bucket in probes:
            common = [dim for dim in dims if dim in q]
            if common:
                exp[doc] = sum(q[dim] * dims[dim] for dim in common)
    return exp


def embeddings_by_doc(rows):
    emb = {}
    for doc, dim, weight, bucket in rows:
        emb.setdefault(doc, (bucket, {}))[1][dim] = weight
    return emb


def self_hit_errors(label, rows, doc):
    """A question made from a document's own text must rank it first
    (an exact score tie is broken by id, so a tied document may precede)."""
    hit = [r for r in rows if r[0] == doc]
    if not rows or not hit or hit[0][1] != rows[0][1]:
        return [f"{label}: document {doc} is not the top hit {rows[:2]}"]
    return []


def bm25_expected(text, docs):
    """Plain BM25 with the log-free idf (N - df + 0.5) / (df + 0.5) the
    program documents, per-document terms folded in token order."""
    toks = {d: t.split(" ") for d, t in docs.items() if t is not None}
    n = len(toks)
    avgdl = float(sum(len(t) for t in toks.values())) / n
    q = set(text.split(" "))
    df = {t: 0 for t in q}
    for ts in toks.values():
        for t in q.intersection(ts):
            df[t] += 1
    exp = {}
    for d, ts in toks.items():
        terms = []
        for t in sorted(q.intersection(ts)):
            tf = ts.count(t)
            idf = ((n - df[t]) + 0.5) / (df[t] + 0.5)
            norm = (tf * (BM25_K1 + 1.0)) / (tf + BM25_K1 * ((1.0 - BM25_B) + (BM25_B * len(ts)) / avgdl))
            terms.append(idf * norm)
        if terms:
            acc = 0.0
            for x in terms:
                acc = acc + x
            exp[d] = round4(acc)
    return exp


def norm_cell(x):
    if isinstance(x, bool) or x is None or isinstance(x, str):
        return x
    if isinstance(x, (list, tuple)):
        return tuple(norm_cell(v) for v in x)
    if isinstance(x, dict):
        return tuple(sorted((k, norm_cell(v)) for k, v in x.items()))
    x = float(x) if isinstance(x, Decimal) else x
    if isinstance(x, float) and x.is_integer() and abs(x) < 2 ** 53:
        return int(x)
    return x


def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in idx) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))


def same(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def oracle_errors(label, con, rec):
    """The rows must equal the DuckDB twin's, as sets of rows over sorted columns."""
    res = con.sql(rec["sql"])
    e_cols, e_rows = canon(res.fetchall(), [c[0] for c in res.description])
    g_cols, g_rows = canon(rec["rows"], rec["columns"])
    if g_cols != e_cols:
        return [f"{label}: columns {g_cols} vs oracle {e_cols}"]
    if len(g_rows) != len(e_rows):
        return [f"{label}: {len(g_rows)} rows vs oracle {len(e_rows)}"]
    for g, e in zip(g_rows, e_rows):
        if not same(g, e):
            return [f"{label}: row {g} vs oracle {e}"]
    return []


def duck(dir_):
    con = duckdb.connect()
    con.sql("SET threads=2")
    for t in ("documents", "events", "orders"):
        p = f"{dir_}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def chunk_text(text):
    """The reference chunking loop (Ingest.chunksOf / TextFunctions.chunks)."""
    out, stride, n = [], CHUNK_SIZE - CHUNK_OVERLAP, len(text)
    for s in range(0, n, stride):
        if s != 0 and s + CHUNK_OVERLAP >= n:
            break
        c = text[s:s + CHUNK_SIZE].strip(" ")
        if c:
            out.append(c)
    return out


def check_ask(d):
    errs = []
    reqs = d["requests"]
    emb = [embeddings_by_doc(rows) for rows in d["snapshots"]]
    for rec in d["dense"]:
        text, src = reqs[rec["req"]][2], int(reqs[rec["req"]][3])
        rows = [(r[0], r[1]) for r in rec["rows"]]
        label = f"ask dense #{rec['req']}"
        errs += topk_errors(label, rows, dense_expected(text, emb[rec["version"]]), K)
        if src >= 0:
            errs += self_hit_errors(label, rows, src)
    for rec in d["lexical"]:
        rows = [(r[1], r[2]) for r in rec["rows"]]
        if [r[3] for r in rec["rows"]] != list(range(1, len(rows) + 1)):
            errs.append(f"ask bm25 #{rec['req']}: ranks {[r[3] for r in rec['rows']]}")
        errs += topk_errors(f"ask bm25 #{rec['req']}", rows,
                            bm25_expected(reqs[rec["req"]][2], d["docs"]), K)
    con = duck(d["input"])
    for rec in d["admin"]:
        if rec["distinct_hashes"] != 1:
            errs.append(f"ask admin {rec['query']}: {rec['distinct_hashes']} different outputs")
        errs += oracle_errors(f"ask admin {rec['query']}", con, rec)
    # the write path: read-backs, compaction, and the final index content
    text = dict(d["docs"])
    for b in d["applied"]:
        t = pq.read_table(f"{d['input']}/batches/b{b:04d}.parquet").to_pydict()
        text.update(zip(t["doc_id"], t["text"]))
    for rec in d["readback"]:
        errs += self_hit_errors(f"ask read-back of batch {rec['batch']}",
                                [(r[0], r[1]) for r in rec["rows"]], rec["doc"])
    for rec in d["probes"]:
        if rec["before"] != rec["after"]:
            errs.append(f"ask: compaction at op {rec['op']} changed probe results")
    if sorted(emb[-1]) != sorted(text):
        errs.append("ask: the index's embeddings do not cover exactly the current corpus")
    want = sorted((doc, i, c) for doc, t in text.items() for i, c in enumerate(chunk_text(t)))
    got = sorted(tuple(r) for r in d["chunks"])
    if got != want:
        extra, missing = set(got) - set(want), set(want) - set(got)
        errs.append(f"ask: index chunks differ from the newest texts "
                    f"({len(missing)} missing, {len(extra)} unexpected, "
                    f"{len(got)} vs {len(want)} rows)")
    if not (d["dense"] and d["admin"] and d["readback"] and d["probes"]):
        errs.append("ask: a request kind was never checked")
    return errs


def check_curate(d):
    errs, cons, tokens = [], {}, {}
    for rec in d["curate"]:
        dir_ = f"{d['input']}/shards/s{rec['shard']:03d}"
        if dir_ not in cons:
            cons[dir_] = duck(dir_)
            tokens[dir_] = sum(len(t.split(" ")) for t in
                               docs_of(f"{dir_}/documents.parquet").values())
        label = f"curate shard {rec['shard']} {rec['query']}"
        errs += oracle_errors(label, cons[dir_], rec)
        if rec["query"] == "sequence_pack":
            cols = rec["columns"]
            ids = [r[cols.index("doc_id")] for r in rec["rows"]]
            n_tok = sum(r[cols.index("n_tok")] for r in rec["rows"])
            if n_tok != tokens[dir_] or len(set(ids)) != len(ids):
                errs.append(f"{label}: packs {n_tok} tokens over {len(ids)} rows, "
                            f"the shard has {tokens[dir_]} tokens")
    if not d["curate"]:
        errs.append("curate: no shard was checked")
    return errs


def check(workload, data):
    return {"ask": check_ask, "curate": check_curate}[workload](data)
