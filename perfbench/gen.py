"""Seeded input generator for the graft benchmark.

Every input a run reads is made here, from the workload name and the
seed alone, before the benchmark JVM starts: the program never sees the
seed, only the files. The corpus follows the profile of the sf0.1
`documents` table (its 30-word vocabulary plus the rare `dup` marker,
10 to 100 words per document, five languages with English about twice
as common as each of the others, twenty sources). `events` and
`orders` follow the sf0.1 schemas, scaled down.

Document ids follow the ScaleGen `documents` layout: every id sits below
the dedup copy offset (100000) inside its own 10M block, so the
dedup/curate queries' injected copies (+100000, +200000) never collide
with a real document.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
ADMIN = ["dashboard_stats", "session_stats", "live_users", "activity_summary",
         "contribution_analytics"]
BLOCK = 10_000_000

# sizes (documents per corpus / batch / shard); see perfbench/README.md
ASK_DOCS = 1000
ASK_EVENTS = 20000
ASK_ORDERS = 15000
ASK_BATCH = 20      # 10 new documents and 10 rewrites per upsert
ASK_ROUNDS = 8
ASK_PROBES = 2
CURATE_DOCS = 200
CURATE_SHARDS = 12

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])


def rng_for(seed, workload):
    tag = sum(ord(c) * 131 ** i for i, c in enumerate(workload)) % (2 ** 31)
    return np.random.default_rng([seed, tag])


def random_text(rng):
    n = int(rng.integers(10, 101))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def make_corpus(rng, n, id_base=0):
    """n documents; about 0.3% exact copies and 1% near copies (one
    word swapped for `dup`) of an earlier document. Returns the rows and
    the ids of documents that are neither copies nor copied."""
    texts, copied = [], set()
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.003:
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            copied.update((i, j))
        elif i > 10 and r < 0.013:
            j = int(rng.integers(0, i))
            words = texts[j].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
            copied.update((i, j))
        else:
            texts.append(random_text(rng))
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    srcs = rng.integers(0, 20, n)
    rows = [(id_base + i, t, LANGS[langs[i]], f"src{srcs[i]}", len(t))
            for i, t in enumerate(texts)]
    unique = [id_base + i for i in range(n) if i not in copied]
    return rows, unique


def write_docs(path, rows):
    cols = list(zip(*rows))
    pq.write_table(pa.table([pa.array(c, type=f.type) for c, f in
                             zip(cols, DOC_SCHEMA)], schema=DOC_SCHEMA), path)


def write_events(path, rng, n):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10 ** 6, n))
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 300, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.random(n) * 560.0, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }), path)


def write_orders(path, rng, n):
    start = np.datetime64("1995-01-01T00:00:00", "us")
    days = rng.integers(0, 2404, n).astype("timedelta64[D]")
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "o_orderstatus": pa.array([("O", "P", "F")[i] for i in rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(1000.0 + rng.random(n) * 499000.0, 2)),
        "o_orderdate": pa.array(start + days.astype("timedelta64[us]")),
        "o_orderpriority": pa.array([("1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW")[i]
                                     for i in rng.integers(0, 5, n)]),
    }), path)


def tsv(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write("\t".join(str(x) for x in r) + "\n")


def gen_ask(rng, d):
    """The `ask` inputs: a corpus, the dashboard tables, upsert batches and
    the request stream. The stream is a warm-up segment (every kind of
    call, each admin query twice, five questions), followed by the timed
    rounds. A round is six requests in a fixed order: question, question,
    admin, question, question, and an upsert that is read back and then
    compacts and vacuums the index. Admin requests cycle through the
    five dashboard queries. Questions alternate between a document's
    verbatim text (which must rank that document first) and a short
    keyword question.

    The corpus and the upsert batches come from a fixed seed, the same
    for every run; the seed picks the
    dashboard tables, the questions, the probe texts and the read-back
    documents. Which of the index's write directories a vacuum can
    reclaim depends on how the corpus and the batches fall into
    partitions and files, and disk_bytes_per_text_byte jumps by a whole
    write directory between corpora; a fixed index history keeps that
    figure comparable from run to run."""
    fixed = rng_for(0, "ask-index")
    rows, unique = make_corpus(fixed, ASK_DOCS)
    write_docs(f"{d}/documents.parquet", rows)
    write_events(f"{d}/events.parquet", rng, ASK_EVENTS)
    write_orders(f"{d}/orders.parquet", rng, ASK_ORDERS)
    os.makedirs(f"{d}/batches")
    text = {r[0]: r[1] for r in rows}
    askable = list(unique)          # unique documents not rewritten yet
    state = {"next_id": ASK_DOCS, "batch": 0, "verbatim": True, "admin": -1}

    def question(rnd):
        state["verbatim"] = not state["verbatim"]
        if not state["verbatim"]:
            doc = askable[int(rng.integers(0, len(askable)))]
            return (rnd, "q", text[doc], doc)
        n = int(rng.integers(3, 9))
        return (rnd, "q", " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)), -1)

    def admin(rnd):
        state["admin"] += 1
        return (rnd, "admin", ADMIN[state["admin"] % len(ADMIN)])

    def upsert(rnd):
        b = state["batch"]
        state["batch"] += 1
        ids = list(range(state["next_id"], state["next_id"] + ASK_BATCH // 2))
        state["next_id"] += len(ids)
        old = sorted(text)
        ids += [old[int(i)] for i in
                fixed.choice(len(old), ASK_BATCH - len(ids), replace=False)]
        batch = [(i, random_text(fixed)) for i in ids]
        for i, t in batch:
            text[i] = t
            if i in askable:
                askable.remove(i)
        pq.write_table(pa.table({
            "doc_id": pa.array([i for i, _ in batch], type=pa.int64()),
            "text": pa.array([t for _, t in batch])}),
            f"{d}/batches/b{b:04d}.parquet")
        back = batch[int(rng.integers(0, len(batch)))]
        return (rnd, "upsert", b, back[0], back[1],
                sum(len(t.encode()) for t in text.values()))

    probes = [text[unique[int(i)]] for i in
              rng.choice(len(unique), ASK_PROBES, replace=False)]
    def round_(rnd):
        return [question(rnd), question(rnd), admin(rnd), question(rnd),
                question(rnd), upsert(rnd)]

    # warm-up (round -1): every call twice (each admin query included),
    # with extra questions, the calls whose JIT warm-up is slowest
    admins = [admin(-1) for _ in range(2 * len(ADMIN))]
    reqs = ([question(-1), question(-1), upsert(-1)] + admins[:len(ADMIN)] +
            [question(-1), question(-1)] + admins[len(ADMIN):] + [question(-1)])
    for rnd in range(ASK_ROUNDS):
        reqs += round_(rnd)
    tsv(f"{d}/requests.tsv", reqs)
    tsv(f"{d}/probes.tsv", [(p,) for p in probes])
    return sum(len(r[1].encode()) for r in rows)


def gen_curate(rng, d):
    meta = []
    for s in range(CURATE_SHARDS):
        rows, _ = make_corpus(rng, CURATE_DOCS, id_base=s * BLOCK)
        sd = f"{d}/shards/s{s:03d}"
        os.makedirs(sd)
        write_docs(f"{sd}/documents.parquet", rows)
        meta.append((s, sd, sum(len(r[1].encode()) for r in rows)))
    tsv(f"{d}/shards.tsv", meta)
    return meta[0][2]


def generate(workload, seed, d):
    """Write the workload's inputs under d (which must not exist yet)."""
    os.makedirs(d)
    rng = rng_for(seed, workload)
    text_bytes = {"ask": gen_ask, "curate": gen_curate}[workload](rng, d)
    with open(f"{d}/inputs.json", "w") as f:
        json.dump({"workload": workload, "seed": seed,
                   "text_bytes": text_bytes}, f)
