"""Seeded input generator for the pipeline benchmark.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical parquet files, and every seed writes tables of the same
shape and size. The tables follow the schemas graft reads (`events`,
`orders`, `nation`, `region`, `documents`, `embeddings`). Their value
distributions are those measured on the sf0.1 test tables (the figures
are noted at each constant); the sizes are sf0.1's, except `events`,
which is ten times sf0.1's 100,000 rows, as a 10x replica of sf0.1 has
(user ids offset per replica, so ten times the users). The generator
reproduces those distributions from a seed instead of reading the test
tables, so the benchmark needs nothing outside its own checkout.
"""

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. Changing one changes what every metric means:
# treat an edit here as a new benchmark, not a tuning knob.
EVENTS = 1_000_000      # sf0.1: 100,000 events; elt_star reads a 10x replica
WARMUP_EVENTS = 100_000  # events in the elt_star warm-up input
USERS = 15_000          # sf0.1: 1,500 users (ids 0..1499), times ten
ORDERS = 150_000        # sf0.1: 150,000 orders
CUSTOMERS = 15_000      # sf0.1: o_custkey 0..14999
DOCS = 5_000            # sf0.1: 5,000 documents, before the held-out cut
HELD_OUT = 300          # held-out documents, spread over the increments
INCREMENTS = 3          # corpusUpsert calls per iteration
COPIES = 40             # verbatim + near copies per increment
VECTORS = 2_000         # sf0.1: 2,000 embeddings
BUILD_SHARE = 0.6       # share of vectors in the initial build
UPSERT_BATCHES = 2      # ivfPqUpsertBatch calls per iteration
DIM = 64                # sf0.1: 64-dim unit vectors, N(0, 1/64) components

# sf0.1 documents: 10-100 words drawn uniformly from these 30, 44-577
# characters (mean 297)
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
# sf0.1: en 2059, de 702, es 744, fr 742, zh 753 of 5,000
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
# sf0.1: the five types each near 20,000 of 100,000
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PROPS = np.array([f'{{"k": {k}}}' for k in range(100)])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

WORKLOADS = ("elt_star", "corpus_refresh", "index_serve")
_SALT = {"elt_star": 1, "corpus_refresh": 2, "index_serve": 3}


def _write(out, name, table):
    path = os.path.join(out, f"{name}.parquet")
    pq.write_table(table, path, compression="snappy")
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _events(rng, n):
    # sf0.1: ts uniform over 2024-01-01..2024-01-30, value exponential with
    # mean 49.9 (sd 49.6, rounded to cents), props {"k": 0..99}
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, n))
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array(PROPS[rng.integers(0, 100, n)]),
    })


def _orders(rng, n):
    # sf0.1: dates uniform over 1995-01-01..2001-08-01, prices uniform over
    # 1,000-500,000, status and priority uniform
    day0 = np.datetime64("1995-01-01", "D").astype(np.int64)
    days = day0 + rng.integers(0, 2405, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, CUSTOMERS, n, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n), 2)),
        "o_orderdate": pa.array((days * 86_400_000_000).astype("datetime64[us]"),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n)]),
    })


def _nation_region():
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    return nation, region


def _text(rng):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), int(rng.integers(10, 101))))


def _documents(rng, n):
    texts = [_text(rng) for _ in range(n)]
    # planted duplicates, as in sf0.1 (4,992 distinct texts of 5,000, and
    # 255 "dup" markers): n/600 verbatim copies and n/20 near copies (an
    # earlier text plus a marker word)
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": np.array([f"src{i % 20}" for i in range(n)]),
    }


def _doc_table(d, idx):
    texts = [d["text"][i] for i in idx]
    return pa.table({
        "doc_id": pa.array(d["doc_id"][idx]),
        "text": pa.array(texts),
        "lang": pa.array(d["lang"][idx]),
        "source": pa.array(d["source"][idx]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _corpus(rng, out):
    d = _documents(rng, DOCS)
    held = np.sort(rng.choice(DOCS, HELD_OUT, replace=False))
    base = np.setdiff1d(np.arange(DOCS), held)
    info = {"documents": _write(out, "documents", _doc_table(d, base))}
    next_id = DOCS + 1000
    for k, part in enumerate(np.array_split(held, INCREMENTS)):
        ids, texts, langs, sources = [], [], [], []
        for i in part:
            ids.append(int(d["doc_id"][i])); texts.append(d["text"][i])
            langs.append(str(d["lang"][i])); sources.append(str(d["source"][i]))
        # copies of committed documents: half verbatim (exact-hash probe),
        # half with the first word replaced (near-duplicate index probe)
        for j, i in enumerate(rng.choice(base, COPIES, replace=False)):
            words = d["text"][i].split(" ")
            text = d["text"][i] if j % 2 == 0 else " ".join(["zzzqx"] + words[1:])
            ids.append(next_id); texts.append(text)
            langs.append(str(d["lang"][i])); sources.append("src_upsert")
            next_id += 1
        inc = pa.table({"doc_id": pa.array(ids, pa.int64()), "source": pa.array(sources),
                        "lang": pa.array(langs), "text": pa.array(texts)})
        info[f"inc_{k}"] = _write(out, f"inc_{k}", inc)
    return info


def _embeddings(rng, out):
    v = rng.standard_normal((VECTORS, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), DIM).cast(pa.list_(pa.float32()))
    table = pa.table({
        "vec_id": pa.array(np.arange(VECTORS, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, VECTORS).astype(np.int32)),
    })
    info = {"embeddings": _write(out, "embeddings", table)}
    order = rng.permutation(VECTORS)
    n_build = int(VECTORS * BUILD_SHARE)
    batch = np.empty(VECTORS, dtype=np.int32)
    batch[order[:n_build]] = 0
    for b, part in enumerate(np.array_split(order[n_build:], UPSERT_BATCHES)):
        batch[part] = b + 1
    info["batches"] = _write(out, "batches", pa.table({
        "vec_id": pa.array(np.arange(VECTORS, dtype=np.int64)),
        "batch": pa.array(batch)}))
    return info


def shape_key():
    """Short hash of the size constants: inputs cached under another key
    were made for another shape and are never reused."""
    sizes = (EVENTS, WARMUP_EVENTS, USERS, ORDERS, CUSTOMERS, DOCS, HELD_OUT, INCREMENTS, COPIES, VECTORS, BUILD_SHARE,
             UPSERT_BATCHES, DIM)
    return hashlib.sha1(repr(sizes).encode()).hexdigest()[:8]


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` into `out` and return each
    table's row and byte counts. A finished directory is reused: it carries
    a `done.json` marker."""
    marker = os.path.join(out, "done.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return json.load(f)
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    rng = np.random.default_rng([_SALT[workload], seed & (2 ** 64 - 1)])
    if workload == "elt_star":
        nation, region = _nation_region()
        tables = {"events": _events(rng, EVENTS), "orders": _orders(rng, ORDERS),
                  "nation": nation, "region": region}
        info = {name: _write(tmp, name, t) for name, t in tables.items()}
        # the warm-up iterations read a tenth of the events: they run the
        # same plans, so JIT and codegen warm up without paying for a
        # full-size cold iteration
        warm = os.path.join(tmp, "warmup")
        os.makedirs(warm)
        tables["events"] = _events(np.random.default_rng([_SALT[workload], seed & (2 ** 64 - 1), 1]),
                                   WARMUP_EVENTS)
        warmup = {name: _write(warm, name, t) for name, t in tables.items()}
    elif workload == "corpus_refresh":
        info = _corpus(rng, tmp)
    else:
        info = _embeddings(rng, tmp)
    result = {"tables": info}
    if workload == "elt_star":
        result["warmup_tables"] = warmup
    with open(os.path.join(tmp, "done.json"), "w") as f:
        json.dump(result, f)
    if os.path.exists(out):
        shutil.rmtree(out)
    os.replace(tmp, out)
    return result
