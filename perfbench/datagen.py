"""Seeded input tables for the benchmark.

`generate(out_dir, sf, seed)` writes the engine's fixture schema (the
TPC-H-ish star tables, `events`, `documents`, `embeddings`) as one
parquet file per table. Sizes scale with `sf` the way the shipped
fixtures do (sf 0.01: 60k lineitem rows, 10k events, 500 documents);
value domains mirror them (31-word vocabulary, 20 sources, weighted
language tags, unit-norm 64-dim embeddings, planted exact and near
duplicates), so every query pack runs on the output without failing.
The same (sf, seed) always gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "zh", "fr", "es"]
LANG_W = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64
EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86400 * 1_000_000


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _dates(rng, n, first, last):
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * DAY_US, pa.timestamp("us"))


def documents(rng, n, first_id=0):
    """`n` documents with ids from `first_id`; ~1.6 exact and ~1.4
    near duplicates per 1000 documents, as in the shipped corpus."""
    lens = rng.integers(8, 111, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    sources = [f"src{i % 20}" for i in range(first_id, first_id + n)]
    for _ in range(max(1, n * 16 // 10000)):
        a, b = rng.integers(0, n, 2)
        texts[b] = texts[a]
    for _ in range(max(1, n * 14 // 10000)):
        a, b = rng.integers(0, n, 2)
        toks = texts[a].split(" ")
        for _ in range(max(1, len(toks) // 20)):
            toks[rng.integers(0, len(toks))] = VOCAB[rng.integers(0, len(VOCAB))]
        texts[b] = " ".join(toks)
        sources[b] = sources[a]
    langs = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_W)]
    return {
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array(sources),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def embeddings(rng, n, first_id=0):
    """`n` unit-norm vectors with ids from `first_id`; a few planted
    near-identical pairs (cosine ~0.99)."""
    vecs = rng.standard_normal((n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    for _ in range(max(1, n * 7 // 10000)):
        a, b = rng.integers(0, n, 2)
        v = vecs[a] + 0.1 * rng.standard_normal(DIM)
        vecs[b] = v / np.linalg.norm(v)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return {
        "vec_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * DIM + 1, DIM), pa.int32()), flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32), pa.int32()),
    }


def events(rng, n, n_users, first_id=0, first_day=0, days=30):
    """`n` events over `days` days from `first_day` (days since
    2024-01-01), ordered by time, ids from `first_id`."""
    ts = np.sort(rng.integers(0, days * DAY_US, n)) + \
        EPOCH_2024_US + first_day * DAY_US
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, 5, n)].tolist()),
        "value": pa.array(np.round(rng.exponential(40.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def sizes(sf):
    """Row counts of the tables `generate` writes at scale `sf`."""
    return {"customer": int(150000 * sf), "supplier": int(10000 * sf),
            "part": int(200000 * sf), "orders": int(1500000 * sf),
            "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
            "documents": int(50000 * sf), "embeddings": 500 if sf <= 0.01 else 2000}


# The ingest pool. Batch shapes follow the engine's own append callers:
#  - documents: a third of the documents table per LexIndex append, the
#    unit in which RetrievalQueries.lexMaintIndexTable builds and grows
#    the x105/x106 maintenance index;
#  - vectors: half of the embeddings table per IvfIndex append, as
#    VectorQueries.syncScenario (x93) appends the second half;
#  - events: one day at the events table's rate, the size of MaintBench's
#    hot-day append, each batch a new day.
FIRST_DOC_ID = 1_000_000
FIRST_VEC_ID = 1_000_000
FIRST_EVENT_ID = 10_000_000
INGEST_USERS = 150
FIRST_INGEST_DAY = 31  # 2024-02-01
SLICE_US = DAY_US


def ingest(out_dir, sf, seed, n_batches):
    """`n_batches` append batches per store kind under `out_dir`, and
    `layout.properties`, which the harness reads the batch ids and time
    slices from: documents tagged with the batch's marker token `m<b>`,
    vectors, and events in the batch's own day whose first rows belong
    to user `b % 150` (the read-your-write probe's key)."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(sf)
    layout = {"docs_per_batch": n["documents"] // 3,
              "vecs_per_batch": n["embeddings"] // 2,
              "events_per_batch": n["events"] // 30,
              "first_doc_id": FIRST_DOC_ID, "first_vec_id": FIRST_VEC_ID,
              "first_event_id": FIRST_EVENT_ID, "users": INGEST_USERS,
              "first_ts_us": EPOCH_2024_US + FIRST_INGEST_DAY * DAY_US,
              "slice_us": SLICE_US, "batches": n_batches}
    rng = np.random.default_rng([seed, 7])
    for b in range(n_batches):
        nd, nv, ne = (layout["docs_per_batch"], layout["vecs_per_batch"],
                      layout["events_per_batch"])
        d = documents(rng, nd, FIRST_DOC_ID + b * nd)
        texts = [f"{t} m{b}" for t in d["text"].to_pylist()]
        d["text"] = pa.array(texts)
        d["n_chars"] = pa.array([len(t) for t in texts], pa.int64())
        _write(out_dir, f"docs-{b:05d}", d)
        _write(out_dir, f"vecs-{b:05d}", embeddings(rng, nv, FIRST_VEC_ID + b * nv))
        e = events(rng, ne, INGEST_USERS, FIRST_EVENT_ID + b * ne)
        ts = layout["first_ts_us"] + b * SLICE_US + np.sort(rng.integers(0, SLICE_US, ne))
        e["ts"] = pa.array(ts, pa.timestamp("us", tz="UTC"))
        users = e["user_id"].to_numpy(zero_copy_only=False).copy()
        users[:5] = b % INGEST_USERS
        e["user_id"] = pa.array(users, pa.int64())
        _write(out_dir, f"events-{b:05d}", e)
    with open(os.path.join(out_dir, "layout.properties"), "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in layout.items())


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1000)])
    n = sizes(sf)
    n_cust, n_supp, n_part = n["customer"], n["supplier"], n["part"]
    n_ord, n_line, n_ev = n["orders"], n["lineitem"], n["events"]
    n_docs, n_vecs = n["documents"], n["embeddings"]

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS)[rng.integers(0, 5, n_cust)].tolist())})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun).tolist()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(
            np.array(PART_TYPES)[rng.integers(0, 6, n_part)].tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2))})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(
            np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, n_ord)].tolist())})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    flags = rng.integers(0, 6, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(
            np.array(["A", "A", "N", "N", "R", "R"])[flags].tolist()),
        "l_linestatus": pa.array(
            np.array(["F", "O", "F", "O", "F", "O"])[flags].tolist()),
        "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04")})
    _write(out_dir, "events", events(rng, n_ev, max(1, int(15000 * sf))))
    _write(out_dir, "documents", documents(rng, n_docs))
    _write(out_dir, "embeddings", embeddings(rng, n_vecs))
