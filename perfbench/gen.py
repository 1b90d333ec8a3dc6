"""Seeded generator for the batch workload's parquet tables.

The tables follow the shapes of the engine's sf fixtures (FIXTURES.md §3):
one parquet file and one row group per table, naive microsecond
timestamps, `list<float>` embeddings, written by pyarrow. `base_tables`
draws every table from one `numpy` generator seeded with the workload
seed.

`GEN_VERSION` names the construction; outputs are cached under it and the
seed, and `fingerprint` hashes the written files for the run record.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = "tables-v1"

# sf0.1 row counts of the engine's fixtures.
SF01 = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "users": 1500,
        "documents": 5000, "embeddings": 2000}

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DIM = 64


def _ts(micros):
    return pa.array(micros, type=pa.timestamp("us"))


def _day_micros(rng, lo, hi, n):
    """Midnight timestamps uniformly between two dates (inclusive)."""
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(lo_d, hi_d + 1, n) * 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # about 5% of documents copy another document and append " dup"
    for i in np.nonzero(rng.random(n) < 0.05)[0]:
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return texts


def _unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v


def _emb_table(ids, vecs, labels):
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, DIM, dtype=np.int32))
    return pa.table({"vec_id": pa.array(ids, type=pa.int64()),
                     "embedding": pa.ListArray.from_arrays(offsets, flat),
                     "label": pa.array(labels, type=pa.int32())})


def base_tables(seed, rows):
    """All ten tables as pyarrow tables, drawn from `seed`."""
    rng = np.random.default_rng(seed)
    n = rows
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], type=pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), type=pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), type=pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c)})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), type=pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), type=pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), type=pa.int64()),
        "p_name": _pick(rng, names, p),
        "p_brand": _pick(rng, [f"Brand#{k}" for k in range(1, 26)], p),
        "p_type": _pick(rng, PTYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), type=pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1)})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), type=pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _ts(_day_micros(rng, "1995-01-01", "2001-08-01", o)),
        "o_orderpriority": _pick(rng, PRIORITIES, o)})
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": np.round(rng.integers(0, 11, li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, li) * 0.01, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _ts(_day_micros(rng, "1995-01-02", "2001-11-04", li))})
    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), type=pa.int64()),
        "ts": _ts(start + np.sort(rng.integers(0, span, e))),
        "user_id": pa.array(rng.integers(0, n["users"], e), type=pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = _texts(rng, d)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), type=pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, d, LANG_P),
        "source": [f"src{k % 20}" for k in range(d)],
        "n_chars": pa.array([len(x) for x in texts], type=pa.int64())})
    m = n["embeddings"]
    t["embeddings"] = _emb_table(np.arange(m), _unit_vectors(rng, m),
                                 rng.integers(0, 10, m))
    return t


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))


def fingerprint(out_dir):
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(out_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def cached(cache_root, key, build, keep=4):
    """Directory `cache_root/key`, built by `build(dir)` on a miss. Only the
    `keep` most recently used entries are kept."""
    path = os.path.join(cache_root, key)
    if not os.path.isfile(os.path.join(path, "_DONE")):
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        os.rename(tmp, path)
    os.utime(path)
    entries = sorted((e for e in os.listdir(cache_root) if not e.endswith(".tmp")),
                     key=lambda e: os.path.getmtime(os.path.join(cache_root, e)))
    for e in entries[:-keep]:
        shutil.rmtree(os.path.join(cache_root, e), ignore_errors=True)
    return path
