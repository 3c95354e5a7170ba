"""Seeded input generator for the benchmark.

Builds the ten tables graft's queries read (the TPC-H-ish star schema,
`events`, `documents`, `embeddings`) with the same column names, types
and value domains as the repo's fixture corpus (TESTDATA.md), sized per
workload. The same (workload, seed) always yields byte-identical
inputs; they are cached under `.perfbench/data/` so that generation is
never billed to a run's set-up time.

Invariants the oracle compare depends on:
  * every DOUBLE carries at most 2 decimals (the OracleNum exact-sum
    policy needs <= 4);
  * foreign keys (o_custkey, l_orderkey, l_partkey, l_suppkey,
    c/s_nationkey) always point at existing rows;
  * timestamps are written as TIMESTAMP(MICROS, isAdjustedToUTC=false),
    the encoding graft.Tables and DuckDB both read as naive UTC.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Per-workload sizes. `sf` scales the star schema and events the way
# the fixture corpus does (lineitem = 6M x sf); `docs` / `vecs` size
# the text and vector corpora. `dup` / `near` are the shares of
# documents (and vectors) that are exact / perturbed replicas.
SIZES = {
    "frame_analytics": dict(sf=0.02, docs=500, vecs=500, dup=0.01, near=0.05),
    "llm_pipeline": dict(sf=0.005, docs=600, vecs=1000, dup=0.02, near=0.10),
}

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

VOCAB = ("a the row query stream fast spark line small customer group value "
         "hash batch sort data big filter dup key agg scan slow table part "
         "merge window order column join vector").split()
ADJ = "blue hot small old red cold new large".split()
NOUN = "bolt gear anvil ring widget rod plate gizmo".split()
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PTYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000   # 1995-01-01T00:00:00 in micros
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _rng(seed, table):
    # one independent stream per (seed, table): adding a table or
    # resizing one never shifts another table's values
    return np.random.default_rng([seed, TABLES.index(table)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def _tables(sizes, seed):
    sf = sizes["sf"]
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_user = max(15, int(15_000 * sf))
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": r.choice(SEGMENTS, n_cust)})

    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})

    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(PTYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    r = _rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + r.integers(0, 2405, n_ord) * DAY_US),
        "o_orderpriority": r.choice(PRIORITIES, n_ord)})

    r = _rng(seed, "lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line),
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["O", "F"], n_line),
        "l_shipdate": _ts(EPOCH_1995 + (1 + r.integers(0, 2499, n_line)) * DAY_US)})

    r = _rng(seed, "events")
    # strictly increasing event times over 30 days (no ties, as in the
    # fixture corpus: as-of and rolling windows stay deterministic)
    ts = np.sort(r.choice(30 * DAY_US, n_ev, replace=False))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + ts),
        "user_id": r.integers(0, n_user, n_ev),
        "event_type": r.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})

    out["documents"] = _documents(sizes, seed)
    out["embeddings"] = _embeddings(sizes, seed)
    return out


def _replica_plan(r, n, dup, near):
    """For each row: -1 (original) or the index of an earlier original
    it replicates; the second array flags perturbed (near) replicas."""
    src = np.full(n, -1)
    perturbed = np.zeros(n, dtype=bool)
    n_dup, n_near = int(n * dup), int(n * near)
    rows = r.choice(np.arange(n // 2, n), n_dup + n_near, replace=False)
    for j, i in enumerate(rows):
        src[i] = r.integers(0, n // 2)
        perturbed[i] = j >= n_dup
    return src, perturbed


def _documents(sizes, seed):
    r = _rng(seed, "documents")
    n = sizes["docs"]
    words = [list(r.choice(VOCAB, r.integers(10, 100))) for _ in range(n)]
    src, perturbed = _replica_plan(r, n, sizes["dup"], sizes["near"])
    for i in range(n):
        if src[i] >= 0:
            w = list(words[src[i]])
            if perturbed[i]:
                # replace ~5% of the words: a near-duplicate that the
                # MinHash / substring passes should still pair up
                for p in r.choice(len(w), max(1, len(w) // 20), replace=False):
                    w[p] = VOCAB[r.integers(0, len(VOCAB))]
            words[i] = w
    text = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": r.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})


def _embeddings(sizes, seed):
    r = _rng(seed, "embeddings")
    n, dim = sizes["vecs"], 64
    v = r.standard_normal((n, dim))
    src, perturbed = _replica_plan(r, n, sizes["dup"], sizes["near"])
    for i in range(n):
        if src[i] >= 0:
            v[i] = v[src[i]] + (0.05 * r.standard_normal(dim) if perturbed[i] else 0.0)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": r.integers(0, 10, n).astype(np.int32)})


def duplicate_fraction(path):
    """Share of documents whose exact text also occurs on an earlier row."""
    texts = pq.read_table(os.path.join(path, "documents.parquet"),
                          columns=["text"]).column(0).to_pylist()
    return 1.0 - len(set(texts)) / len(texts)


def ensure(root, workload, seed):
    """Path of the (cached) input directory for (workload, seed)."""
    # the key covers the generator itself: editing sizes or value
    # domains never serves a stale cache
    code = hashlib.sha256(open(__file__, "rb").read()).hexdigest()[:12]
    path = os.path.join(root, "data", f"{workload}-s{seed}-{code}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(SIZES[workload], seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path
