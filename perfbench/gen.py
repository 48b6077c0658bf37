"""Seeded fixture generator for the benchmark.

Writes the ten parquet tables the engine reads (`region nation customer
supplier part orders lineitem events documents embeddings`) with the
schemas and value distributions of the repository's synthetic TPC-H-ish
test data (TESTDATA.md).

The table contents come from a fixed base seed, so every benchmark seed
does the same amount of work; the benchmark seed only sets the id offsets
of the `events` replicas when `replicas > 1`. That keeps runs with
different seeds comparable while each seed still gets its own inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101
DAY_US = 86_400_000_000
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "small red blue new hot cold large old".split()
NOUN = "ring widget bolt anvil rod plate gear gizmo".split()


def _epoch_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def base_tables(sf):
    """Every table except `events`, as dicts of columns (fixed content)."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = 4 * n_ord
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    segs = np.array("MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split())
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -1000, 10000, n_supp)}
    types = np.array("ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split())
    t["part"] = {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}
    d0, d1 = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, n_ord) * DAY_US),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}
    s0, s1 = _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4)
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(s0 + rng.integers(0, (s1 - s0) // DAY_US + 1, n_line) * DAY_US)}
    n_doc = max(500, int(50_000 * sf))
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB),
                                                               int(rng.integers(10, 101)))]))
    langs = np.array(["en", "zh", "de", "fr", "es"])
    t["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[np.where(rng.random(n_doc) < 0.41, 0, rng.integers(1, 5, n_doc))],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())}
    n_vec = max(500, int(20_000 * sf))
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(size=(10, 64))
    vecs = rng.normal(size=(n_vec, 64)) + 0.07 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}
    return t


def base_events(sf):
    rng = np.random.default_rng(BASE_SEED + 1)
    n, users = int(1_000_000 * sf), int(15_000 * sf)
    ts = np.sort(_epoch_us(2024, 1, 1) + rng.integers(0, 30 * DAY_US, n))
    kinds = np.array(["click", "signup", "error", "view", "purchase"])
    return {"ts": ts, "user_id": rng.integers(0, users, n),
            "event_type": kinds[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
            "users": users}


def events_table(sf, seed, replicas):
    """`events`, replicated `replicas` times with disjoint ids per replica.

    Replica 0 is the base table unchanged (some queries filter on small
    `user_id`s). The seed picks where replicas 1.. start in id space; user
    offsets stay multiples of 1000 so `user_id % k` groupings keep their
    balance.
    """
    ev = base_events(sf)
    rng = np.random.default_rng(seed)
    n = len(ev["ts"])
    user_stride = -(-ev["users"] // 1000) * 1000
    user_base = int(rng.integers(1, 1000)) * 1000
    event_base = int(rng.integers(1, 1000)) * n
    offsets = [(0, 0)] + [(user_base + r * user_stride, event_base + r * n)
                          for r in range(1, replicas)]
    return {"event_id": pa.array(np.concatenate([e + np.arange(n) for _, e in offsets]),
                                 pa.int64()),
            "ts": _ts(np.tile(ev["ts"], replicas)),
            "user_id": pa.array(np.concatenate([u + ev["user_id"] for u, _ in offsets]),
                                pa.int64()),
            "event_type": np.tile(ev["event_type"], replicas),
            "value": np.tile(ev["value"], replicas),
            "props": np.tile(np.array(ev["props"]), replicas)}


def generate(out, sf, seed, replicas=1):
    """Write all tables to `out`; returns {table: bytes on disk}."""
    os.makedirs(out, exist_ok=True)
    for name, cols in base_tables(sf).items():
        _write(out, name, cols)
    _write(out, "events", events_table(sf, seed, replicas))
    return {f[:-8]: os.path.getsize(os.path.join(out, f))
            for f in sorted(os.listdir(out)) if f.endswith(".parquet")}
