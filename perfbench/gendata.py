"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the query registry reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the schemas and value distributions of the
project's TPC-H-like test set:

- TPC-H-like star schema; `lineitem` has 4 rows per order (600k at scale
  0.1), keys drawn uniformly.
- `events`: 100k rows at scale 0.1, timestamps sorted over 30 days of
  January 2024, exponential values.
- `documents`: 5,000 texts over a 30-word vocabulary, 10 to 49 words
  each; 5% are an earlier document plus the word "dup" (near duplicates).
- `embeddings`: 2,000 random unit vectors of dimension 64.

The same (scale, seed) always gives byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark line small fast group customer query row stream the batch "
         "sort value hash filter big data part column order scan a slow agg "
         "key window table merge vector join").split()
ADJ = "small new red blue old large hot cold".split()
NOUN = "widget gizmo ring gear bolt plate rod anvil".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000
ORDER_EPOCH_US = 788_918_400_000_000      # 1995-01-01T00:00:00
ORDER_DAYS = 2404                          # up to 2001-08-01
EVENT_EPOCH_US = 1_704_067_200_000_000     # 2024-01-01T00:00:00


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(scale, seed):
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = 5000 if scale >= 0.1 else 500
    n_vecs = 2000 if scale >= 0.1 else 500

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table({
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array(nk % 5)})
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust)})
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(sk),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    adj = rng.integers(0, len(ADJ), n_part)
    noun = rng.integers(0, len(NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _choice(rng, TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1))})
    ok = np.arange(n_ord, dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(ORDER_EPOCH_US
                           + rng.integers(0, ORDER_DAYS + 1, n_ord) * DAY_US),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(ORDER_EPOCH_US + (rng.integers(0, ORDER_DAYS, n_line)
                          + rng.integers(1, 96, n_line)) * DAY_US)})
    ev_us = np.sort(EVENT_EPOCH_US + rng.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ev_us),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 50)))
            texts.append(" ".join(VOCAB[w] for w in words))
    dk = np.arange(n_docs, dtype=np.int64)
    out["documents"] = pa.table({
        "doc_id": pa.array(dk),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n_docs, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in dk]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    vec = rng.standard_normal((n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs, dtype=np.int32))})
    return out


def write(out_dir, scale, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(scale, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 30)
