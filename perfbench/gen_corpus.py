#!/usr/bin/env python3
"""Deterministic benchmark corpus: the ten parquet tables the entries read.

The base corpus has the shapes and row counts of the sf0.1 star schema
(15k customers, 150k orders, 600k lineitems, 100k events, 5k documents,
2k embeddings). A scaled corpus is N organic copies of the base: keys are
shifted by fixed strides so foreign keys stay consistent, every document
word gets a per-copy suffix and every embedding a per-copy signed
permutation, so copies are unique and no near-duplicate cliques form
across copies. Row order and file bytes depend only on the fixed data
seed, numpy and pyarrow, so two generations are byte-identical.

Usage: python3 perfbench/gen_corpus.py <outdir> [copies]
"""
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
# key strides: larger than any base key
S_CUST, S_SUPP, S_PART, S_ORD = 20_000, 2_000, 30_000, 200_000
S_DOC, S_VEC, S_EVT, S_USER = 10_000, 5_000, 200_000, 10_000
DAY_US = 86_400 * 1_000_000


def _ts(start, offsets_us):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + offsets_us, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables():
    rng = np.random.default_rng(DATA_SEED)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = 15_000
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": segs[rng.integers(0, 5, n)]})
    n = 1_000
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = 20_000
    adj = np.array("red new hot small cold large old blue".split())
    noun = np.array("bolt anvil ring rod plate gear widget gizmo".split())
    types = np.array("LARGE ECONOMY STANDARD SMALL MEDIUM PROMO".split())
    names = np.char.add(np.char.add(adj[rng.integers(0, 8, n)], " "),
                        noun[rng.integers(0, 8, n)])
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": types[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1)})
    n = 150_000
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n) * DAY_US),
        "o_orderpriority": prio[rng.integers(0, 5, n)]})
    n = 600_000
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, 150_000, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n) * DAY_US)})
    n = 100_000
    kinds = np.array("signup click error view purchase".split())
    t["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * DAY_US, n))),
        "user_id": pa.array(rng.integers(0, 1_500, n), pa.int64()),
        "event_type": kinds[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    t["documents"] = pa.table(_documents(rng, 5_000))
    n = 2_000
    vec = rng.standard_normal((n, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    return t


def _documents(rng, n):
    """Random-word documents; ~5% are an earlier document plus ' dup'
    (near-duplicates) and a handful are exact copies."""
    words = np.array(WORDS)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     rng.integers(10, 101))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    return {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())}


def _shift(tbl, col, by):
    arr = tbl.column(col).to_numpy() + by
    return tbl.set_column(tbl.schema.get_field_index(col), col,
                          pa.array(arr, tbl.schema.field(col).type))


def _suffix(tbl, col, suffix):
    vals = [s + suffix for s in tbl.column(col).to_pylist()]
    return tbl.set_column(tbl.schema.get_field_index(col), col, pa.array(vals))


def organic_copy(t, i):
    """Copy `i` of the base tables; copy 0 is the base itself."""
    if i == 0:
        return dict(t)
    c = dict(t)
    c["customer"] = _suffix(_shift(t["customer"], "c_custkey", i * S_CUST),
                            "c_name", f"_{i}")
    c["supplier"] = _suffix(_shift(t["supplier"], "s_suppkey", i * S_SUPP),
                            "s_name", f"_{i}")
    c["part"] = _shift(t["part"], "p_partkey", i * S_PART)
    c["orders"] = _shift(_shift(t["orders"], "o_orderkey", i * S_ORD),
                         "o_custkey", i * S_CUST)
    li = _shift(t["lineitem"], "l_orderkey", i * S_ORD)
    li = _shift(li, "l_partkey", i * S_PART)
    c["lineitem"] = _shift(li, "l_suppkey", i * S_SUPP)
    c["events"] = _shift(_shift(t["events"], "event_id", i * S_EVT),
                         "user_id", i * S_USER)
    docs = _shift(t["documents"], "doc_id", i * S_DOC)
    texts = [" ".join(w + f"_{i}" for w in s.split())
             for s in docs.column("text").to_pylist()]
    docs = docs.set_column(docs.schema.get_field_index("text"), "text",
                           pa.array(texts))
    c["documents"] = docs.set_column(
        docs.schema.get_field_index("n_chars"), "n_chars",
        pa.array([len(s) for s in texts], pa.int64()))
    # rotation by (i mod 64) composed with a per-copy sign mask: an
    # orthogonal map, so norms are kept and cross-copy cosine is broken
    h = hashlib.sha256(f"graft-organic-{i}".encode()).digest()
    signs = np.array([1.0 if (h[j // 8] >> (j % 8)) & 1 else -1.0
                      for j in range(64)], np.float32)
    emb = np.stack(t["embeddings"].column("embedding").to_numpy(
        zero_copy_only=False))
    emb = np.roll(emb, -(i % 64), axis=1) * signs
    e = _shift(t["embeddings"], "vec_id", i * S_VEC)
    c["embeddings"] = e.set_column(
        e.schema.get_field_index("embedding"), "embedding",
        pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())))
    return c


def write(out_dir, copies=1):
    base = base_tables()
    parts = [organic_copy(base, i) for i in range(copies)]
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        tbl = base[name] if name in ("region", "nation") else \
            pa.concat_tables([p[name] for p in parts])
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=1 << 24)


def sha256s(out_dir):
    out = {}
    for name in TABLES:
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit("usage: gen_corpus.py <outdir> [copies]")
    write(sys.argv[1], int(sys.argv[2]) if len(sys.argv) == 3 else 1)
    for k, v in sha256s(sys.argv[1]).items():
        print(k, v)
