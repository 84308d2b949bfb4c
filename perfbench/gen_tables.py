#!/usr/bin/env python3
"""Seeded generator for the query workloads' input tables.

Writes the ten parquet tables the declared queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the column names, arrow types and value distributions of the project's
test fixtures, at a given scale factor. The same (seed, sf) always gives the
same bytes of data; row counts depend on sf alone.

    python3 perfbench/gen_tables.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "large"]
PART_NOUN = ["bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def row_counts(sf):
    return {
        "customer": int(round(150_000 * sf)),
        "supplier": int(round(10_000 * sf)),
        "part": int(round(200_000 * sf)),
        "orders": int(round(1_500_000 * sf)),
        "lineitem": int(round(6_000_000 * sf)),
        "events": int(round(1_000_000 * sf)),
        "documents": max(500, int(round(50_000 * sf))),
        "embeddings": max(500, int(round(20_000 * sf))),
        "users": max(15, int(round(15_000 * sf))),
    }


def cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def tables(sf, seed):
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n = row_counts(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(cents(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pick(rng, SEGMENTS, nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(cents(rng, -999.99, 9999.99, ns))})
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pick(rng, names, npart),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
        "p_type": pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(npart) % 1000) / 10.0)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(cents(rng, 1000, 500_000, no)),
        "o_orderdate": pa.array(EPOCH_1995 + rng.integers(0, 2404, no) * DAY_US),
        "o_orderpriority": pick(rng, PRIORITIES, no)})
    nl = n["lineitem"]
    flag = rng.integers(0, 6, nl)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(cents(rng, 901, 105_000, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[flag // 2], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[flag % 2], pa.string()),
        "l_shipdate": pa.array(EPOCH_1995 + rng.integers(1, 2499, nl) * DAY_US)})
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n["users"], ne, dtype=np.int64)),
        "event_type": pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})
    nd = n["documents"]
    lens = rng.integers(10, 100, nd)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # One document in twenty is an exact copy of another plus a trailing
    # " dup" token: the near-duplicate pairs the dedup family looks for.
    dups = rng.choice(nd, nd // 20, replace=False)
    originals = np.setdiff1d(np.arange(nd), dups)
    for d in dups:
        texts[d] = texts[int(rng.choice(originals))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(rng, LANGS, nd, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, nv * 64 + 1, 64, dtype=np.int32)), pa.array(vec.ravel())),
        "label": pa.array(rng.integers(0, 10, nv, dtype=np.int32))})
    return out


def write(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
