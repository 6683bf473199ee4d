"""Deterministic synthetic tables for the graft benchmark.

Writes the ten parquet tables the query packs read (events, documents,
embeddings and a TPC-H-like star schema) with the same schemas, value
domains and row counts per scale factor as the project's test data, so
every query in the batch workloads has real work to do.

The batch data does not depend on the benchmark seed: the seed permutes
query order, and the committed answer digests (digests.json) are computed
over exactly these tables. The generator seed below is part of the
benchmark definition; changing it invalidates the digests.

Usage: python3 gen_data.py <out_dir> <scale_factor>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
VOCAB = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def counts(sf):
    return {
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
        "lineitem": int(6_000_000 * sf),
        "orders": int(1_500_000 * sf),
        "customer": int(150_000 * sf),
        "part": int(200_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
    }


def events(rng, n, n_users):
    # Poisson arrivals spread over the 30 days from 2024-01-01
    span = 30 * 86_400_000_000 - 60_000_000
    arrivals = np.cumsum(rng.exponential(1.0, n))
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = t0 + 7_000_000 + (arrivals * (span / arrivals[-1])).astype(np.int64)
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 3):
                words[j] = "dup"
            texts.append(" ".join(words))
            continue
        n_chars = int(rng.integers(44, 578))
        words = []
        while sum(len(w) + 1 for w in words) <= n_chars:
            words.append(VOCAB[int(rng.integers(0, len(VOCAB)))])
        texts.append(" ".join(words)[:n_chars].rstrip())
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def days(rng, n, lo, hi):
    lo = np.datetime64(lo, "D").astype(np.int64)
    hi = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def star(rng, c):
    n_l, n_o, n_c = c["lineitem"], c["orders"], c["customer"]
    n_p, n_s = c["part"], c["supplier"]
    pick = lambda xs, n: [xs[i] for i in rng.integers(0, len(xs), n)]
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array(pick(["A", "N", "R"], n_l)),
        "l_linestatus": pa.array(pick(["F", "O"], n_l)),
        "l_shipdate": days(rng, n_l, "1995-01-02", "2001-11-04"),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o, dtype=np.int64)),
        "o_orderstatus": pa.array(pick(["F", "O", "P"], n_o)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_o), 2)),
        "o_orderdate": days(rng, n_o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(pick(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_c), 2)),
        "c_mktsegment": pa.array(pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                       "HOUSEHOLD", "MACHINERY"], n_c)),
    })
    adjectives = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_p, dtype=np.int64)),
        "p_name": pa.array(["%s %s" % (a, b) for a, b in
                            zip(pick(adjectives, n_p), pick(nouns, n_p))]),
        "p_brand": pa.array(["Brand#%d" % b for b in rng.integers(1, 26, n_p)]),
        "p_type": pa.array(pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                 "SMALL", "STANDARD"], n_p)),
        "p_size": pa.array(rng.integers(1, 51, n_p, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 1)),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(n_s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_s), 2)),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(["NATION_%d" % i for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    return {"lineitem": lineitem, "orders": orders, "customer": customer,
            "part": part, "supplier": supplier, "nation": nation,
            "region": region}


def generate(out_dir, sf):
    c = counts(sf)
    # one independent stream per table: a row-count change in one table
    # leaves every other table's contents unchanged
    rngs = {name: np.random.default_rng([GEN_SEED, i]) for i, name in
            enumerate(["events", "documents", "embeddings", "star"])}
    tables = {
        "events": events(rngs["events"], c["events"], max(50, c["customer"] // 10)),
        "documents": documents(rngs["documents"], c["documents"]),
        "embeddings": embeddings(rngs["embeddings"], c["embeddings"]),
    }
    tables.update(star(rngs["star"], c))
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, name + ".parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
