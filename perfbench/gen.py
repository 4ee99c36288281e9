#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Runs as its own step, before the benchmark program starts; the program
only ever sees the parquet files written here.

    python3 perfbench/gen.py base   <dir>
    python3 perfbench/gen.py seeded <base-dir> <dir> --seed N --workload W

`base` writes the seed-independent fixtures, shaped like the engine's
sf fixtures (see FIXTURES.md):

  corpus/   all ten tables at sf0.01, one `<table>.parquet` each, read by
            the query corpus (its result fingerprints are pinned);
  catalog/  region, nation, customer, orders, lineitem at sf0.1 (765 k
            rows), the copy source before any delta lands;
  stream/   shard 0 of `documents` and `embeddings`, the pinned first
            tick of the ledger drain, and shards/NNNN/, the shards later
            ticks land: each a tenth exact and a tenth perturbed copies of
            shard-0 rows, the rest fresh, so both ledger drop paths fire.
            They do not depend on --seed: seeded shards moved the cost of
            a drain by up to a third from seed to seed.

`seeded` writes what depends on --seed, for the workload named:

  deltas/NNNN/<table>.parquet  catalog deltas of fixed size whose ids
            and timestamps lie strictly above the maxima of everything
            before them;
  order.json  the seeded permutation of the query corpus.
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
N_DELTAS = 12
N_SHARDS = 12
SHARD_DOCS = 300
SHARD_VECS = 120
DIM = 64

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "steel"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def region():
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def nation():
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def customer(rng, keys):
    n = len(keys)
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": pick(rng, SEGMENTS, n)})


def supplier(rng, n):
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n)})


def part(rng, n):
    k = np.arange(n)
    return pa.table({
        "p_partkey": pa.array(k, pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pick(rng, PTYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1)})


def orders(rng, keys, n_cust, dates_us):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n),
        "o_totalprice": money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(dates_us.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": pick(rng, PRIORITIES, n)})


def lineitem(rng, order_keys, n_part, n_supp, per=None):
    if per is None:
        per = np.minimum(rng.poisson(4.0, len(order_keys)), 7)
    ok = np.repeat(np.asarray(order_keys), per)
    ln = np.concatenate([np.arange(1, c + 1) for c in per]) if len(ok) else np.zeros(0, int)
    n = len(ok)
    ship = EPOCH_1995 + (rng.integers(1, 2500, n) * DAY_US).astype("timedelta64[us]")
    return pa.table({
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(float),
        "l_extendedprice": money(rng, 900.68, 104999.91, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n),
        "l_linestatus": pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})


def events(rng, n, n_users):
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})


def perturb_words(rng, words, share=0.1):
    out = list(words)
    for i in range(len(out)):
        if rng.random() < share:
            out[i] = VOCAB[rng.integers(0, len(VOCAB))]
    return out


def documents(rng, ids, dup_share=0.05):
    """Word-soup docs; `dup_share` of them perturb a copy of an earlier one."""
    texts, earlier = [], []
    for _ in range(len(ids)):
        r = rng.random()
        if earlier and r < dup_share:
            words = perturb_words(rng, earlier[rng.integers(0, len(earlier))])
        else:
            words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), rng.integers(10, 101))]
        earlier.append(words)
        texts.append(" ".join(words))
    return doc_table(rng, ids, texts)


def doc_table(rng, ids, texts):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": pick(rng, LANGS, len(ids), LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def roles(rng, n):
    """A seeded order of n rows: a tenth exact copies (1), a tenth
    perturbed copies (2), the rest fresh (0). Every shard has the same
    counts, so the work a shard makes does not depend on the seed."""
    k = n // 10
    return rng.permutation(np.array([1] * k + [2] * k + [0] * (n - 2 * k)))


def shard_documents(rng, ids, pool):
    """Shard docs whose copies all come from `pool` (the pinned first
    shard), and whose fresh docs have a fixed multiset of lengths."""
    r = roles(rng, len(ids))
    lengths = iter(rng.permutation(np.resize(np.arange(10, 101), int((r == 0).sum()))))
    texts = []
    for role in r:
        if role == 0:
            words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), next(lengths))]
        else:
            words = pool[rng.integers(0, len(pool))]
            if role == 2:
                words = perturb_words(rng, words)
        texts.append(" ".join(words))
    return doc_table(rng, ids, texts)


def shard_embeddings(rng, ids, pool):
    """Shard vectors whose copies all come from `pool` (the pinned first
    shard)."""
    r = roles(rng, len(ids))
    v = rng.standard_normal((len(ids), DIM))
    for i, role in enumerate(r):
        if role:
            src = pool[rng.integers(0, len(pool))].astype(np.float64)
            v[i] = src if role == 1 else src + 0.15 * rng.standard_normal(DIM) / np.sqrt(DIM)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, len(ids)), pa.int32())})


def embeddings(rng, ids, dup_share=0.05):
    """Unit vectors; `dup_share` of them perturb a copy of an earlier one."""
    n = len(ids)
    v = rng.standard_normal((n, DIM))
    for i in range(n):
        if rng.random() < dup_share and i:
            src = v[rng.integers(0, i)]
            v[i] = src + 0.15 * rng.standard_normal(DIM) / np.sqrt(DIM) * np.linalg.norm(src)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def gen_base(out):
    rng = np.random.default_rng(BASE_SEED)
    # Query corpus fixture: all ten tables at sf0.01.
    c = os.path.join(out, "corpus")
    write(region(), f"{c}/region.parquet")
    write(nation(), f"{c}/nation.parquet")
    write(customer(rng, np.arange(1500)), f"{c}/customer.parquet")
    write(supplier(rng, 100), f"{c}/supplier.parquet")
    write(part(rng, 2000), f"{c}/part.parquet")
    dates = EPOCH_1995 + (rng.integers(0, 2405, 15000) * DAY_US).astype("timedelta64[us]")
    write(orders(rng, np.arange(15000), 1500, dates), f"{c}/orders.parquet")
    write(lineitem(rng, np.arange(15000), 2000, 100), f"{c}/lineitem.parquet")
    write(events(rng, 10000, 150), f"{c}/events.parquet")
    write(documents(rng, np.arange(500)), f"{c}/documents.parquet")
    write(embeddings(rng, np.arange(500)), f"{c}/embeddings.parquet")
    # Catalog copy source at sf0.1: 5 + 25 + 15 000 + 150 000 + ~600 000 rows.
    k = os.path.join(out, "catalog")
    write(region(), f"{k}/region.parquet")
    write(nation(), f"{k}/nation.parquet")
    write(customer(rng, np.arange(15000)), f"{k}/customer.parquet")
    dates = EPOCH_1995 + (rng.integers(0, 2405, 150000) * DAY_US).astype("timedelta64[us]")
    write(orders(rng, np.arange(150000), 15000, dates), f"{k}/orders.parquet")
    write(lineitem(rng, np.arange(150000), 20000, 1000), f"{k}/lineitem.parquet")
    # Ledger drain: the pinned first shard.
    s = os.path.join(out, "stream")
    write(documents(rng, np.arange(SHARD_DOCS * 2)), f"{s}/documents.parquet")
    write(embeddings(rng, np.arange(SHARD_VECS * 2)), f"{s}/embeddings.parquet")
    # The later ledger shards, from a generator stream of their own.
    gen_shards(out, np.random.default_rng([BASE_SEED, 1]))


def maxima(base):
    def mx(t, c):
        return pq.read_table(f"{base}/catalog/{t}.parquet", columns=[c])[c].to_numpy().max()
    return mx("customer", "c_custkey"), mx("orders", "o_orderkey"), \
        mx("orders", "o_orderdate"), mx("lineitem", "l_orderkey")


def gen_seeded(base, out, seed, workload):
    rng = np.random.default_rng([BASE_SEED, seed])
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/order.json", "w") as f:
        json.dump({"seed": seed, "perm": [int(i) for i in rng.permutation(1 << 10)]}, f)
    if workload == "ingest":
        gen_deltas(base, out, rng)


def gen_deltas(base, out, rng):
    """Deltas of fixed size (150 customers, 1 500 orders, 6 000 lines) whose
    ids and timestamps lie strictly above everything before them."""
    cust, okey, odate, lkey = maxima(base)
    nc, no = 150, 1500
    for d in range(N_DELTAS):
        dd = f"{out}/deltas/{d:04d}"
        ckeys = np.arange(cust + 1, cust + 1 + nc)
        okeys = np.arange(okey + 1, okey + 1 + no)
        # Timestamps strictly above the current maximum, spread over a day.
        dates = odate + (np.sort(rng.integers(1, DAY_US, no))).astype("timedelta64[us]")
        write(customer(rng, ckeys), f"{dd}/customer.parquet")
        write(orders(rng, okeys, cust + 1 + nc, dates), f"{dd}/orders.parquet")
        lkeys = np.arange(lkey + 1, lkey + 1 + no)
        per = rng.permutation(np.resize(np.arange(1, 8), no))
        write(lineitem(rng, lkeys, 20000, 1000, per), f"{dd}/lineitem.parquet")
        cust, okey, odate, lkey = ckeys[-1], okeys[-1], dates.max(), lkeys[-1]


def gen_shards(base, rng):
    pool_docs = [t.split() for t in pq.read_table(f"{base}/stream/documents.parquet")["text"].to_pylist()]
    pool_vecs = np.stack(pq.read_table(f"{base}/stream/embeddings.parquet")["embedding"].to_numpy(zero_copy_only=False))
    next_doc, next_vec = len(pool_docs), len(pool_vecs)
    for s in range(1, N_SHARDS + 1):
        sd = f"{base}/stream/shards/{s:04d}"
        write(shard_documents(rng, np.arange(next_doc, next_doc + SHARD_DOCS), pool_docs),
              f"{sd}/documents.parquet")
        write(shard_embeddings(rng, np.arange(next_vec, next_vec + SHARD_VECS), pool_vecs),
              f"{sd}/embeddings.parquet")
        next_doc += SHARD_DOCS
        next_vec += SHARD_VECS


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("what", choices=["base", "seeded"])
    ap.add_argument("dirs", nargs="+")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--workload", default="ingest")
    a = ap.parse_args()
    if a.what == "base":
        gen_base(a.dirs[0])
    else:
        gen_seeded(a.dirs[0], a.dirs[1], a.seed, a.workload)


if __name__ == "__main__":
    main()
