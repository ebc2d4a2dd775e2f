"""Seeded generator of the benchmark's input tables.

Writes the tables every `graft.SparkEntry` query reads (a TPC-H-like star
schema, an `events` stream, a `documents` corpus and `embeddings`) as one
parquet file each, with the column names and types of the repository's
reference fixtures. Value distributions follow those fixtures: uniform keys
and categories, 30-token vocabulary documents with ~5% near-duplicates, and
unit-norm 64-dim embeddings, plus a first-party CRM table keyed like the
GA4 relation's user ids. The same (seed, sf) always gives the same bytes.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "blue", "old"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
PART_TYPES = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64


def _ts(base, seconds):
    """Microsecond timestamps `seconds` after `base` (naive, UTC)."""
    us = (np.asarray(seconds, dtype=np.float64) * 1e6).astype(np.int64)
    epoch_us = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    return pa.array(us + epoch_us, pa.timestamp("us"))


def _days(base, n_days, rng, size):
    return _ts(base, rng.integers(0, n_days, size) * 86400.0)


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def documents(rng, n):
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(VOCAB[w] for w in ws) for ws in np.split(words, cuts)]
    # near-duplicates: an earlier document with " dup" appended; a few
    # exact copies across sources
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n):
    v = rng.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def generate(out_dir, seed, sf):
    """All eleven tables at scale factor `sf` (0.1 = 600,000 lineitem rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp = int(200_000 * sf), int(10_000 * sf)
    n_events, n_users = int(1_000_000 * sf), int(15_000 * sf)
    d95 = dt.datetime(1995, 1, 1)

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}))
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1))}))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(np.array(["O", "F", "P"]), n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _days(d95, 2405, rng, n_ord),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))}))
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_line)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_line)),
        "l_shipdate": _days(dt.datetime(1995, 1, 2), 2499, rng, n_line)}))
    secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts(dt.datetime(2024, 1, 1), secs),
        "user_id": pa.array(rng.integers(0, n_users, n_events)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])}))
    # a first-party CRM table keyed like the GA4 relation's user_pseudo_id
    first_seen = rng.uniform(86400, 25 * 86400, n_users)
    n_ev = rng.integers(1, 40, n_users)
    _write(out_dir, "first_party", pa.table({
        "customer_id": pa.array([str(u) for u in range(n_users)]),
        "n_events": pa.array(n_ev.astype(np.int64)),
        "total_value": pa.array(np.round(n_ev * rng.uniform(1, 60, n_users), 2)),
        "first_seen": _ts(dt.datetime(2024, 1, 1), first_seen),
        "purchased": pa.array((n_ev + rng.integers(0, 10, n_users) > 25).astype(np.float64)),
        "gclid": pa.array([f"gcl_fp{u}" for u in range(n_users)])}))
    _write(out_dir, "documents", documents(rng, int(50_000 * sf)))
    _write(out_dir, "embeddings", embeddings(rng, int(20_000 * sf)))

