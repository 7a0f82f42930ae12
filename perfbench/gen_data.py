#!/usr/bin/env python3
"""Deterministic generator for the benchmark's input tables.

Writes the ten parquet tables graft's catalog reads (`region nation customer
supplier part orders lineitem documents embeddings events`) with the same
names, column types and value distributions as graft's scale-factor test
corpora: a TPC-H-shaped star schema, a 30-day `events` stream, a
5000-document text corpus with 250 planted near-duplicates and 2000 labelled
64-d unit embeddings. At sf 0.1 lineitem has 600k rows.

The tables depend only on SF and SEED: every run writes byte-identical
files, so the reference output hashes in `reference.json` stay valid.

    python3 perfbench/gen_data.py <out_dir>
"""
import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF, SEED = 0.1, 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
US_PER_DAY = 86_400_000_000


def _days_us(rng, first, last, n):
    """n midnight timestamps (epoch µs) drawn uniformly from [first, last]."""
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * US_PER_DAY


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n, p=None):
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def tables():
    sf, rng = SF, np.random.default_rng(SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), int(15_000 * sf)
    i32 = lambda a: pa.array(a, type=pa.int32())
    i64 = lambda a: pa.array(a, type=pa.int64())

    out = {}
    out["region"] = pa.table({"r_regionkey": i32(np.arange(5)),
                              "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5)})
    out["customer"] = pa.table({
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": i64(np.arange(n_part)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", n_line))})

    # events: a Poisson stream over the 30 days from 2024-01-01, strictly
    # increasing (the index term breaks sub-µs ties), so per-user time
    # deltas are never zero
    start = np.datetime64("2024-01-01", "D").astype(np.int64) * US_PER_DAY
    gaps = np.cumsum(rng.exponential(1.0, n_events))
    ts = start + (gaps / gaps[-1] * (30 * US_PER_DAY - 600_000_000)).astype(np.int64)
    ts = ts + np.arange(n_events)
    out["events"] = pa.table({
        "event_id": i64(np.arange(n_events)),
        "ts": _ts(ts),
        "user_id": i64(rng.integers(0, n_users, n_events)),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])})

    # documents: random 10–100-word texts; 5% are copies of another doc
    # with a trailing " dup" (the near-duplicate pairs dedup lanes find)
    n_docs, n_dups = 5000, 250
    base = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
            for _ in range(n_docs - n_dups)]
    texts = base + [base[j] + " dup" for j in rng.integers(0, len(base), n_dups)]
    texts = [texts[k] for k in rng.permutation(n_docs)]
    out["documents"] = pa.table({
        "doc_id": i64(np.arange(n_docs)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": i64([len(t) for t in texts])})

    # embeddings: 64-d unit vectors around 10 weak label centres
    n_vec, dim = 2000, 64
    labels = rng.integers(0, 10, n_vec)
    centres = rng.normal(0.0, 1.0, (10, dim))
    x = centres[labels] * 0.08 + rng.normal(0.0, 1.0, (n_vec, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": i64(np.arange(n_vec)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": i32(labels)})
    return out


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    a = ap.parse_args(argv)
    os.makedirs(a.out_dir, exist_ok=True)
    for name, t in tables().items():
        pq.write_table(t, os.path.join(a.out_dir, f"{name}.parquet"), compression="snappy")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
