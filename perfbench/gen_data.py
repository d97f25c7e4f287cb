#!/usr/bin/env python3
"""Deterministic generator for the ten benchmark tables.

Writes `<out>/<table>.parquet` (one row group, snappy) with the schemas and
value domains the operators are written against: the TPC-H-like star
schema (region, nation, customer, supplier, part, orders, lineitem), the
`events` stream table, and the `documents`/`embeddings` text and vector
tables. Row counts scale with `sf` (lineitem = 6M x sf); the document and
vector tables keep a 500-row floor so the text operators have a corpus at
every scale.

Timestamps are timestamp[us] without a time zone, as in the parquet footers
of the fixture files the engine is graded on (FIXTURES.md lists ms and ns,
an older generation of those files). Spark reads such a column as
TimestampNTZ, which is the branch `graft.Tables.events` takes on the graded
data. The random generator has a fixed seed, so the same sf always yields
byte-identical files.

Usage: python3 perfbench/gen_data.py <out_dir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

SEED = 42
US_PER_DAY = 86_400_000_000


def days_us(start, end, n, rng):
    """n midnight timestamps (µs) drawn uniformly from [start, end] days."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n, dtype=np.int64) * US_PER_DAY


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(values, idx):
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def ts(us):
    return pa.array(us, pa.timestamp("us"))


def tables(sf, rng):
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_evt = max(1, round(1_000_000 * sf))
    n_user = max(1, round(15_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_vec = max(500, round(20_000 * sf))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(SEGMENTS, rng.integers(0, 5, n_cust))})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(n_part)
    yield "part", pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pick(names, rng.integers(0, len(names), n_part)),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pick(PART_TYPES, rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], rng.integers(0, 3, n_ord)),
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": ts(days_us("1995-01-01", "2001-08-01", n_ord, rng)),
        "o_orderpriority": pick(PRIORITIES, rng.integers(0, 5, n_ord))})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], rng.integers(0, 3, n_line)),
        "l_linestatus": pick(["F", "O"], rng.integers(0, 2, n_line)),
        "l_shipdate": ts(days_us("1995-01-02", "2001-11-04", n_line, rng))})
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": ts(start + np.sort(rng.integers(0, 30 * US_PER_DAY, n_evt))),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": pick(EVENT_TYPES, rng.integers(0, 5, n_evt)),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
                          pa.string())})
    lens = rng.integers(10, 101, n_doc)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    cuts = np.concatenate([[0], np.cumsum(lens)])
    text = [" ".join(WORDS[w] for w in words[cuts[i]:cuts[i + 1]]) for i in range(n_doc)]
    # a few planted exact duplicates for the dedup operators
    for i in range(min(8, n_doc // 600)):
        text[n_doc - 1 - i] = text[i] + " dup"
        text[i] = text[n_doc - 1 - i]
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pick(LANGS, rng.choice(5, n_doc, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64())})
    emb = rng.normal(0.0, 0.125, (n_vec, 64)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})


def main():
    out, sf = sys.argv[1], float(sys.argv[2])
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(SEED)
    for name, table in tables(sf, rng):
        tmp = os.path.join(out, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, compression="snappy", row_group_size=1 << 30)
        os.replace(tmp, os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main()
