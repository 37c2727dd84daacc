"""Deterministic fixture generator for the benchmark.

Writes one parquet file per table (`region nation customer supplier part
orders lineitem events documents embeddings`) in the schemas of the
TPC-H-ish fixtures the engine is written against (FIXTURES.md section 1).
The benchmark reads only its own checkout, so it generates these tables
instead of reading the reference set; their sizes and value distributions
were measured on the reference sf0.1 tables and are reproduced here:

- row counts (sf0.1): customer 15000, supplier 1000, part 20000, orders
  150000, lineitem 600000, events 100000, documents 5000, embeddings 2000;
- events: 1500 users drawn uniformly (45-99 events each), timestamps over
  the 30 days from 2024-01-01 uniformly, five event types in equal shares;
- documents: 10-100 words drawn uniformly from a 30-word vocabulary (31
  words with the duplicate marker), 5 % of them a copy of another document
  plus the word "dup", 41 % English and the rest split over four languages;
- embeddings: unit-norm 64-dim vectors, 10 labels.

`compare_fixtures.py` prints both sets side by side and fails if a row
count or a column's distinct count drifts by more than 5 %.

The data seed is fixed, so every run of the benchmark reads identical
tables and the expected output digests kept beside this file stay valid;
the workload seed only chooses query order, recommend users and event
arrival jitter.

    python3 perfbench/gen_data.py <out_dir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86400 * 1_000_000


def rng(table):
    # one independent stream per table: adding a table never shifts another
    return np.random.RandomState((DATA_SEED * 1000 + sum(map(ord, table))) % 2**32)


def days_us(start, r, n, span_days):
    base = int(np.datetime64(start, "us").astype(np.int64))
    return base + r.randint(0, span_days + 1, n).astype(np.int64) * DAY_US


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, sf):
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng("customer")
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.randint(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[r.randint(0, 5, n_cust)]})

    r = rng("supplier")
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.randint(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})

    r = rng("part")
    adj = np.array(["blue", "old", "small", "new", "red", "large", "hot", "cold"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    keys = np.arange(n_part, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pa.array(keys),
        "p_name": np.char.add(np.char.add(adj[r.randint(0, 8, n_part)], " "),
                              noun[r.randint(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", (r.randint(1, 26, n_part)).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[r.randint(0, 6, n_part)],
        "p_size": pa.array(r.randint(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    r = rng("orders")
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.randint(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[r.randint(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(days_us("1995-01-01", r, n_ord, 2403), pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[r.randint(0, 5, n_ord)]})

    r = rng("lineitem")
    write(out, "lineitem", {
        "l_orderkey": pa.array(r.randint(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(r.randint(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(r.randint(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(r.randint(1, 8, n_li).astype(np.int32)),
        "l_quantity": r.randint(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": np.round(r.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.randint(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.randint(0, 2, n_li)],
        "l_shipdate": pa.array(days_us("1995-01-02", r, n_li, 2498), pa.timestamp("us"))})

    r = rng("events")
    ts = np.sort(EPOCH_2024_US + r.randint(0, 30 * DAY_US, n_ev).astype(np.int64))
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.randint(0, n_users, n_ev).astype(np.int64)),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[r.randint(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.randint(0, 100, n_ev)]})

    r = rng("documents")
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[r.randint(0, len(VOCAB), r.randint(10, 101))])
             for _ in range(n_docs)]
    dups = np.flatnonzero(r.uniform(size=n_docs) < 0.05)
    for d in dups:
        src = r.randint(0, n_docs - 1)
        texts[d] = texts[src + (src >= d)] + " dup"
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": np.array(["en", "de", "es", "fr", "zh"])[
            r.choice(5, n_docs, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = rng("embeddings")
    e = r.normal(size=(n_emb, 64))
    e = (e / np.linalg.norm(e, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": pa.array(r.randint(0, 10, n_emb).astype(np.int32))})


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: gen_data.py <out_dir> <sf>")
    generate(sys.argv[1], float(sys.argv[2]))
