"""Deterministic synthetic tables for the graft benchmark.

Writes the ten parquet tables the engine reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) in the
shape of the repository's shared test tables (TESTDATA.md), which the
benchmark cannot read: the same schemas and row counts (lineitem =
6,000,000 x sf), uniform keys, microsecond event timestamps over 30 days
with ~66 events per user, a 31-word vocabulary of 10-100-word texts of
which ~5% are an earlier text plus " dup", and 64-dim unit embeddings.

The tables depend only on `sf` and the fixed TABLE_SEED, so every run of
a workload reads the same data; the workload seed varies the query order
and the OCR images instead.

Usage: python3 perfbench/datagen.py <sf> <out_dir>
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join order query customer "
         "filter stream group big small vector").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DAY_US = 86_400_000_000


def us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out: Path, name: str, cols: dict, schema: pa.Schema):
    table = pa.table({f.name: pa.array(cols[f.name], type=f.type) for f in schema},
                     schema=schema)
    tmp = out / f".{name}.parquet.tmp"
    pq.write_table(table, tmp, compression="snappy")
    tmp.rename(out / f"{name}.parquet")


def ids(n):
    return np.arange(n, dtype=np.int64)


def documents(rng, n):
    lengths = rng.integers(10, 101, n)
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), lengths[i])))
    return {
        "doc_id": ids(n), "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def generate(sf: float, out: Path):
    rng = np.random.default_rng([TABLE_SEED, int(round(sf * 1e6))])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    S = lambda *fs: pa.schema([pa.field(k, t) for k, t in fs])

    write(out, "region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
          S(("r_regionkey", i32), ("r_name", s)))
    write(out, "nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": np.arange(25, dtype=np.int32) % 5},
          S(("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)))
    write(out, "customer", {
        "c_custkey": ids(n_cust), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]},
        S(("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64),
          ("c_mktsegment", s)))
    write(out, "supplier", {
        "s_suppkey": ids(n_supp), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)},
        S(("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)))
    write(out, "part", {
        "p_partkey": ids(n_part),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (ids(n_part) % 1000) / 10, 1)},
        S(("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s), ("p_size", i32),
          ("p_retailprice", f64)))
    d0 = us("1995-01-01")
    write(out, "orders", {
        "o_orderkey": ids(n_ord), "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": d0 + rng.integers(0, 2404, n_ord) * DAY_US,
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]},
        S(("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s), ("o_totalprice", f64),
          ("o_orderdate", ts), ("o_orderpriority", s)))
    write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line), "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
        "l_shipdate": d0 + DAY_US + rng.integers(0, 2499, n_line) * DAY_US},
        S(("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
          ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
          ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)))
    span = 30 * DAY_US
    write(out, "events", {
        "event_id": ids(n_evt),
        "ts": us("2024-01-01") + np.sort(rng.integers(0, span, n_evt)),
        "user_id": rng.integers(0, max(150, n_evt // 66), n_evt),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_evt)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_evt)]},
        S(("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s), ("value", f64),
          ("props", s)))
    write(out, "documents", documents(rng, n_doc),
          S(("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)))
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out, "embeddings", {"vec_id": ids(n_emb), "embedding": list(vecs),
                              "label": rng.integers(0, 10, n_emb).astype(np.int32)},
          S(("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)))


if __name__ == "__main__":
    sf, out = float(sys.argv[1]), Path(sys.argv[2])
    out.mkdir(parents=True, exist_ok=True)
    generate(sf, out)
