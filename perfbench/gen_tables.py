"""Seeded generator for the query workloads' tables.

Writes the ten tables the queries read (`region nation customer supplier
part orders lineitem events documents embeddings`), one parquet file
each, with the column names, types and value domains of the suite's
TPC-H-like test tables. Row counts scale with `sf` the same way: sf0.1
gives 600,000 lineitem rows. The same seed gives the same files.

Usage: python3 gen_tables.py <out_dir> <sf> <seed>
"""
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14])
NAMES = [f"{c} {n}" for c in ("red", "blue", "small", "large", "hot", "old",
                             "green", "cold")
         for n in ("widget", "ring", "bolt", "plate", "rod", "gear", "pipe",
                   "nut")]


def ts(day0, seconds):
    """Microsecond timestamps (no time zone) from a date and offsets."""
    base = np.datetime64(day0, "us")
    return pa.array(base + (seconds * 1e6).astype("int64").astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), max(500, int(20000 * sf))
    n_users = max(150, int(15000 * sf))
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["MACHINERY", "FURNITURE", "BUILDING",
                                    "AUTOMOBILE", "HOUSEHOLD"], n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": rng.choice(NAMES, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL",
                              "ECONOMY"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    span = 6.6 * 365 * 86400
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": ts("1995-01-01", np.floor(rng.uniform(0, span, n_ord) / 86400) * 86400),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    okey = np.sort(rng.integers(0, n_ord, n_line))
    qty = rng.integers(1, 51, n_line).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": ts("1995-01-02", np.floor(rng.uniform(0, span, n_line) / 86400) * 86400)})
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": ts("2024-01-01", np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for _ in range(n_doc):
        words = list(rng.choice(WORDS, rng.integers(10, 100)))
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS[0], n_doc, p=LANGS[1]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    labels = rng.integers(0, 10, n_emb).astype("int32")
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels})
    for name, t in tables.items():
        pq.write_table(t, f"{out}/{name}.parquet")


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
