"""Operator-sweep input tables, generated from a seed.

Writes the tables the `ops_sweep` queries and their DuckDB oracles read, in
the schema of the operator testdata (one `<table>.parquet` file each), at the
size of the testdata scale the bench is sized for (sf0.1): region 5, nation
25, customer 15000, supplier 1000, orders 150000, documents 5000, embeddings
2000 x 64. Sizes and distributions are the ones measured on that testdata
(perfbench/NOTES.md, "ops_sweep inputs"):

- documents: 10-99 words drawn uniformly from a 30-word vocabulary; lang
  en 41%, zh/de/fr/es 15% each; source `src<doc_id % 20>`; 5% of the
  documents are another document's text plus a trailing " dup" (the
  near-duplicates the dedup operators must find).
- embeddings: isotropic Gaussian vectors scaled to unit norm, float32, with
  a label drawn uniformly from 0-9 that does not depend on the vector.
- customer, supplier, orders: keys from 0, foreign keys uniform.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("scan column window order sort part agg value line key join merge group "
         "query a vector hash slow stream filter fast the batch spark table small "
         "data big customer row").split()
LANGS, LANG_P = ["en", "zh", "de", "fr", "es"], [0.40, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
N_CUST, N_SUPP, N_ORD, N_DOCS, N_VECS, DIM = 15000, 1000, 150000, 5000, 2000, 64
DUP_SHARE = 0.05
ORDER_DAYS = 2405  # 1995-01-01 .. 2001-08-01


def _write(out, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out, f"{name}.parquet"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.array(values, dtype=object)[rng.choice(len(values), n, p=p)]


def generate(seed, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    _write(out, "region", {"r_regionkey": list(range(5)), "r_name": REGIONS},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(out, "nation", {"n_nationkey": list(range(25)),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                      ("n_regionkey", pa.int32())]))
    _write(out, "customer", {
        "c_custkey": np.arange(N_CUST),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": rng.integers(0, 25, N_CUST),
        "c_acctbal": _money(rng, N_CUST, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUST)},
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]))
    _write(out, "supplier", {
        "s_suppkey": np.arange(N_SUPP),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": rng.integers(0, 25, N_SUPP),
        "s_acctbal": _money(rng, N_SUPP, -999.99, 9999.99)},
        pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    day0 = np.datetime64("1995-01-01", "us")
    _write(out, "orders", {
        "o_orderkey": np.arange(N_ORD),
        "o_custkey": rng.integers(0, N_CUST, N_ORD),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORD),
        "o_totalprice": _money(rng, N_ORD, 1000.0, 500000.0),
        "o_orderdate": day0 + rng.integers(0, ORDER_DAYS, N_ORD) * np.timedelta64(1, "D"),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORD)},
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]))

    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), int(k)))
             for k in rng.integers(10, 100, N_DOCS)]
    for i in rng.choice(N_DOCS, int(N_DOCS * DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, N_DOCS))] + " dup"
    _write(out, "documents", {
        "doc_id": np.arange(N_DOCS), "text": texts,
        "lang": _pick(rng, LANGS, N_DOCS, LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": [len(t) for t in texts]},
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                   ("source", pa.string()), ("n_chars", pa.int64())]))

    x = rng.normal(size=(N_VECS, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(N_VECS),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(x.astype(np.float32).ravel()), DIM).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_VECS)},
        pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]))
