"""Seeded input tables for the benchmark.

`write_tables(out_dir, seed, scale, names)` writes the named harness
tables (one parquet file each) in the schema and value distributions of
the repository's sf fixtures. `scale` multiplies the sf0.1 row counts
below. Each table draws from its own generator, seeded by (seed, table),
so the same seed and scale always give the same rows whichever tables are
written.
"""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 fixture. Part and supplier tables are not
# written, but lineitem's foreign keys range over their sizes.
BASE_ROWS = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "documents": 5000, "embeddings": 2000,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(start, n_days, rng, n):
    off = rng.integers(0, n_days, n) * 86_400_000_000
    return np.datetime64(start, "us") + off.astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _customer(rng, n):
    c = n["customer"]
    return pd.DataFrame({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c)})


def _orders(rng, n):
    o = n["orders"]
    return pd.DataFrame({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], o).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days("1995-01-01", 2404, rng, o),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], o)})


def _lineitem(rng, n):
    li = n["lineitem"]
    return pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], li).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], li).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": np.round(rng.integers(0, 11, li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, li) * 0.01, 2),
        "l_returnflag": rng.choice(["N", "A", "R"], li),
        "l_linestatus": rng.choice(["O", "F"], li),
        "l_shipdate": _days("1995-01-02", 2498, rng, li)})


def _documents(rng, n):
    """Random-token documents; one in twenty repeats an earlier
    document's text with a trailing ` dup` token (near-duplicates)."""
    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return pd.DataFrame({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def planted_twin(vec_id):
    """The vector a planted near-duplicate copies: ids 4 (mod 5) are
    perturbed copies of the id before them."""
    return vec_id - 1 if vec_id % 5 == 4 else vec_id


def _embeddings(rng, n):
    """Unit Gaussian 64-d vectors; every id 4 (mod 5) is a copy of the
    id before it plus noise, at cosine about 0.94."""
    e = n["embeddings"]
    vecs = rng.standard_normal((e, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    twins = np.arange(4, e, 5)
    noise = rng.standard_normal((len(twins), 64)) * (0.363 / 8.0)
    vecs[twins] = vecs[twins - 1] + noise
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(e, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": rng.integers(0, 10, e).astype(np.int32)})


TABLES = {"customer": _customer, "orders": _orders, "lineitem": _lineitem,
          "documents": _documents, "embeddings": _embeddings}


def write_tables(out_dir, seed, scale, names):
    """Write each named table to `<out_dir>/<name>.parquet`."""
    n = {k: max(10, int(round(v * scale))) for k, v in BASE_ROWS.items()}
    # doc_id % 10 selectors need a multiple of 10 documents.
    n["documents"] -= n["documents"] % 10
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        rng = np.random.default_rng([seed, list(TABLES).index(name)])
        table = pa.Table.from_pandas(TABLES[name](rng, n),
                                     preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       coerce_timestamps="us")
