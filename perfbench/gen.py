"""Seeded input generator for the benchmark.

Writes TPC-H-ish `orders`/`customer`/`nation`/`region` and the LLM
corpus tables `documents`/`embeddings` into one directory, each as a
SINGLE parquet file (`<dir>/<name>.parquet`), the layout
`graft.sources.Catalog` reads. The same seed gives the same bytes. The
shapes follow the repository's test tables: seven years of orders,
random-word documents over a 30-word vocabulary with about 5 %
`dup`-suffixed near copies, unit-norm 64-d embeddings with ten labels.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.145, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

ORDERS_START = np.datetime64("1995-01-01", "D")
ORDERS_DAYS = int((np.datetime64("2001-08-01", "D") - ORDERS_START).astype(int))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def orders_tables(out_dir, rng, n_orders, key_shift=0):
    n_cust = max(n_orders // 10, 10)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    days = rng.integers(0, ORDERS_DAYS, n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders) + key_shift, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(850.0, 550000.0, n_orders), 2),
        "o_orderdate": _ts((ORDERS_START + days).astype("datetime64[us]")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)]})


def documents_table(out_dir, rng, n_docs):
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near copy of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and rng.random() < 0.002:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(8, 96)))
            texts.append(" ".join(VOCAB[w] for w in words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings_table(out_dir, rng, n_vecs, dim=64):
    x = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})


def generate(out_dir, seed, orders=0, docs=0, vecs=0):
    """Write every table a workload asks for; returns input bytes."""
    import os
    rng = np.random.default_rng(seed)
    if orders:
        orders_tables(out_dir, rng, orders, key_shift=int(rng.integers(0, 1000)) * 1000)
    if docs:
        documents_table(out_dir, rng, docs)
    if vecs:
        embeddings_table(out_dir, rng, vecs)
    return sum(os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir))
