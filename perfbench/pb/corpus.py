"""Deterministic synthetic corpus in the engine's source-table shape.

The tables match the TPC-H-like star schema the engine indexes (orders,
lineitem, customer) plus the retrieval corpus (documents, embeddings). Row
counts, key ranges, value ranges, category shares, document vocabulary and
lengths, planted duplicates and the embedding distribution follow the
engine's scale-factor-0.1 test tables; README.md lists the measured figures
of both side by side. The corpus is fixed: it is generated from
CORPUS_SEED, never from a run's seed, so every run of every commit measures
the same data. Runs draw their inputs from their own seed.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240601
ORDERS = 150_000
LINES_PER_ORDER = 4
CUSTOMERS = 15_000
DOCUMENTS = 5_000
EMBEDDINGS = 2_000
DIM = 64
NEAR_DUPS = 250
EXACT_DUPS = 8
DUP_WORD = "dup"

STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "fr", "de", "es", "zh"]
LANG_WEIGHTS = [0.41, 0.15, 0.14, 0.15, 0.15]
VOCABULARY = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]

EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _days(rng, n, span):
    return EPOCH_1995 + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def generate(out_dir):
    """Write the corpus to `out_dir` (replaced atomically)."""
    rng = np.random.Generator(np.random.PCG64(CORPUS_SEED))
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    okeys = np.arange(ORDERS, dtype=np.int64)
    _write(pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, CUSTOMERS, ORDERS).astype(np.int64),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, ORDERS)]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, ORDERS), 2),
        "o_orderdate": pa.array(_days(rng, ORDERS, 2404), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, ORDERS)]),
    }), os.path.join(tmp, "orders.parquet"))

    n = ORDERS * LINES_PER_ORDER
    _write(pa.table({
        "l_orderkey": rng.integers(0, ORDERS, n).astype(np.int64),
        "l_partkey": rng.integers(0, 20_000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1_000, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(_days(rng, n, 2500), pa.timestamp("us")),
    }), os.path.join(tmp, "lineitem.parquet"))

    ckeys = np.arange(CUSTOMERS, dtype=np.int64)
    _write(pa.table({
        "c_custkey": ckeys,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ckeys]),
        "c_nationkey": rng.integers(0, 25, CUSTOMERS).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, CUSTOMERS), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, CUSTOMERS)]),
    }), os.path.join(tmp, "customer.parquet"))

    vocab = np.array(VOCABULARY)
    lengths = rng.integers(10, 101, DOCUMENTS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # planted duplicates: some documents repeat another's text, most of them
    # with the marker word appended (near-duplicates), the rest exactly
    picked = rng.choice(DOCUMENTS, 2 * (NEAR_DUPS + EXACT_DUPS), replace=False)
    for j, (dst, src) in enumerate(picked.reshape(-1, 2)):
        texts[dst] = texts[src] + (" " + DUP_WORD if j < NEAR_DUPS else "")
    _write(pa.table({
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), DOCUMENTS, p=LANG_WEIGHTS)]),
        "source": pa.array([f"src{i % 20}" for i in range(DOCUMENTS)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(tmp, "documents.parquet"))

    vecs = rng.standard_normal((EMBEDDINGS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            np.arange(0, EMBEDDINGS * DIM + 1, DIM, dtype=np.int32), pa.array(vecs.ravel())),
        "label": rng.integers(0, 10, EMBEDDINGS).astype(np.int32),
    }), os.path.join(tmp, "embeddings.parquet"))

    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
