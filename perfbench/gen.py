"""Seeded input tables for the benchmark.

Writes the engine's catalog layout (``{dir}/{table}.parquet``, schemas as
in ``bigdata2016w_spark.sources.catalog``) with the row counts (scale
factor 0.1) and value distributions of the project's synthetic test data:
TPC-H-like orders with uniform keys and attributes, documents of 10-100
words over a 30-word vocabulary of which 5% are a copy of another
document plus the token ``dup``, and unit-norm 64-d embeddings with a 0-9
label. Only NumPy and PyArrow are used, so the engine under test never
sees how its inputs were made.
"""

from __future__ import annotations

import datetime as dt
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
DUP_RATE = 0.05
EMB_DIM = 64

# rows per table at scale factor 0.1; every run uses the same sizes, only
# the values vary with the seed
SIZES = {
    "orders": 150_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
N_CUSTOMERS = 15_000
_EPOCH = dt.datetime(1970, 1, 1)


def _days(lo: dt.datetime, hi: dt.datetime, n: int, rng) -> pa.Array:
    a, b = (lo - _EPOCH).days, (hi - _EPOCH).days
    us = rng.integers(a, b + 1, n).astype("int64") * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def orders(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, n, dtype="int64")),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n), 2)),
        "o_orderdate": _days(dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n, rng),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)),
    })


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    # near-duplicates: a copy of another (original) document plus "dup"
    dups = rng.choice(n, int(n * DUP_RATE), replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for d in dups.tolist():
        texts[d] = texts[int(rng.choice(originals))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype("int32")),
    })


_MAKERS = {"orders": orders, "documents": documents, "embeddings": embeddings}


def write_tables(out_dir: Path, tables: tuple[str, ...], seed: int) -> None:
    """Write each named table for ``seed`` as ``{out_dir}/{name}.parquet``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for i, name in enumerate(sorted(tables)):
        rng = np.random.default_rng([seed, i])
        pq.write_table(_MAKERS[name](rng, SIZES[name]), out_dir / f"{name}.parquet")


def write_stream_batches(docs_path: Path, out_dir: Path, seed: int,
                         n_docs: int, n_batches: int) -> None:
    """A seeded sample of ``n_docs`` documents (``doc_id``, ``text``) in
    seeded order, split into ``n_batches`` parquet files. Their mtimes
    increase in batch order, the order a file stream source reads them."""
    docs = pq.read_table(docs_path, columns=["doc_id", "text"])
    rng = np.random.default_rng([seed, 1_000])
    take = rng.permutation(docs.num_rows)[:n_docs]
    out_dir.mkdir(parents=True)
    for b, idx in enumerate(np.array_split(take, n_batches)):
        f = out_dir / f"{b:03d}.parquet"
        pq.write_table(docs.take(idx), f)
        os.utime(f, (1_600_000_000 + b, 1_600_000_000 + b))
