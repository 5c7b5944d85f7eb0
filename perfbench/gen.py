"""Seeded input generators for the benchmark.

Every table is a deterministic function of its seed (numpy PCG64), so the
same seed always yields byte-identical parquet files.  Shapes mirror the
TPC-H-ish fixture tables the library's queries are written against:

- ``tables``: ``lineitem`` (600 k rows), ``orders`` (150 k) and ``events``
  (100 k) at scale factor 0.1;
- ``replicate``: ``lineitem`` replicated 16 times with the row order
  shuffled, written as several row groups so a scan splits across cores;
- ``corpus``: ``documents`` and ``embeddings`` for the training-data
  stages, with planted near-duplicates and exact duplicates.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SF = 0.1          # scale factor of the base tables
FACTOR = 16       # copies of lineitem in the replica
ROW_GROUPS = 8    # row groups of the replica, so a scan splits across cores
N_DOCS, N_VECS, DIM = 5000, 2000, 64


def _write(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _days(base, offsets, unit):
    start = np.datetime64(base, unit)
    step = np.timedelta64(1, "D").astype(f"timedelta64[{unit}]")
    return start + offsets.astype(np.int64) * step


def lineitem(rng, n):
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = rng.integers(90000, 210001, n) / 100.0
    return pa.table({
        "l_orderkey": rng.integers(0, n // 4, n),
        "l_partkey": rng.integers(0, n // 30, n),
        "l_suppkey": rng.integers(0, n // 600, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(_days("1995-01-02", rng.integers(0, 2499, n), "ms")),
    })


def orders(rng, n):
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n // 10, n),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": rng.integers(80000, 50000000, n) / 100.0,
        "o_orderdate": pa.array(_days("1995-01-01", rng.integers(0, 2404, n), "ms")),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n)]),
    })


def events(rng, n):
    kinds = np.array(["signup", "click", "error", "view", "purchase"])
    # microsecond timestamps: TargetRegistry.loadTable reads the file
    # as-is, and Spark rejects parquet TIMESTAMP(NANOS)
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + micros.astype("timedelta64[us]")
    props = ['{"k": %d}' % k for k in rng.integers(0, 100, n)]
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n),
        "event_type": pa.array(kinds[rng.integers(0, 5, n)]),
        "value": np.round(rng.exponential(20.0, n), 2),
        "props": pa.array(props),
    })


def tables(out_dir, seed):
    """lineitem / orders / events at scale factor ``SF``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(lineitem(rng, int(6_000_000 * SF)), os.path.join(out_dir, "lineitem.parquet"))
    _write(orders(rng, int(1_500_000 * SF)), os.path.join(out_dir, "orders.parquet"))
    _write(events(rng, int(1_000_000 * SF)), os.path.join(out_dir, "events.parquet"))


def replicate(base_dir, out_dir, seed):
    """``FACTOR`` copies of base lineitem, rows shuffled by ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    base = pq.read_table(os.path.join(base_dir, "lineitem.parquet"))
    n = base.num_rows
    perm = np.random.default_rng(seed).permutation(n * FACTOR) % n
    path = os.path.join(out_dir, "lineitem.parquet")
    tmp = path + ".tmp"
    with pq.ParquetWriter(tmp, base.schema) as w:
        for chunk in np.array_split(perm, ROW_GROUPS):
            w.write_table(base.take(pa.array(chunk)), row_group_size=len(chunk))
    os.replace(tmp, path)


def corpus(out_dir, seed):
    """documents + embeddings; ~5% near-duplicate and a few exact-duplicate docs."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 20 and r < 0.05:      # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.052:   # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    docs = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), N_DOCS, p=LANG_P)]),
        "source": pa.array(["src%d" % s for s in rng.integers(0, 20, N_DOCS)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    labels = rng.integers(0, 10, N_VECS).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    v = centers[labels] + rng.normal(0.0, 1.2, (N_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, N_VECS * DIM + 1, DIM, dtype=np.int32)),
            pa.array(v.reshape(-1))),
        "label": labels,
    })
    _write(emb, os.path.join(out_dir, "embeddings.parquet"))
