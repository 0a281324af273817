"""Deterministic input tables for the benchmark.

Writes the four tables the engine reads from an input directory
(lineitem, documents, embeddings, events), shaped like the TPC-H-style
synthetic data the engine's oracle runs on: uniform keys, random-word
documents and 64-dimensional embeddings, each with a few planted
near-duplicates, and a month of typed events.  The tables depend only on the scale factor
and a fixed data seed, so the expected row counts in `expected.json` hold
for every workload seed.
"""

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
WORDS = ("row the query stream fast spark line small customer group value "
         "hash batch sort data big filter key agg scan slow table part a "
         "merge window order column join vector").split()
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def lineitem(rng, sf):
    n = int(6_000_000 * sf)
    orders, parts, supps = int(1_500_000 * sf), int(200_000 * sf), int(10_000 * sf)
    day0 = np.datetime64("1995-01-02", "us")
    return pa.table({
        "l_orderkey": rng.integers(0, orders, n, dtype=np.int64),
        "l_partkey": rng.integers(0, parts, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, supps, n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": day0 + rng.integers(0, 2498, n) * np.timedelta64(1, "D"),
    })


def documents(rng, sf):
    n = int(50_000 * sf)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document, for the dedup queries
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(8, 90))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n,
                           p=[0.5, 0.125, 0.125, 0.125, 0.125]),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, sf):
    n = int(50_000 * sf)
    vecs = rng.normal(0.0, 0.1, (n, 64))
    for i in range(1, n):
        if rng.random() < 0.1:
            # an earlier vector plus noise (cosine about 0.9), so the
            # near-duplicate query has pairs to find
            vecs[i] = vecs[rng.integers(0, i)] + rng.normal(0.0, 0.05, 64)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n, dtype=np.int32),
    })


def events(rng, sf):
    n = int(1_000_000 * sf)
    start = np.datetime64(datetime.datetime(2024, 1, 1), "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.uniform(0.01, 490.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def generate(out_dir, sf):
    """Write the four tables for scale factor `sf` under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, make in (("lineitem", lineitem), ("documents", documents),
                       ("embeddings", embeddings), ("events", events)):
        rng = np.random.default_rng([DATA_SEED, hash_name(name)])
        pq.write_table(make(rng, sf), os.path.join(out_dir, f"{name}.parquet"))


def hash_name(name):
    """A stable per-table stream id (Python's `hash` differs per process)."""
    return sum(ord(c) * 31 ** i for i, c in enumerate(name)) % (2 ** 31)
