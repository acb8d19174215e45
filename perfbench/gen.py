"""Seeded generator for the benchmark's parquet tables.

Writes `events`, `documents`, `embeddings` and `lineitem` tables shaped like
the TPC-H-ish star schema plus event stream the query registry reads
(`graft.queries.Q.t(spark, dir, name)` opens `<dir>/<name>.parquet`). The
same seed and scale always give byte-identical tables.

Scale follows the query registry's convention: sf 0.1 means 100k events,
5k documents, 2k embeddings and 600k lineitem rows.

Interface: `generate(seed, sf, out, tables)`, which `run.py` calls.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data spark stream value big small vector group slow table key "
         "column window scan order hash merge row customer join fast filter "
         "line part sort query batch agg").split()
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
EPOCH_2024_US = 1704067200 * 1_000_000


def events(rng, sf):
    n = int(round(1_000_000 * sf))
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + EPOCH_2024_US
    value = np.minimum(np.round(rng.exponential(50.0, n), 2), 999.99)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, sf):
    """Bag-of-template-words texts; 5% are an earlier doc plus " dup"
    (the near-duplicate share the dedup family is tuned for)."""
    n = int(round(50_000 * sf))
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     rng.integers(10, 101))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS[0], n, p=LANGS[1])),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, sf, dim=64):
    n = int(round(20_000 * sf))
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0, 1, (10, dim))
    vec = centroids[labels] * 0.5 + rng.normal(0, 1, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def lineitem(rng, sf):
    n = int(round(6_000_000 * sf))
    day_us = 86400 * 1_000_000
    ship0 = 788_745_600 * 1_000_000  # 1995-01-02
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, int(1_500_000 * sf), n)),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n)),
        "l_suppkey": pa.array(rng.integers(0, max(1, int(10_000 * sf)), n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship0 + rng.integers(0, 2499, n) * day_us,
                               type=pa.timestamp("us")),
    })


TABLES = {"events": events, "documents": documents,
          "embeddings": embeddings, "lineitem": lineitem}


def generate(seed, sf, out, tables=tuple(TABLES)):
    os.makedirs(out, exist_ok=True)
    for i, name in enumerate(tables):
        # one independent stream per table: adding a table never shifts
        # another table's contents for the same seed
        rng = np.random.default_rng([seed, i])
        pq.write_table(TABLES[name](rng, sf), f"{out}/{name}.parquet")

