"""Seeded input tables for the operator pass of a traced run.

Writes the tables that the five replayed queries of ``ops.py`` read,
with the column names and types of the package's synthetic test
tables (``sources/tables.py``: ``documents``, ``embeddings``,
``events``, and the ``lineitem``/``orders``/``customer``/``supplier``/
``nation`` join chain of the trade graph), one parquet file each, so
the queries' ``load_table`` reads them unchanged. The values are drawn
here from the seed; the benchmark reads no file outside its checkout.

Shapes that give each query work to do, not a degenerate answer:

- documents: a closed vocabulary, and one in ``DUP_EVERY`` documents
  is a copy of an earlier one with one token changed, so the MinHash
  near-duplicate groups are not empty;
- embeddings: 64-dimensional unit vectors around ten label centroids;
- events: ``N_USERS`` users over ``EVENT_HOURS`` hours, about seven
  events per user-hour, so the five-per-hour admission cap drops some.

The sizes are those of the smallest fixture scale (``TESTDATA.md``,
sf0.001) times ``SCALE``: small, as the pass must fit in a traced run
beside the CDC rounds (the DuckDB oracle of ``dedup_groups`` alone
takes about 14 s at twice this size).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 1
N_DOCS = 500 * SCALE
N_VECS = 500 * SCALE
N_EVENTS = 1000 * SCALE
N_ORDERS = 1500 * SCALE
N_LINES = 6000 * SCALE
N_CUSTOMERS = 150 * SCALE
N_SUPPLIERS = 10 * SCALE
N_NATIONS = 25
N_USERS = 15
EVENT_HOURS = 10 * SCALE
DIM = 64
DUP_EVERY = 10
VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu the a of and"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
T0 = dt.datetime(2024, 1, 1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def documents(rng: np.random.Generator) -> dict:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= DUP_EVERY and i % DUP_EVERY == 0:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(20, 80)))]
        texts.append(" ".join(toks))
    return {
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), N_DOCS)]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def embeddings(rng: np.random.Generator) -> dict:
    centroids = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centroids[labels] + 0.5 * rng.normal(size=(N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def events(rng: np.random.Generator) -> dict:
    base = int(T0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    us = np.sort(rng.integers(0, EVENT_HOURS * 3_600_000_000, N_EVENTS)) + base
    return {
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": _ts(us),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, N_EVENTS)]),
        "value": pa.array(np.round(rng.uniform(0, 200, N_EVENTS), 2), pa.float64()),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, N_EVENTS)]),
    }


def trade(rng: np.random.Generator) -> dict[str, dict]:
    def money(n):
        return pa.array(np.round(rng.uniform(1, 1000, n), 2), pa.float64())

    def days(n):
        return _ts(rng.integers(0, 2000, n) * 86_400_000_000 + 694_224_000_000_000)

    return {
        "nation": {
            "n_nationkey": pa.array(np.arange(N_NATIONS), pa.int32()),
            "n_name": pa.array([f"NATION{i:02d}" for i in range(N_NATIONS)]),
            "n_regionkey": pa.array(np.arange(N_NATIONS) % 5, pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(1, N_CUSTOMERS + 1), pa.int64()),
            "c_name": pa.array([f"Customer#{i}" for i in range(1, N_CUSTOMERS + 1)]),
            "c_nationkey": pa.array(rng.integers(0, N_NATIONS, N_CUSTOMERS), pa.int32()),
            "c_acctbal": money(N_CUSTOMERS),
            "c_mktsegment": pa.array(
                [("AUTOMOBILE", "BUILDING", "MACHINERY")[j]
                 for j in rng.integers(0, 3, N_CUSTOMERS)]
            ),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(1, N_SUPPLIERS + 1), pa.int64()),
            "s_name": pa.array([f"Supplier#{i}" for i in range(1, N_SUPPLIERS + 1)]),
            "s_nationkey": pa.array(rng.integers(0, N_NATIONS, N_SUPPLIERS), pa.int32()),
            "s_acctbal": money(N_SUPPLIERS),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(1, N_ORDERS + 1), pa.int64()),
            "o_custkey": pa.array(rng.integers(1, N_CUSTOMERS + 1, N_ORDERS), pa.int64()),
            "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, N_ORDERS)]),
            "o_totalprice": money(N_ORDERS),
            "o_orderdate": days(N_ORDERS),
            "o_orderpriority": pa.array([f"{j}-PRIO" for j in rng.integers(1, 6, N_ORDERS)]),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(1, N_ORDERS + 1, N_LINES), pa.int64()),
            "l_partkey": pa.array(rng.integers(1, 200 * SCALE + 1, N_LINES), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, N_SUPPLIERS + 1, N_LINES), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINES), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, N_LINES).astype(float), pa.float64()),
            "l_extendedprice": money(N_LINES),
            "l_discount": pa.array(rng.integers(0, 11, N_LINES) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, N_LINES) / 100.0, pa.float64()),
            "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, N_LINES)]),
            "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, N_LINES)]),
            "l_shipdate": days(N_LINES),
        },
    }


def write_tables(out_dir: str, seed: int) -> list[str]:
    """Write every table to ``out_dir``; returns their names."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    tables = {
        "documents": documents(rng),
        "embeddings": embeddings(rng),
        "events": events(rng),
        **trade(rng),
    }
    for name, cols in tables.items():
        _write(out_dir, name, cols)
    return list(tables)
