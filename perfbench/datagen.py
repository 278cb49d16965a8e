"""Seeded synthetic inputs for the benchmark workloads.

Every table is a pure function of ``seed``: the same seed gives the same
rows, bit for bit. Shapes and value ranges follow the engine's sf0.1
analytics fixtures (TPC-H-ish star schema plus ``events``, ``documents``
and ``embeddings``), so the registered queries see realistic selectivity.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_EVENTS = 100_000
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86_400
ORDERS_START = dt.datetime(1995, 1, 1)
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = ["red", "new", "hot", "small", "large", "cold", "old", "shiny"]
_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per table, so adding a table never shifts
    another table's values."""
    return np.random.default_rng([seed, *stream.encode()])


def _us(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _choice(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def region() -> pa.Table:
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": names,
    })


def nation() -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def customer(seed: int) -> pa.Table:
    rng = _rng(seed, "customer")
    n = N_CUSTOMER
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _choice(rng, segs, n),
    })


def supplier(seed: int) -> pa.Table:
    rng = _rng(seed, "supplier")
    n = N_SUPPLIER
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def part(seed: int) -> pa.Table:
    rng = _rng(seed, "part")
    n = N_PART
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": _choice(rng, names, n),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _choice(rng, types, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n) * 0.1, 1),
    })


def orders(seed: int) -> pa.Table:
    rng = _rng(seed, "orders")
    n = N_ORDERS
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    days = rng.integers(0, 2405, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, n), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _us(ORDERS_START, days * 86_400_000_000),
        "o_orderpriority": _choice(rng, prios, n),
    })


def lineitem(seed: int, order_days: np.ndarray) -> pa.Table:
    rng = _rng(seed, "lineitem")
    per_order = rng.integers(1, 8, len(order_days))
    okey = np.repeat(np.arange(len(order_days)), per_order)
    n = len(okey)
    starts = np.cumsum(per_order) - per_order
    linenumber = np.arange(n) - np.repeat(starts, per_order) + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = np.repeat(order_days, per_order) + rng.integers(1, 122, n)
    return pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["F", "O"], n),
        "l_shipdate": _us(ORDERS_START, ship * 86_400_000_000),
    })


def events_columns(seed: int) -> dict[str, np.ndarray]:
    """Column arrays of the ``events`` stream, in event-time order."""
    rng = _rng(seed, "events")
    n = N_EVENTS
    offs = np.sort(rng.integers(0, EVENTS_SPAN_S * 1_000_000, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts_us": offs,
        "user_id": rng.integers(0, 1500, n),
        "event_type": rng.integers(0, len(EVENT_TYPES), n),
        "value": np.round(rng.exponential(60.0, n), 2),
        "k": rng.integers(0, 100, n),
    }


def events(seed: int) -> pa.Table:
    c = events_columns(seed)
    return pa.table({
        "event_id": pa.array(c["event_id"], pa.int64()),
        "ts": _us(EVENTS_START, c["ts_us"]),
        "user_id": pa.array(c["user_id"], pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in c["event_type"]]),
        "value": c["value"],
        "props": [f'{{"k": {k}}}' for k in c["k"].tolist()],
    })


def documents(seed: int) -> pa.Table:
    """Random bag-of-words documents; ~5 % are near-duplicates of an
    earlier document (two words changed, a ``dup`` marker added), so the
    dedup and similarity operators have real pairs to find."""
    rng = _rng(seed, "documents")
    n = N_DOCUMENTS
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = WORDS[
                    int(rng.integers(0, len(WORDS)))
                ]
            words.insert(int(rng.integers(0, len(words))), "dup")
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), rng.integers(8, 98))]
        texts.append(" ".join(words))
    langs = rng.choice(5, size=n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [["en", "de", "es", "fr", "zh"][j] for j in langs],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed: int) -> pa.Table:
    rng = _rng(seed, "embeddings")
    n = N_EMBEDDINGS
    centers = rng.normal(size=(10, EMBED_DIM))
    label = rng.integers(0, 10, n)
    vecs = centers[label] + rng.normal(scale=0.8, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_sf_dir(seed: int, sf_dir: str) -> dict[str, int]:
    """Write every analytics table as ``{sf_dir}/{name}.parquet``;
    returns the row count per table."""
    os.makedirs(sf_dir, exist_ok=True)
    o = orders(seed)
    days = (
        o.column("o_orderdate").cast(pa.int64()).to_numpy()
        - _us(ORDERS_START, np.zeros(1)).cast(pa.int64()).to_numpy()[0]
    ) // 86_400_000_000
    tables = {
        "region": region(),
        "nation": nation(),
        "customer": customer(seed),
        "supplier": supplier(seed),
        "part": part(seed),
        "orders": o,
        "lineitem": lineitem(seed, days),
        "events": events(seed),
        "documents": documents(seed),
        "embeddings": embeddings(seed),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
