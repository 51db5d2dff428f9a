"""Seeded synthetic input tables for the benchmark.

Writes the ten tables the query registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``)
as one parquet file each under ``<root>/sf<scale>/``. The schemas,
key ranges and value domains follow the project's test tables; the
seed picks the values, a rotation of the ``events`` keys (which moves
the derived lat/lng of every event while keeping the key set, so the
queries that filter on small ``event_id`` ranges keep their rows) and
the row order of the larger tables. The same seed and scale always give the same files.

Row counts are proportional to ``scale`` (sf0.1 = 600k lineitem rows).
The directory name carries the scale because some queries size
themselves by parsing it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast "
    "row agg key query scan batch"
).split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
PART_ADJ = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
PART_NOUN = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])

EPOCH_ORDERS = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - EPOCH_ORDERS).astype(int))
# events.ts is TIMESTAMP(MICROS), the unit the project's test tables
# store, so Spark reads it as a timestamp on both
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def sf_dir(root: str, scale: float) -> str:
    return os.path.join(root, f"sf{scale:g}")


def _rows(base_at_sf01: int, scale: float) -> int:
    return max(1, int(round(base_at_sf01 * scale / 0.1)))


def _write(out: str, name: str, cols: dict, perm: np.ndarray | None = None) -> None:
    table = pa.table(cols)
    if perm is not None:
        table = table.take(pa.array(perm))
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Uniform words over a small vocabulary, 10-100 words per doc,
    with planted exact copies (1 in 625) and near-duplicates (1 in 20:
    another doc's text plus the token ``dup``) so the dedup queries
    have work that ends in non-empty results."""
    vocab = np.array(WORDS)
    lengths = rng.integers(10, 101, size=n)
    words = vocab[rng.integers(0, len(vocab), size=int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    order = rng.permutation(n)
    n_exact, n_near = n // 625, n // 20
    for j in range(n_exact):
        texts[order[2 * j]] = texts[order[2 * j + 1]]
    for j in range(n_near):
        dst, src = order[2 * n_exact + 2 * j], order[2 * n_exact + 2 * j + 1]
        texts[dst] = texts[src] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    """Unit vectors with a weak pull toward one of ten label centres."""
    label = rng.integers(0, 10, size=n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = rng.normal(size=(n, dim)) + 0.25 * centers[label]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            offsets, pa.array(vecs.astype(np.float32).ravel())
        ),
        "label": label,
    }


def generate(root: str, seed: int, scale: float = 0.1) -> str:
    """Write every table for ``seed`` at ``scale``; return the sf dir."""
    rng = np.random.default_rng(seed)
    out = sf_dir(root, scale)
    os.makedirs(out, exist_ok=True)

    _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })

    n_cust = _rows(15_000, scale)
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })

    n_supp = _rows(1_000, scale)
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })

    n_part = _rows(20_000, scale)
    part_ids = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": part_ids,
        "p_name": np.char.add(
            np.char.add(rng.choice(PART_ADJ, n_part), " "),
            rng.choice(PART_NOUN, n_part),
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (part_ids % 1000) / 10.0, 1),
    })

    n_ord = _rows(150_000, scale)
    order_day = rng.integers(0, ORDER_DAYS + 1, n_ord)
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": (EPOCH_ORDERS + order_day).astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }, rng.permutation(n_ord))

    n_li = _rows(600_000, scale)
    li_order = rng.integers(0, n_ord, n_li)
    ship = EPOCH_ORDERS + order_day[li_order] + rng.integers(1, 122, n_li)
    _write(out, "lineitem", {
        "l_orderkey": li_order.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n_li),
        "l_shipdate": ship.astype("datetime64[us]"),
    })

    n_ev = _rows(100_000, scale)
    key_offset = int(rng.integers(0, n_ev))
    offsets_us = np.sort(rng.integers(0, EVENTS_SPAN_US, n_ev))
    _write(out, "events", {
        "event_id": (np.arange(n_ev, dtype=np.int64) + key_offset) % n_ev,
        "ts": EVENTS_T0 + offsets_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, _rows(1_500, scale), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, rng.permutation(n_ev))

    n_doc = _rows(5_000, scale)
    _write(out, "documents", _documents(rng, n_doc), rng.permutation(n_doc))
    _write(out, "embeddings", _embeddings(rng, _rows(2_000, scale)))
    return out
