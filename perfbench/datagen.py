"""Seeded generator for the engine's input tables.

Writes the ten tables the registry queries read (``region`` ...
``embeddings``), one single-row-group snappy parquet file each, with the
schemas, value domains and row counts per scale factor of the engine's
reference test data: a TPC-H-like star schema, an ``events`` stream
table, a small text corpus with near-duplicates and unit-norm
embeddings. Every column is drawn from ``numpy.random.default_rng(seed)``,
so the same (sf, seed) pair always writes the same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_DAY_US = 86_400_000_000


def _epoch_us(year: int) -> int:
    return (dt.datetime(year, 1, 1) - dt.datetime(1970, 1, 1)) \
        // dt.timedelta(microseconds=1)


_EPOCH_1995 = _epoch_us(1995)
_EPOCH_2024 = _epoch_us(2024)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(_VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # 5% near-duplicates (an earlier text plus a marker token) and a few
    # exact copies, so the dedup queries have work to find
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 1000), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(n, dtype="int64")
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, n_labels: int = 10) -> pa.Table:
    centers = rng.standard_normal((n_labels, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_labels, n)
    vecs = rng.standard_normal((n, dim)) + 0.5 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) \
        .astype("float32")
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32")),
    })


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_events = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    partkeys = np.arange(n_part, dtype="int64")
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": partkeys,
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (partkeys % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995
                           + rng.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995 + (rng.integers(0, 2405, n_line)
                                         + rng.integers(1, 95, n_line))
                          * _DAY_US),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(_EPOCH_2024 + ts),
        "user_id": rng.integers(0, n_users, n_events).astype("int64"),
        "event_type": _pick(rng, _EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_events)]),
    })
    out["documents"] = _documents(rng, max(500, round(50_000 * sf)))
    out["embeddings"] = _embeddings(rng, max(500, round(20_000 * sf)))
    return out


def write(sf_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<sf_dir>/<name>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))
