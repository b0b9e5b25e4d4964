"""Seeded input generator for the lakehouse benchmark.

Writes the engine's star schema (region nation customer supplier part
orders lineitem events documents embeddings, one parquet file per table)
with the column names, types and value ranges of the engine's synthetic
test data.  Everything is drawn from ``numpy.random.default_rng(seed)``,
so one seed always yields byte-identical tables; :func:`digest` hashes
the table contents to prove it.

Scale is given as a TPC-H style scale factor ``sf`` (6M*sf lineitem rows).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
_PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "anvil", "gear", "gizmo"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds() * 1_000_000)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo: dt.datetime, hi: dt.datetime, n: int) -> np.ndarray:
    days = rng.integers(0, (hi - lo).days + 1, n)
    return _us(lo) + days * 86_400_000_000


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _star(rng, sf: float) -> dict[str, pa.Table]:
    """The keyed tables of the star schema at scale ``sf``."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    cust = np.arange(n_cust)
    supp = np.arange(n_supp)
    part = np.arange(n_part)
    okey = np.arange(n_ord)
    return {
        "customer": pa.table({
            "c_custkey": cust,
            "c_name": [f"Customer#{c:09d}" for c in cust],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": supp,
            "s_name": [f"Supplier#{s:09d}" for s in supp],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": part,
            "p_name": pa.array(
                np.char.add(
                    np.char.add(np.asarray(_PART_ADJ)[rng.integers(0, 8, n_part)], " "),
                    np.asarray(_PART_NOUN)[rng.integers(0, 8, n_part)],
                ).astype(object)
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (part % 1000) * 0.1, 1),
        }),
        "orders": pa.table({
            "o_orderkey": okey,
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(_days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord)),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["O", "F"], n_line),
            "l_shipdate": _ts(_days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_line)),
        }),
    }


def _events(rng, sf: float) -> pa.Table:
    n = int(1_000_000 * sf)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + _us(dt.datetime(2024, 1, 1))
    return pa.table({
        "event_id": np.arange(n),
        "ts": _ts(ts),
        "user_id": rng.integers(0, 150, n),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": _money(rng, 0.01, 490.0, n),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n)]),
    })


def _documents(rng, sf: float) -> pa.Table:
    """Random-word documents; ~1% exact copies and ~5% near-copies (a few
    words replaced by ``dup``) of earlier documents, so the dedup family
    has work to find."""
    n = int(50_000 * sf)
    vocab = np.asarray(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.06:
            words = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    return pa.table({
        "doc_id": np.arange(n),
        "text": texts,
        "lang": _pick(rng, _LANGS, n),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng, sf: float) -> pa.Table:
    n, dim = int(20_000 * sf), 64
    label = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    vec = centers[label] + rng.normal(scale=1.5, size=(n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": np.arange(n),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label.astype("int32"),
    })


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    out = _star(rng, sf)
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["events"] = _events(rng, sf)
    out["documents"] = _documents(rng, sf)
    out["embeddings"] = _embeddings(rng, sf)
    return {t: out[t] for t in TABLES}


def permuted(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """The same rows in a seeded order (results must not depend on it)."""
    rng = np.random.default_rng(seed)
    return {t: tab.take(rng.permutation(tab.num_rows)) for t, tab in tables.items()}


def write(tables: dict[str, pa.Table], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def digest(tables: dict[str, pa.Table]) -> str:
    """Content hash over every table, in table order (row order counts)."""
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        for batch in tables[name].to_batches():
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, batch.schema) as w:
                w.write_batch(batch)
            h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()
