"""Seeded synthetic inputs for the benchmark.

``write_tables(out_dir, sf, seed)`` writes the ten parquet tables the
query registry reads (``sources.tables.TABLES``), with the same schemas
and value domains as the engine's test data: a TPC-H-like star schema,
an ``events`` log, a small ``documents`` corpus with planted near-dup
copies, and label-clustered unit ``embeddings``. Row counts scale with
``sf`` (lineitem ~6M*sf); the same (sf, seed) always yields the same
bytes-for-bytes values.

``stream_batches(n_batches, rows, seed)`` pre-generates the
``(seq_no, category, kind, value)`` batches the streaming workload
appends, with Zipf-skewed categories.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
STREAM_KINDS = ["keep", "drop", "audit"]
N_CATEGORIES = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Random word sequences over a 30-word vocabulary; ~5% of docs are
    near-dup copies of an earlier doc (one word swapped, a ``dup`` tag
    appended) and a few are verbatim copies."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    centroids = rng.normal(0.0, 0.02, (N_LABELS, EMB_DIM))
    label = rng.integers(0, N_LABELS, n).astype(np.int32)
    x = centroids[label] + rng.normal(0.0, 0.125, (n, EMB_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.array(list(x.astype(np.float32)), pa.list_(pa.float32()))
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": label}


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    })
    order_day = rng.integers(0, 2405, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + order_day * _DAY_US),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_line = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    l_part = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_day = np.repeat(order_day, lines) + rng.integers(1, 122, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_line,
        "l_quantity": qty,
        # a unit price in whole hundreds times quantity: extendedprice /
        # quantity is exact, and extendedprice * (1 - discount) * (1 + tax)
        # lands on whole cents, so no rounded sum sits on a half-cent tie
        # that Spark and DuckDB could break differently
        "l_extendedprice": qty * 100.0 * rng.integers(9, 50, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1995 + ship_day * _DAY_US),
    })
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + ev_us),
        "user_id": rng.integers(0, max(15, n_evt // 66), n_evt).astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(40.0, n_evt), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_evt)],
    })
    _write(out_dir, "documents", _documents(rng, n_doc))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb))
    return {"lineitem": n_li, "orders": n_ord, "events": n_evt, "documents": n_doc}


def stream_batches(n_batches: int, rows: int, seed: int) -> list[dict]:
    """``n_batches`` column dicts of ``rows`` rows each; ``seq_no`` runs
    0.. across batches, categories are Zipf(1.2) over N_CATEGORIES."""
    rng = np.random.default_rng(seed)
    out = []
    for b in range(n_batches):
        cat = np.minimum(rng.zipf(1.2, rows), N_CATEGORIES) - 1
        out.append({
            "seq_no": np.arange(b * rows, (b + 1) * rows, dtype=np.int64),
            "category": [f"c{j:02d}" for j in cat],
            "kind": [STREAM_KINDS[j] for j in rng.integers(0, 3, rows)],
            "value": np.round(rng.uniform(0, 100, rows), 2),
        })
    return out
