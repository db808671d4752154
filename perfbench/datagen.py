"""Seeded input generator for the benchmark.

Writes the ten registry tables (TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings``) with the column names, types and value
ranges of the repository's test data (TESTDATA.md), and the (siren,
période) monthly panel the CLI ``train``/``predict`` commands read.  Only
numpy and pyarrow are used, so generation needs no Spark session.  The
same seed and scale always give byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "de", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _days_us(first: dt.date, last: dt.date, rng: np.random.Generator, n: int) -> np.ndarray:
    """Uniform random midnights in [first, last] as epoch microseconds."""
    lo = (dt.datetime.combine(first, dt.time()) - _EPOCH).days
    hi = (dt.datetime.combine(last, dt.time()) - _EPOCH).days
    return rng.integers(lo, hi + 1, n).astype(np.int64) * _DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float = 0.01) -> dict[str, int]:
    """Write the registry tables at scale ``sf`` (0.01 ≈ 60k lineitems)
    under ``out_dir``; return the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_docs = n_vecs = 500
    ts = pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(
            _days_us(dt.date(1995, 1, 1), dt.date(2001, 8, 1), rng, n_ord), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(
            _days_us(dt.date(1995, 1, 2), dt.date(2001, 11, 4), rng, n_line), ts),
    })
    # events: a 30-day stream with exponential gaps, ordered by event_id
    gaps = rng.exponential(30 * 86_400e6 / n_events, n_events)
    start = (dt.datetime(2024, 1, 1) - _EPOCH).days * _DAY_US
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(start + np.cumsum(gaps).astype(np.int64), ts),
        "user_id": pa.array(
            rng.integers(0, max(5, n_cust // 10), n_events).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    # documents: random vocabulary text; one in twenty repeats an
    # earlier document with a trailing " dup" (near-duplicates)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    # embeddings: ten clusters of unit vectors in 64 dimensions
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_line,
            "part": n_part, "supplier": n_supp, "events": n_events,
            "documents": n_docs, "embeddings": n_vecs}


def write_panel(path: str, seed: int, n_sirens: int, n_months: int = 36) -> int:
    """Write the (siren, période) monthly panel read by ``train`` and
    ``predict``: a revenue series ``ca`` per firm, where the firms that
    fail (``date_jugement`` set) see revenue decay before the judgment.
    Returns the row count."""
    rng = np.random.default_rng(seed)
    fails = rng.random(n_sirens) < 0.3
    first = dt.date(2020, 1, 1)
    months = np.array(
        [(first.year * 12 + first.month - 1 + m) for m in range(n_months)])
    period_days = np.array([
        (dt.date(int(ym // 12), int(ym % 12) + 1, 1) - dt.date(1970, 1, 1)).days
        for ym in months], dtype=np.int32)
    # judgment some months after the panel's midpoint for failing firms
    judge_m = rng.integers(n_months // 2, n_months + 6, n_sirens)
    # failing firms start smaller, so the revenue level alone separates
    # the classes well enough for the train command's AUC check
    base = rng.lognormal(np.where(fails, 7.5, 8.5), 0.5)
    m_idx = np.arange(n_months)
    decay = np.where(
        fails[:, None] & (m_idx[None, :] > judge_m[:, None] - 12),
        0.85 ** np.clip(m_idx[None, :] - (judge_m[:, None] - 12), 0, None), 1.0)
    ca = base[:, None] * decay * (1.0 + 0.05 * rng.standard_normal((n_sirens, n_months)))
    judge_days = np.array([
        (dt.date(int((months[0] + j) // 12), int((months[0] + j) % 12) + 1, 1)
         - dt.date(1970, 1, 1)).days for j in judge_m], dtype=np.int32)
    n = n_sirens * n_months
    siren = np.repeat([f"{i:09d}" for i in range(n_sirens)], n_months)
    jd = np.repeat(judge_days, n_months)
    mask = ~np.repeat(fails, n_months)
    pq.write_table(pa.table({
        "siren": pa.array(siren),
        "période": pa.array(np.tile(period_days, n_sirens), pa.date32()),
        "ca": pa.array(np.round(ca.reshape(-1), 2)),
        "date_jugement": pa.array(jd, pa.date32(), mask=mask),
    }), path)
    return n
