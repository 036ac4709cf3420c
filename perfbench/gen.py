"""Seeded input generators: the batch fixture tables and the stream files.

Everything the engine reads during a benchmark run is written here from
one ``numpy`` generator seeded by ``--seed``: the same seed gives the
same bytes.  The batch fixture mirrors the schemas and value domains of
the engine's test fixtures (FIXTURES.md): TPC-H-style star tables, an
``events`` table, a ``documents`` corpus with planted near-duplicates
and unit-norm ``embeddings``.  Stream files are pre-written before any
timing starts and later published by rename on a schedule.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the spark join stream small order merge column group customer part "
    "value window big scan table vector row filter sort hash batch key agg "
    "data slow fast line query"
).split()
SEGMENTS = ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _days(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    """Whole-day timestamps uniformly in [lo, hi]."""
    span = (hi - lo).days + 1
    us = _us(lo) + rng.integers(0, span, n).astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _doc_text(rng, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def _docs(rng, first_id: int, n: int, dup_frac: float, pool: list[str]):
    """``n`` documents; a ``dup_frac`` share are near-copies (one word
    appended) of an earlier text in ``pool`` or of this batch, which is
    what makes a planted near-duplicate pair at shingle-Jaccard >= 0.9.
    Returns (ids, texts, planted) with planted = [(copy_id, orig_id)]."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    texts: list[str] = []
    planted: list[tuple[int, int]] = []
    for i in range(n):
        candidates = len(pool) + len(texts)
        if candidates and rng.random() < dup_frac:
            j = int(rng.integers(0, candidates))
            src = pool[j] if j < len(pool) else texts[j - len(pool)]
            orig_id = first_id - len(pool) + j
            if len(src.split()) >= 40:
                texts.append(src + " dup")
                planted.append((int(ids[i]), orig_id))
                continue
        texts.append(_doc_text(rng, int(rng.integers(10, 100))))
    return ids, texts, planted


def write_fixture(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten fixture tables at scale factor ``sf`` under
    ``out_dir`` (one ``<table>.parquet`` each)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = 500 if sf <= 0.01 else int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20_000 * sf)

    def p(name: str) -> str:
        return os.path.join(out_dir, f"{name}.parquet")

    _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(p("supplier"), {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    _write(p("customer"), {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(p("part"), {
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    _write(p("orders"), {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    _write(p("lineitem"), {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("N", "R", "A")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
    })
    t0 = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_ev).astype(np.int64))
    _write(p("events"), {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(15, n_cust // 10), n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.lognormal(3.3, 1.2, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    ids, texts, _ = _docs(rng, 0, n_doc, 0.05, [])
    _write(p("documents"), {
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=[0.39, 0.15, 0.15, 0.16, 0.15])],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(p("embeddings"), {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })


class EventFiles:
    """Event files with Zipf-skewed ``user_id`` over ``n_users`` keys, a
    click/purchase/view mix, and event time compressed against wall
    time: file ``k`` covers ``[k, k+1) * span_s`` seconds of event time,
    so watermarks advance by ``span_s`` per file and state evicts."""

    MIX = (("click", 0.45), ("purchase", 0.2), ("view", 0.35))

    def __init__(self, seed: int, n_users: int, span_s: int):
        self.rng = np.random.default_rng([seed, 3])
        self.n_users = n_users
        self.span_us = span_s * 1_000_000
        self.next_id = 0
        self.t0 = _us(dt.datetime(2024, 1, 1))

    def write(self, path: str, k: int, rows: int) -> int:
        rng = self.rng
        ts = self.t0 + k * self.span_us + np.sort(
            rng.integers(0, self.span_us, rows)
        ).astype(np.int64)
        types, probs = zip(*self.MIX)
        users = (rng.zipf(1.3, rows) - 1) % self.n_users
        _write(path, {
            "event_id": np.arange(self.next_id, self.next_id + rows, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": users.astype(np.int64),
            "event_type": [types[i] for i in rng.choice(len(types), rows, p=probs)],
            "value": np.round(rng.uniform(0.01, 300.0, rows), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
        })
        self.next_id += rows
        return rows


class DocFiles:
    """Document files whose near-duplicates are planted ACROSS files:
    a share of each file's documents copy an earlier file's text."""

    def __init__(self, seed: int, dup_frac: float = 0.1):
        self.rng = np.random.default_rng([seed, 4])
        self.dup_frac = dup_frac
        self.texts: list[str] = []
        self.planted: list[tuple[int, int]] = []

    def write(self, path: str, rows: int) -> int:
        ids, texts, planted = _docs(
            self.rng, len(self.texts), rows, self.dup_frac, self.texts
        )
        _write(path, {"doc_id": ids, "text": texts})
        self.texts.extend(texts)
        self.planted.extend(planted)
        return rows
