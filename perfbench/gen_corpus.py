"""Seeded TPC-H-ish star schema, event stream and LLM-data corpus.

Writes the ten tables the query registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``)
as one Parquet file each, with the column names, types and value
domains of the engine's test tables, so every registry query and its
DuckDB oracle run unchanged on the output.

The corpus carries a stated near-duplicate share: that fraction of
documents is a copy of an earlier document with a few words replaced,
and the same fraction of embeddings is an earlier vector plus small
noise. It is the input property the dedup and similarity operators'
work depends on.
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "stream big group filter vector"
).split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
P_ADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "dark"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en"] * 6 + ["de", "es", "zh", "fr"]
EMB_DIM = 64

DAY_US = 86_400 * 1_000_000


def _us(d: datetime) -> int:
    return int(d.timestamp() * 1_000_000)


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def _doc_text(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(WORDS, size=int(rng.integers(10, 90))))


def make_corpus(out: Path, seed: int, scale: float, near_dup_share: float) -> dict[str, int]:
    """Write the tables under ``out``; returns their row counts.

    ``scale`` 1.0 gives 150,000 orders (~600K lineitems) and 5,000
    documents, the layout of the engine's sf0.1 test tables; embeddings
    are 60 % of the documents (the near-dup oracle is quadratic in them)."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    n_cust = max(50, int(15_000 * scale))
    n_supp = max(10, int(1_000 * scale))
    n_part = max(50, int(20_000 * scale))
    n_ord = max(200, int(150_000 * scale))
    n_docs = max(50, int(5_000 * scale))
    n_vecs = max(50, int(3_000 * scale))
    n_events = max(500, int(100_000 * scale))
    n_users = max(20, int(1_500 * scale))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })

    o_date = _us(datetime(1995, 1, 1)) + rng.integers(0, 2400, n_ord) * DAY_US
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord), lines)
    n_li = len(l_ord)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(o_date[l_ord] + rng.integers(1, 122, n_li) * DAY_US),
    })

    t0 = _us(datetime(2024, 1, 1))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(np.sort(t0 + rng.integers(0, 30 * DAY_US, n_events))),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(60.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < near_dup_share:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), size=max(1, len(words) // 20), replace=False):
                words[j] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(_doc_text(rng))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vecs = rng.normal(0.0, 0.1, (n_vecs, EMB_DIM)).astype(np.float32)
    for i in range(1, n_vecs):
        if rng.random() < near_dup_share:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0.0, 0.002, EMB_DIM)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })

    for name, t in tables.items():
        pq.write_table(t, out / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
