"""Seeded generator for the benchmark's input tables.

Writes the ten catalog tables (``region nation customer supplier part
orders lineitem events documents embeddings``) as one parquet file
each, with the schemas and value ranges of the repository's TPC-H-ish
test data (see FIXTURES.md). Row counts scale with ``sf`` the same way
(sf0.1: 150k orders, 600k lineitem, 100k events, 5k documents, 2k
embeddings). The same seed always yields byte-identical values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "old", "red", "large", "hot", "cold", "small", "new"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
US_PER_DAY = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, max_day: int) -> np.ndarray:
    return EPOCH_1995 + rng.integers(0, max_day, n) * US_PER_DAY


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def events_table(rng: np.random.Generator, ids: np.ndarray, ts: np.ndarray) -> pa.Table:
    """``events`` rows for the given ids and timestamps, with uniform
    users, types, values and ``{"k": n}`` props."""
    n = len(ids)
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(_money(rng, 0.0, 560.0, n)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def event_times(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` timestamps spread in order over January 2024, jittered by
    up to a minute."""
    step = 30 * US_PER_DAY // max(n, 1)
    return EVENTS_T0 + (np.arange(n) * step + rng.integers(0, 60_000_000, n)).astype(
        "timedelta64[us]"
    )


def _documents(rng: np.random.Generator, n: int) -> dict:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 11 and i > 0:
            # near-duplicate of an earlier document: same words, marker appended
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> dict:
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centers[label] + rng.normal(0, 1.5, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every catalog table under ``out_dir``; return row counts.
    Each table draws from its own generator seeded by ``(seed, table)``."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

    def rng_for(name: str) -> np.random.Generator:
        return np.random.default_rng([seed, TABLES.index(name)])

    def region():
        _write(p("region"), {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})

    def nation():
        _write(
            p("nation"),
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            },
        )

    def customer():
        rng = rng_for("customer")
        _write(
            p("customer"),
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            },
        )

    def supplier():
        rng = rng_for("supplier")
        _write(
            p("supplier"),
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            },
        )

    def part():
        rng = rng_for("part")
        adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
        _write(
            p("part"),
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
            },
        )

    def orders():
        rng = rng_for("orders")
        _write(
            p("orders"),
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": pa.array(_days(rng, n_ord, 2404), pa.timestamp("us")),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
            },
        )

    def lineitem():
        rng = rng_for("lineitem")
        qty = rng.integers(1, 51, n_li).astype(float)
        _write(
            p("lineitem"),
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": pa.array(_days(rng, n_li, 2499) + US_PER_DAY, pa.timestamp("us")),
            },
        )

    def events():
        rng = rng_for("events")
        pq.write_table(events_table(rng, np.arange(n_ev), event_times(rng, n_ev)), p("events"))

    def documents():
        _write(p("documents"), _documents(rng_for("documents"), n_doc))

    def embeddings():
        _write(p("embeddings"), _embeddings(rng_for("embeddings"), n_emb))

    writers = {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }
    for name in TABLES:
        writers[name]()
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }
