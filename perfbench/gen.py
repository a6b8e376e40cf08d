"""Seeded input generator for the benchmark.

Writes the star-schema source tables (region, nation, customer,
supplier, part, orders, lineitem, events) and the corpus tables
(documents, embeddings) as one parquet file each, with the column names,
types, row counts per scale factor, key distributions and value domains
of the engine's test data, so every plan and oracle query of
``__spark_entry__`` runs on them unchanged. Like the test data it has no
NULL keys and no skewed key: line items pick their order uniformly
(about four per order, some orders have none), orders pick their
customer uniformly, and ship dates are independent of order dates.
``perfbench/dataprofile.py`` prints the properties to compare. The same seed
and sizes give byte-identical tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


@dataclass(frozen=True)
class Sizes:
    """Row counts of the generated tables."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    events: int
    documents: int
    embeddings: int


def sizes_for(scale: float, documents: int = 0, embeddings: int = 0) -> Sizes:
    """TPC-H-style cardinalities at ``scale`` (1.0 = 1.5M orders)."""
    return Sizes(
        customers=max(50, int(150_000 * scale)),
        suppliers=max(10, int(10_000 * scale)),
        parts=max(50, int(200_000 * scale)),
        orders=max(200, int(1_500_000 * scale)),
        events=max(500, int(1_000_000 * scale)),
        documents=documents,
        embeddings=embeddings,
    )


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def orders_table(rng: np.random.Generator, n: int, customers: int, first_key: int = 0) -> dict:
    """``n`` order rows with keys ``first_key..first_key+n-1``."""
    days = rng.integers(0, 2405, n)
    return {
        "o_orderkey": np.arange(first_key, first_key + n, dtype=np.int64),
        "o_custkey": rng.integers(0, customers, n).astype(np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _ts(EPOCH_1995 + days * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    }


def doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Whitespace-token documents over a 31-word vocabulary; about one
    in twelve is a light edit of an earlier document, so the near-dup
    index has true pairs to find."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 1 / 12:
            toks = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(toks)))
            toks[j] = str(words[rng.integers(0, len(words))])
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(10, 101)))])
        texts.append(" ".join(toks))
    return texts


def embeddings_table(rng: np.random.Generator, n: int) -> dict:
    """Unit vectors around ten label centres; a few are near copies of
    an earlier vector, so SemDeDup has pairs over its threshold."""
    centres = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    x = centres[labels] * 0.35 + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    near = np.flatnonzero(rng.random(n) < 0.08)
    near = near[near > 0]
    src = (rng.random(len(near)) * near).astype(np.int64)
    x[near] = x[src] + rng.normal(0.0, 0.3, (len(near), EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }


def generate(out_dir: str, seed: int, sizes: Sizes) -> None:
    """Write every table for ``sizes`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    nc, ns, npart = sizes.customers, sizes.suppliers, sizes.parts
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), npart)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), npart)]
    _write(out_dir, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, npart)]),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
    })
    orders = orders_table(rng, sizes.orders, nc)
    _write(out_dir, "orders", orders)

    nl = 4 * sizes.orders
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, sizes.orders, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, nl) * DAY_US),
    })
    ne = sizes.events
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, ne))),
        "user_id": rng.integers(0, max(1, nc // 10), ne).astype(np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    if sizes.documents:
        texts = doc_texts(rng, sizes.documents)
        nd = sizes.documents
        _write(out_dir, "documents", {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), nd)]),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
    if sizes.embeddings:
        _write(out_dir, "embeddings", embeddings_table(rng, sizes.embeddings))
