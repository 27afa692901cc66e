"""Seeded generator for the catalog tables the registered queries read.

Writes one parquet file per table of ``calorista_spark.catalog.TABLES``
into a directory, with the column names and arrow types of the
reference test data (TPC-H-ish star schema, an ``events`` stream, the
``documents`` text corpus and the ``embeddings`` vector table). Row
counts scale linearly with ``sf``; ``sf=0.1`` gives 600,000 lineitem
rows, 5,000 documents and 2,000 embeddings. The same ``(seed, sf)``
always writes the same bytes.

Distributions are uniform draws over the reference value domains:
the queries and their DuckDB oracles depend on types and domains, not
on any particular row.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
EMBED_DIM = 64

_TS = pa.timestamp("us")


def _days(start: datetime.date, n_days: int, rng, n: int) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _region() -> pa.Table:
    return pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )


def _nation() -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def _customer(rng, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
        }
    )


def _supplier(rng, n: int) -> pa.Table:
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )


def _part(rng, n: int) -> pa.Table:
    keys = np.arange(n)
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n)], " "),
        np.array(PART_NOUN)[rng.integers(0, 8, n)],
    )
    return pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": names,
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": (9000 + keys % 1000) / 10.0,
        }
    )


def _orders(rng, n: int, n_cust: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": pa.array(
                _days(datetime.date(1995, 1, 1), 2404, rng, n), _TS
            ),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
        }
    )


def _lineitem(rng, n: int, n_ord: int, n_part: int, n_supp: int) -> pa.Table:
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n)],
            "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n)],
            "l_shipdate": pa.array(
                _days(datetime.date(1995, 1, 2), 2498, rng, n), _TS
            ),
        }
    )


def _events(rng, n: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), _TS),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(np.minimum(rng.exponential(100.0, n), 560.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents over a small vocabulary. One in twenty is
    a near-duplicate of an earlier document (a few words replaced and
    a ``dup`` marker appended); a few of those are exact copies of an
    earlier near-duplicate, so exact and near dedup both find work."""
    vocab = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 11:
            if i >= 400 and rng.random() < 0.04:
                texts.append(texts[int(rng.integers(0, i // 20)) * 20 + 11])
                continue
            words = texts[int(rng.integers(0, i - 1))].split()
            if words[-1] == "dup":
                words = words[:-1]
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words) + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32()),
                flat,
            ),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def row_counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(20_000 * sf),
    }


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every catalog table under ``out_dir``; returns row counts."""
    n = row_counts(sf)
    # one independent stream per table, so a table's rows do not
    # depend on the sizes of the tables generated before it
    rngs = {
        name: np.random.default_rng([seed, i])
        for i, name in enumerate(sorted(n))
    }
    tables = {
        "region": _region(),
        "nation": _nation(),
        "customer": _customer(rngs["customer"], n["customer"]),
        "supplier": _supplier(rngs["supplier"], n["supplier"]),
        "part": _part(rngs["part"], n["part"]),
        "orders": _orders(rngs["orders"], n["orders"], n["customer"]),
        "lineitem": _lineitem(
            rngs["lineitem"], n["lineitem"], n["orders"], n["part"], n["supplier"]
        ),
        "events": _events(rngs["events"], n["events"]),
        "documents": _documents(rngs["documents"], n["documents"]),
        "embeddings": _embeddings(rngs["embeddings"], n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
