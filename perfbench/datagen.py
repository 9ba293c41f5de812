"""Seeded fixture generator for the benchmark.

Writes the ten TPC-H-style tables the package reads (``region nation
customer supplier part orders lineitem events documents embeddings``) as
one parquet file each, with the schemas and value ranges of the repo's
fixtures (FIXTURES.md). Row counts scale linearly with ``sf``; every value
comes from ``numpy.random.default_rng(seed)``, so one seed gives one set
of inputs. No Spark is involved.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows at sf=1, the fixture's scaling
BASE_ROWS = {
    "supplier": 10_000,
    "customer": 150_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["small", "red", "blue", "green", "big", "old", "new", "steel"]
NOUNS = ["ring", "widget", "bolt", "gear", "pipe", "valve", "panel", "spring"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window column data join small customer query stream order "
    "group filter big vector index shard cache plan"
).split()
EMB_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000
_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


# the ANN queries need a few hundred vectors at any scale
MIN_ROWS = {"embeddings": 500}


def n_rows(name: str, sf: float) -> int:
    return max(MIN_ROWS.get(name, 1), round(BASE_ROWS[name] * sf))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _days(rng, first_day: int, n_days: int, n: int) -> pa.Array:
    us = _1995 + (first_day + rng.integers(0, n_days, n)) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def gen_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = n_rows("supplier", sf)
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": _names("Supplier", n),
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n_cust = n_rows("customer", sf)
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    n = n_rows("part", sf)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": _pick(rng, [f"{c} {w}" for c in COLORS for w in NOUNS], n),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
        }
    )
    n_ord = n_rows("orders", sf)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, 0, 2404, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    n = n_rows("lineitem", sf)
    t["lineitem"] = pa.table(
        {
            # random order keys: duplicated and gappy, so a lineitem scan
            # has no dense key and needs equal-frequency slices
            "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, t["part"].num_rows, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, t["supplier"].num_rows, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, 1, 2498, n),
        }
    )
    n = n_rows("events", sf)
    users = max(10, n_cust // 10)
    ts = np.sort(_2024 + rng.integers(0, 30 * _DAY_US, n))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(40.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    t["documents"] = _documents(rng, n_rows("documents", sf))
    t["embeddings"] = _embeddings(rng, n_rows("embeddings", sf))
    return t


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents; one in ten is a one-word edit of an earlier
    document, so the near-duplicate queries have pairs to find."""
    vocab = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 90)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n),
            "source": _pick(rng, [f"src{i}" for i in range(20)], n),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors scattered around one centroid per label."""
    labels = rng.integers(0, N_LABELS, n)
    cents = rng.normal(size=(N_LABELS, EMB_DIM))
    vecs = cents[labels] * 0.35 + rng.normal(size=(n, EMB_DIM)) / np.sqrt(EMB_DIM) * 2.0
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM), pa.int32()), flat
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
