"""Seeded fixture generator: the ten catalog tables as parquet files.

The tables follow the fixture schemas the queries are written against
(FIXTURES.md): a TPC-H-like star schema, an `events` table, a
`documents` corpus with near-duplicates and an `embeddings` table.  Row
counts scale with `sf` the way the fixtures do (lineitem = 6M x sf).

The row content is drawn once from a fixed content seed; the run's seed
permutes the row order of every table.  So each seed gives its own
files, while the work a query does (dedup candidates, cluster rounds,
join and group sizes) is the same on every seed, and the spread between
runs measures the engine rather than the data.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

CONTENT_SEED = 20240101
_US_PER_DAY = 86_400_000_000
_ORDER_EPOCH = datetime(1995, 1, 1)
_EVENT_EPOCH = datetime(2024, 1, 1)


def _us(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word-salad texts; every twentieth is an earlier text plus
    the word ``dup`` (a near-duplicate the dedup operators must find)."""
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    span = 30 * _US_PER_DAY
    ts = np.sort(rng.integers(0, span, n)) + _us(_EVENT_EPOCH)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every catalog table at scale `sf`, rows in the order `seed` draws."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    keys = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{ADJECTIVES[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
        }
    )
    day0 = _us(_ORDER_EPOCH)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(day0 + rng.integers(0, 2405, n_ord) * _US_PER_DAY),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(
                day0 + (1 + rng.integers(0, 2499, n_line)) * _US_PER_DAY
            ),
        }
    )
    out["events"] = _events(rng, max(1000, int(1_000_000 * sf)), max(15, int(15_000 * sf)))
    out["documents"] = _documents(rng, max(200, int(50_000 * sf)))
    out["embeddings"] = _embeddings(rng, max(500, int(20_000 * sf)))
    order = np.random.default_rng(seed)
    return {name: t.take(order.permutation(t.num_rows)) for name, t in out.items()}


def write(dst: str, sf: float, seed: int, names: tuple[str, ...] | None = None) -> None:
    """Write `<dst>/<table>.parquet` for every table (or only `names`)."""
    os.makedirs(dst, exist_ok=True)
    for name, tbl in tables(sf, seed).items():
        if names is None or name in names:
            pq.write_table(tbl, os.path.join(dst, f"{name}.parquet"))
