"""Seeded generator for the tables the ``lake_queries`` workload reads.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one Parquet file each, with the column names,
types and value distributions of the shared TPC-H-style test tables the
registry queries and their DuckDB oracles are written against. Row counts
scale with ``sf`` (lineitem = 6,000,000 x sf); the document and embedding
corpora never drop below 500 rows. The same (seed, sf) gives the same files.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_ADJ = ["blue", "large", "hot", "old", "cold", "small", "red", "shiny"]
_P_NOUN = ["anvil", "ring", "bolt", "plate", "widget", "gear", "spring", "valve"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
          "merge order part query row scan slow small sort spark stream table the "
          "value vector window").split()
_LANGS = ["en", "de", "es", "fr", "zh"]


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, n: int, first: dt.date, last: dt.date) -> pa.Array:
    span = (last - first).days
    base = np.datetime64(first.isoformat(), "us")
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, c)],
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, s, -999.99, 9999.99),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in _P_ADJ for b in _P_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), p)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": np.array(_P_TYPES)[rng.integers(0, len(_P_TYPES), p)],
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, o, 1000.0, 500000.0),
        "o_orderdate": _days(rng, o, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, o)],
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li, dtype=np.int64),
        "l_partkey": rng.integers(0, p, li, dtype=np.int64),
        "l_suppkey": rng.integers(0, s, li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    e = n["events"]
    base = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, e)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(base + offs, pa.timestamp("us")),
        "user_id": rng.integers(0, max(100, int(15_000 * sf)), e, dtype=np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(np.minimum(rng.exponential(50.0, e), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    t["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    vec = rng.standard_normal((m, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m).astype(np.int32),
    })
    return t


def _documents(rng, n: int) -> pa.Table:
    """Random 10-100 word texts over a 31-word vocabulary; 5% are a copy of
    an earlier document with a trailing ``dup`` token (planted near-dups)."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    lang = np.where(rng.random(n) < 0.4, "en", np.array(_LANGS[1:])[rng.integers(0, 4, n)])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def write(seed: int, sf: float, out_dir: Path) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name, table in build(seed, sf).items():
        pq.write_table(table, out_dir / f"{name}.parquet", compression="snappy")
        rows[name] = table.num_rows
    return rows
