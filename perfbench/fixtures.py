"""Deterministic sf0.1-shaped fixture tables for the registry workload.

The benchmark reads and writes only inside its checkout, so it cannot use
fixture files that live elsewhere.  This module writes the ten catalog
tables (``catalog.TABLE_NAMES``) with the schemas and row counts of the
sf0.1 fixture family described in FIXTURES.md: one parquet file per
table, generated from a fixed seed with numpy and pyarrow (no Spark).

The tables do not depend on the workload seed: the seed only orders the
queries and drives the stream generator.  Generation happens once per
checkout and is reused; it is never inside a timed region.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
# Row counts of the sf0.1 family.
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
VERSION = "1"  # bump when the generated content changes

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_EMBED_DIM = 64


def _days(rng: np.random.Generator, n: int, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    r = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(r["region"]), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(r["nation"]), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(r["nation"])],
        "n_regionkey": pa.array([i % r["region"] for i in range(r["nation"])], pa.int32()),
    })
    n = r["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, r["nation"], n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, len(_SEGMENTS), n)],
    })
    n = r["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, r["nation"], n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = r["part"]
    keys = np.arange(n, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, len(_PART_TYPES), n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    n = r["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, r["customer"], n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n)],
    })
    n = r["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, r["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, r["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, r["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    n = r["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + (secs * 1e6).astype(np.int64).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = r["documents"]
    texts = []
    for i in range(n):
        if i >= 16 and i % 600 == 0:
            texts.append(texts[i - 16])  # an exact duplicate
        elif i >= 1 and i % 7 == 0:
            words = texts[i - 1].split()  # a near duplicate: one word changed
            words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(_VOCAB)[rng.integers(0, len(_VOCAB), k)]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    n = r["embeddings"]
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.12, (10, _EMBED_DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (n, _EMBED_DIM))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    return t


def ensure_fixtures(root: str) -> str:
    """Write the fixture tables under ``root`` once; return their directory."""
    out = os.path.join(root, f"sf0.1-v{VERSION}")
    done = os.path.join(out, "_complete")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in _tables(np.random.default_rng(FIXTURE_SEED)).items():
        tmp = os.path.join(out, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out, f"{name}.parquet"))
    with open(done, "w"):
        pass
    return out
