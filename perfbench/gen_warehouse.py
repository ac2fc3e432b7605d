"""Seeded TPC-H-style tables for the warehouse part of the ``analysis_session`` workload.

Same table names, column names, types and value domains as the engine's
test tables (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings — one parquet file each), so the registry
queries and their DuckDB oracles run on them unchanged. Measure columns
that top-k queries order by are drawn without repetition, so no seed
plants a tie at a top-k boundary.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["red", "blue", "green", "small", "large", "shiny", "plain", "dark"]
NOUNS = ["widget", "bolt", "ring", "gear", "valve", "panel", "spring", "cable"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "window line data column join small big order group filter query sort "
    "stream customer vector"
).split()

#: rows per unit of scale factor (TPC-H proportions, sf 1 = 6M lineitems)
PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
          "orders": 1_500_000, "events": 1_000_000}

DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype("int64"))


def _unique_cents(rng, n: int, lo: float, span_cents: int) -> np.ndarray:
    """``n`` distinct 2-decimal values in [lo, lo + span_cents/100)."""
    picks = rng.choice(span_cents, size=n, replace=False)
    return np.round(lo + picks / 100.0, 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 7])
    n = {k: max(int(v * sf), 50) for k, v in PER_SF.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _unique_cents(rng, nc, -999.99, 1_099_999),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _unique_cents(rng, ns, -999.99, 1_099_999),
    })
    npart = n["part"]
    pk = np.arange(npart)
    names = [f"{c} {w}" for c in COLORS for w in NOUNS]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), npart)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(TYPES)[rng.integers(0, len(TYPES), npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    no = n["orders"]
    d0, d1 = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)
    odate = d0 + rng.integers(0, (d1 - d0) // DAY_US, no) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _unique_cents(rng, no, 1000.0, 49_900_000),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, nl).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _unique_cents(rng, nl, 901.0, 10_409_600),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, nl) * DAY_US),
    })
    ne = n["events"]
    e0 = _epoch_us(2024, 1, 1)
    ets = np.sort(e0 + rng.choice(30 * DAY_US, size=ne, replace=False))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ets),
        "user_id": pa.array(rng.integers(0, max(ne // 70, 10), ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.integers(1, 49_003, ne) / 100.0, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    nd = 500
    texts = [
        " ".join(np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(8, 80)))])
        for _ in range(nd)
    ]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(0, 0.12, (nd, 64)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nd), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nd), pa.int32()),
    })
    return out


def write(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
