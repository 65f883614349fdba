"""Seeded generator for the benchmark's input tables.

Writes the ten fixture-shaped tables the registry's query functions read
(``region nation customer supplier part orders lineitem events documents
embeddings``, one Parquet file each) with the schemas and value domains
the operators assume: TPC-H-ish star schema, a 30-day ``events`` stream
and a text/vector corpus with planted near-duplicates. Row counts scale
with ``sf`` like the fixtures do (lineitem ~6M x sf, events 1M x sf).

The same (seed, sf) always yields byte-identical tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
ADJ = "large hot blue old cold red small new".split()
NOUN = "ring bolt plate gear widget rod anvil gizmo".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENTS_DAYS = 30


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def event_columns(rng, first_id: int, n: int, t_lo_us: int, t_hi_us: int, n_users: int) -> dict:
    """``n`` events with ids ``first_id..`` and ascending timestamps in
    ``[t_lo_us, t_hi_us)`` (epoch microseconds)."""
    ts = np.sort(rng.integers(t_lo_us, t_hi_us, n))
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    }


def generate(seed: int, sf: float, out: str) -> dict[str, int]:
    """Write all tables for (seed, sf) under ``out``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    counts = {}

    def put(name, cols):
        _write(out, name, cols)
        counts[name] = len(next(iter(cols.values())))

    put("region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    put("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    n_cust = max(150, int(150_000 * sf))
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    n_supp = max(10, int(10_000 * sf))
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    n_part = max(200, int(200_000 * sf))
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 20_000) / 10.0, 2),
    })
    n_ord = max(1500, int(1_500_000 * sf))
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_li), pa.timestamp("us")),
    })
    n_ev = max(1000, int(1_000_000 * sf))
    put("events", event_columns(
        rng, 0, n_ev, EVENTS_T0_US, EVENTS_T0_US + EVENTS_DAYS * DAY_US, max(15, int(15_000 * sf))
    ))
    n_doc = max(500, int(50_000 * sf))
    texts = []
    for i in range(n_doc):
        if i % 20 == 8 and i > 20:
            # Planted near-duplicate of an earlier document.
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]))
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_vec = max(500, int(20_000 * sf))
    vecs = rng.normal(0.0, 0.125, (n_vec, 64)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return counts
