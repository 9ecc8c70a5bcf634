"""Seeded generator for the ad-hoc query mix's ten parquet tables.

It writes the schema of the TPC-H-like star tables the query catalog reads
(region, nation, customer, supplier, part, orders, lineitem) plus events,
documents and embeddings, with the row counts and value distributions of
the shipped sf0.1 test data at ``sf=0.1``. The same ``(seed, sf)`` always
writes the same rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
#: Every NEAR_DUP_EVERY-th document is the previous one plus " dup", and
#: every EXACT_DUP_EVERY-th (offset by half) repeats the previous one, so
#: the amount of dedup work does not depend on the seed.
NEAR_DUP_EVERY = 20
EXACT_DUP_EVERY = 100
EMBED_DIM = 64


def _days(rng, n: int, start: dt.date, span: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
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
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), 2404),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), 2499),
        }
    )
    ev_ts = np.datetime64(dt.date(2024, 1, 1), "us") + rng.integers(
        0, 30 * 86_400 * 1_000_000, n_ev
    ).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, max(n_ev * 3 // 200, 1), n_ev, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i % NEAR_DUP_EVERY == NEAR_DUP_EVERY - 1:
            texts.append(texts[i - 1] + " dup")
        elif i % EXACT_DUP_EVERY == EXACT_DUP_EVERY // 2:
            texts.append(texts[i - 1])
        else:
            idx = rng.integers(0, len(WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(WORDS[j] for j in idx))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel(), pa.float32()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb, dtype=np.int32),
        }
    )
    return out


def write(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
