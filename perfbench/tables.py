"""Seeded generator for the star-schema, events, documents and embeddings
tables that the headline curation queries read.

Column names, types and value shapes follow the contract tables that
``__spark_entry__.queries()`` is written against (one parquet file per
table, ``<dir>/<name>.parquet``); row counts scale with ``sf`` like the
TPC-H-style layout (lineitem = 6M x sf; documents and embeddings never
below 500 rows), and events always span 30 days.  Column ranges, distinct
counts, document lengths, vocabulary and duplicate shares were matched
against the seed-42 contract tables at sf 0.01 and 0.1.  Everything
derives from ``seed``, so one seed always yields byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_EVENT_SPAN_S = 30 * 86_400

def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n: int, span: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, span, n) * np.timedelta64(1, "D")


def _choice(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    texts = [
        " ".join(np.asarray(_DOC_WORDS, dtype=object)[rng.integers(0, len(_DOC_WORDS), k)])
        for k in lengths
    ]
    # 5% near-duplicates (another doc plus a marker word) and 0.1% exact
    # duplicates, so the dedup and curation queries have work to find
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, n // 1000, replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _choice(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
        pa.list_(pa.field("element", pa.float32()))
    )
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb,
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def generate_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All contract tables at scale factor *sf*, derived from *seed*."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    cust = np.arange(n_cust, dtype=np.int64)
    supp = np.arange(n_supp, dtype=np.int64)
    part = np.arange(n_part, dtype=np.int64)
    # events cover the same 30 days at every scale factor
    gaps = rng.exponential(_EVENT_SPAN_S / n_events, n_events)
    ts = _EPOCH_2024 + (np.cumsum(gaps) * 1e6).astype("int64").astype("timedelta64[us]")
    return {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(_REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": cust,
                "c_name": [f"Customer#{i:09d}" for i in cust],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": supp,
                "s_name": [f"Supplier#{i:09d}" for i in supp],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": part,
                "p_name": pa.array(
                    [
                        f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _choice(rng, _PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (part % 1000) / 10.0, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(rng, n_ord, 2404),
                "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line),
                "l_partkey": rng.integers(0, n_part, n_line),
                "l_suppkey": rng.integers(0, n_supp, n_line),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": _money(rng, 0.0, 0.1, n_line),
                "l_tax": _money(rng, 0.0, 0.08, n_line),
                "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
                "l_linestatus": _choice(rng, ("F", "O"), n_line),
                "l_shipdate": _days(rng, n_line, 2500) + np.timedelta64(1, "D"),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_events, dtype=np.int64),
                "ts": ts,
                "user_id": rng.integers(0, n_users, n_events),
                "event_type": _choice(rng, _EVENT_TYPES, n_events),
                "value": np.round(rng.exponential(50.0, n_events), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
            }
        ),
        "documents": pa.table(_documents(rng, n_docs)),
        "embeddings": _embeddings(rng, n_vecs),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """One parquet file per table; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
