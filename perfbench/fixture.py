"""Seeded input generators for the benchmark.

``write_star`` writes the ten parquet tables the query registry reads
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) with the schemas and value distributions of the
sf0.001-sf0.1 test fixtures: uniform foreign keys, 'Customer#%09d'
names, a 31-word text vocabulary, unit-norm 64-d embeddings. Row counts
scale linearly with ``sf`` the way the TPC-H model does, so per-key
densities (lines per order, events per user, members per name cluster)
stay those of sf0.1 at every scale.

``write_star`` and ``write_documents`` are pure functions of their
arguments: the same seed gives byte-identical files. The parity DAG's CSV
inputs come from ``tests.fixtures.write_fixtures``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "the a spark join merge sort scan table row column key value data "
    "filter group agg window batch stream query part line order customer "
    "small big fast slow hash dup vector"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "shiny"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64

ORDER_DAY0 = np.datetime64("1995-01-01")
ORDER_DAYS = 2404  # last order date 2001-08-01
SHIP_DAY0 = np.datetime64("1995-01-02")
SHIP_DAYS = 2498  # last ship date 2001-11-04
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _write(df: pd.DataFrame, dst: str, name: str, row_group: int | None) -> None:
    tbl = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(
        tbl,
        os.path.join(dst, f"{name}.parquet"),
        row_group_size=row_group or max(len(df), 1),
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB)
    out, at = [], 0
    for k in lengths:
        out.append(" ".join(vocab[words[at : at + k]]))
        at += k
    # exact and one-word-off near duplicates, so the dedup, MinHash and
    # dup-span queries have matches to find
    for i in rng.choice(n, size=max(n // 500, 1), replace=False):
        out[i] = out[rng.integers(0, n)]
    for i in rng.choice(n, size=max(n // 100, 1), replace=False):
        w = out[rng.integers(0, n)].split(" ")
        w[rng.integers(0, len(w))] = VOCAB[rng.integers(0, len(VOCAB))]
        out[i] = " ".join(w)
    return out


def write_star(dst: str, sf: float, seed: int, row_group: int | None = None) -> None:
    """Write the ten registry tables for scale factor ``sf`` under ``dst``;
    ``row_group`` None writes one row group per file (the fixtures'
    layout, one scan task per table)."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = max(int(6_000_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 5)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)
    i32 = np.int32

    tables = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(i32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(i32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": (ORDER_DAY0 + rng.integers(0, ORDER_DAYS + 1, n_ord)).astype(
                    "datetime64[us]"
                ),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line),
                "l_partkey": rng.integers(0, n_part, n_line),
                "l_suppkey": rng.integers(0, n_supp, n_line),
                "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": (SHIP_DAY0 + rng.integers(0, SHIP_DAYS + 1, n_line)).astype(
                    "datetime64[us]"
                ),
            }
        ),
        "events": pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": EVENT_T0 + np.sort(rng.integers(0, EVENT_SPAN_US, n_ev)).astype("timedelta64[us]"),
                "user_id": rng.integers(0, n_users, n_ev),
                "event_type": rng.choice(EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
    }
    emb = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(emb),
            "label": rng.integers(0, 10, n_emb).astype(i32),
        }
    )
    for name, df in tables.items():
        _write(df, dst, name, row_group)
    write_documents(dst, n_doc, seed, row_group)


def write_documents(dst: str, n: int, seed: int, row_group: int | None = None) -> None:
    """Write ``documents.parquet`` (doc_id, text, lang, source, n_chars)
    with ``n`` rows under ``dst``."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    text = _texts(rng, n)
    df = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": text,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )
    _write(df, dst, "documents", row_group)
