"""Seeded batch tables with the fixture schema the queries read.

``write_tables(out_dir, seed, scale)`` writes the ten parquet tables
(``region nation customer supplier part orders lineitem events
documents embeddings``) that ``streamforge_spark.io.load`` and the DuckDB
oracles read, one file each.  ``scale`` 1.0 gives the row counts of the
sf0.01 fixture tables (60,000 lineitem rows); the value distributions
follow the fixture: TPC-H-like star schema, an ``events`` stream table,
word-salad documents of which exactly 5% repeat an earlier one plus the
token "dup", unit-norm 64-d embeddings.  ``fixture_compare.py`` prints
these tables next to a fixture directory, with the oracles' results on
both.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
DAY_US = 86_400 * 1_000_000


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * DAY_US).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def make_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(1500 * scale), max(10, int(100 * scale))
    n_part, n_ord = int(2000 * scale), int(15000 * scale)
    n_line, n_ev = int(60000 * scale), int(10000 * scale)
    n_users, n_docs, n_emb = max(15, int(150 * scale)), 500, 500
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{rng.choice(ADJ)} {rng.choice(NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_line)), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    gaps = rng.integers(1, 2 * 30 * DAY_US // n_ev, n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": (np.datetime64("2024-01-01", "us").astype(np.int64)
               + np.cumsum(gaps)).astype("datetime64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # 5% of the documents repeat an earlier one plus the token "dup"
    dups = set(rng.choice(np.arange(11, n_docs), n_docs // 20, replace=False))
    texts: list[str] = []
    for i in range(n_docs):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_docs,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], i64)})
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return t


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
