"""Seeded synthetic source tables for the benchmark.

Same parquet schemas and value domains as the repository's test tables
(TPC-H-shaped star schema plus ``events`` and ``documents``), scaled by
``sf`` (sf=0.1 gives 100k events and 600k lineitem rows). One
``numpy.random.default_rng(seed)`` stream per table, so a table's
content depends only on (seed, sf, table name) and the same arguments
give byte-identical parquet.
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
MKTSEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ORDERSTATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURNFLAGS = ["A", "N", "R"]
LINESTATUS = ["O", "F"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_W = [0.41, 0.15, 0.15, 0.145, 0.145]
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EVENTS_FROM = "2024-01-01"
EVENTS_DAYS = 30
DAY_US = 86_400_000_000


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def _days_us(rng, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d = np.datetime64(lo, "D").astype("int64")
    hi_d = np.datetime64(hi, "D").astype("int64")
    return rng.integers(lo_d, hi_d + 1, n) * DAY_US


def _pick(rng, pool, n, p=None) -> list:
    return np.asarray(pool, dtype=object)[rng.choice(len(pool), n, p=p)].tolist()


def _table(schema: pa.Schema, cols: list) -> pa.Table:
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)


def _region(rng, sf):
    schema = pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())])
    return _table(schema, [np.arange(5, dtype=np.int32), REGIONS])


def _nation(rng, sf):
    schema = pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                        ("n_regionkey", pa.int32())])
    keys = np.arange(25, dtype=np.int32)
    return _table(schema, [keys, [f"NATION_{i}" for i in keys], keys % 5])


def _supplier(rng, sf):
    n = max(int(10_000 * sf), 10)
    schema = pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                        ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())])
    return _table(schema, [
        np.arange(n, dtype=np.int64), [f"Supplier#{i:09d}" for i in range(n)],
        rng.integers(0, 25, n).astype(np.int32),
        np.round(rng.uniform(-1000, 10000, n), 2)])


def _customer(rng, sf):
    n = max(int(150_000 * sf), 10)
    schema = pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                        ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                        ("c_mktsegment", pa.string())])
    return _table(schema, [
        np.arange(n, dtype=np.int64), [f"Customer#{i:09d}" for i in range(n)],
        rng.integers(0, 25, n).astype(np.int32),
        np.round(rng.uniform(-1000, 10000, n), 2), _pick(rng, MKTSEGMENTS, n)])


def _orders(rng, sf):
    n, n_cust = max(int(1_500_000 * sf), 10), max(int(150_000 * sf), 10)
    schema = pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                        ("o_orderdate", pa.timestamp("us")),
                        ("o_orderpriority", pa.string())])
    return _table(schema, [
        np.arange(n, dtype=np.int64), rng.integers(0, n_cust, n),
        _pick(rng, ORDERSTATUS, n), np.round(rng.uniform(1000, 500000, n), 2),
        _days_us(rng, n, "1995-01-01", "2001-08-01"), _pick(rng, PRIORITIES, n)])


def _lineitem(rng, sf):
    n = max(int(6_000_000 * sf), 10)
    n_orders, n_part, n_supp = (max(int(k * sf), 10) for k in (1_500_000, 200_000, 10_000))
    schema = pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                        ("l_shipdate", pa.timestamp("us"))])
    return _table(schema, [
        rng.integers(0, n_orders, n), rng.integers(0, n_part, n),
        rng.integers(0, n_supp, n), rng.integers(1, 8, n).astype(np.int32),
        rng.integers(1, 51, n).astype(np.float64),
        np.round(rng.uniform(900, 105000, n), 2),
        np.round(rng.integers(0, 11, n) * 0.01, 2),
        np.round(rng.integers(0, 9, n) * 0.01, 2),
        _pick(rng, RETURNFLAGS, n), _pick(rng, LINESTATUS, n),
        _days_us(rng, n, "1995-01-02", "2001-11-04")])


def _events(rng, sf):
    n, n_users = max(int(1_000_000 * sf), 10), max(int(15_000 * sf), 10)
    schema = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                        ("user_id", pa.int64()), ("event_type", pa.string()),
                        ("value", pa.float64()), ("props", pa.string())])
    t_lo = np.datetime64(EVENTS_FROM, "us").astype("int64")
    ts = np.sort(rng.integers(t_lo, t_lo + EVENTS_DAYS * DAY_US, n))
    return _table(schema, [
        np.arange(n, dtype=np.int64), ts, rng.integers(0, n_users, n),
        _pick(rng, EVENT_TYPES, n), np.round(rng.exponential(50.0, n), 2),
        [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]])


def _documents(rng, sf):
    n = max(int(50_000 * sf), 10)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 101, n)]
    return _table(schema, [
        np.arange(n, dtype=np.int64), texts, _pick(rng, LANGS, n, LANG_W),
        [f"src{i}" for i in rng.integers(0, 20, n)],
        np.array([len(t) for t in texts], dtype=np.int64)])


GENERATORS = {
    "region": _region, "nation": _nation, "supplier": _supplier,
    "customer": _customer, "orders": _orders, "lineitem": _lineitem,
    "events": _events, "documents": _documents,
}


def generate(out_dir: str, sf: float, seed: int, tables) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for each table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in tables:
        t = GENERATORS[name](_rng(seed, name), sf)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
