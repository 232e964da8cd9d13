"""Seeded input tables for the benchmark.

Writes the TPC-H-like star schema the demo catalog reads (region, nation,
customer, supplier, part, orders, lineitem, documents) as one parquet file
per table, with the column names, types and value distributions of the
project's reference test data.  The same seed and scale give the same
bytes-for-value tables; nothing is read from outside the output directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at scale 0.01 (region and nation are fixed)
BASE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
             "orders": 15000, "lineitem": 60000}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

ORDER_EPOCH = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404          # o_orderdate spans 1995-01-01 .. 2001-08-01
SHIP_EPOCH = np.datetime64("1995-01-02", "us")
SHIP_DAYS = 2498           # l_shipdate spans 1995-01-02 .. 2001-11-04
DAY_US = 86400 * 10**6


def rows_at(scale):
    return {t: max(1, int(round(n * scale / 0.01)))
            for t, n in BASE_ROWS.items()}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(epoch, rng, span, n):
    return epoch + (rng.integers(0, span + 1, n) * DAY_US).astype(
        "timedelta64[us]")


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)]


def _documents(rng, n):
    texts = [" ".join(_pick(rng, WORDS, int(k)))
             for k in rng.integers(10, 100, n)]
    # about one document in twenty is a near-duplicate: another
    # document's text plus a marker word (chains arise naturally), the
    # shape the dedup operators cluster on
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n - 1))
        j += j >= i
        texts[i] = texts[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": ["src{}".format(i % 20) for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def generate(seed, scale):
    """Return ``{table: pyarrow.Table}`` for ``seed`` at ``scale``."""
    rng = np.random.default_rng(seed)
    n = rows_at(scale)
    nc, ns, np_, no, nl = (n["customer"], n["supplier"], n["part"],
                           n["orders"], n["lineitem"])
    i32, i64 = pa.int32(), pa.int64()
    cols = {
        "region": {"r_regionkey": (np.arange(5), i32),
                   "r_name": (REGIONS, None)},
        "nation": {"n_nationkey": (np.arange(25), i32),
                   "n_name": (["NATION_{}".format(i) for i in range(25)],
                              None),
                   "n_regionkey": (np.arange(25) % 5, i32)},
        "customer": {
            "c_custkey": (np.arange(nc), i64),
            "c_name": (["Customer#{:09d}".format(i) for i in range(nc)],
                       None),
            "c_nationkey": (rng.integers(0, 25, nc), i32),
            "c_acctbal": (_money(rng, -999.99, 9999.99, nc), None),
            "c_mktsegment": (_pick(rng, SEGMENTS, nc), pa.string())},
        "supplier": {
            "s_suppkey": (np.arange(ns), i64),
            "s_name": (["Supplier#{:09d}".format(i) for i in range(ns)],
                       None),
            "s_nationkey": (rng.integers(0, 25, ns), i32),
            "s_acctbal": (_money(rng, -999.99, 9999.99, ns), None)},
        "part": {
            "p_partkey": (np.arange(np_), i64),
            "p_name": ([a + " " + b for a, b in zip(
                _pick(rng, PART_ADJ, np_), _pick(rng, PART_NOUN, np_))],
                None),
            "p_brand": (["Brand#{}".format(k)
                         for k in rng.integers(1, 26, np_)], None),
            "p_type": (_pick(rng, PART_TYPES, np_), pa.string()),
            "p_size": (rng.integers(1, 51, np_), i32),
            "p_retailprice": (np.round(900.0 + (np.arange(np_) % 1000)
                                       / 10.0, 2), None)},
        "orders": {
            "o_orderkey": (np.arange(no), i64),
            "o_custkey": (rng.integers(0, nc, no), i64),
            "o_orderstatus": (_pick(rng, list("FOP"), no), pa.string()),
            "o_totalprice": (_money(rng, 1000.0, 500000.0, no), None),
            "o_orderdate": (_days(ORDER_EPOCH, rng, ORDER_DAYS, no), None),
            "o_orderpriority": (_pick(rng, PRIORITIES, no), pa.string())},
        "lineitem": {
            "l_orderkey": (rng.integers(0, no, nl), i64),
            "l_partkey": (rng.integers(0, np_, nl), i64),
            "l_suppkey": (rng.integers(0, ns, nl), i64),
            "l_linenumber": (rng.integers(1, 8, nl), i32),
            "l_quantity": (rng.integers(1, 51, nl).astype(np.float64),
                           None),
            "l_extendedprice": (_money(rng, 900.0, 105000.0, nl), None),
            "l_discount": (rng.integers(0, 11, nl) / 100.0, None),
            "l_tax": (rng.integers(0, 9, nl) / 100.0, None),
            "l_returnflag": (_pick(rng, list("ANR"), nl), pa.string()),
            "l_linestatus": (_pick(rng, list("FO"), nl), pa.string()),
            "l_shipdate": (_days(SHIP_EPOCH, rng, SHIP_DAYS, nl), None)},
    }
    tables = {name: pa.table({c: pa.array(v, type=t)
                              for c, (v, t) in spec.items()})
              for name, spec in cols.items()}
    docs = _documents(rng, max(500, int(round(50000 * scale))))
    tables["documents"] = pa.table(docs)
    return tables


def write(out_dir, seed, scale):
    """Write every table to ``out_dir/<table>.parquet``; returns the dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, name + ".parquet"))
    return out_dir
