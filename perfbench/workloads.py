"""The benchmark's workloads and the checks on their outputs.

``tiles``  seeded windowed requests, each built from its JSON graph
``batch``  full-extent noop materialization of demo queries, and two
           exports

Every op has up to three layer calls: ``construct`` (build the Block
stack), ``build`` (plan it into a DataFrame under the request) and an
action (``toPandas``, a noop write, or a sink write).  Outputs are checked
outside the timed region against results DuckDB computes from the same
parquet files.
"""

from __future__ import annotations

import datetime as dt
import glob
import importlib.util
import json
import math
import os
import random
import struct

from perfbench import datagen

# ---------------------------------------------------------------- tiles

TILE_GRID = 256          # cells per side of the tile cell table
TILE_SIZE = 32           # cells per side of one tile request
TILE_MONTHS = 3          # months per raster tile request
SHIP_MONTHS = 83         # 1995-01 .. 2001-11, the months l_shipdate spans
FEATURE_DAYS = 90
PRICE_BAND = 100000.0
# one pass: 10 feature, 8 raster and 6 kernel tiles.  The mix keeps the
# pass median inside the raster tiles and the p90 inside the kernel
# tiles, so neither lands on the step between two request types.
TILE_PATTERN = "FRFKFRFKFRFKFRKRFRKRFRFK"
TILE_KINDS = {"F": "feature", "R": "raster", "K": "kernel"}

# The known defect: spatial kernels plan the request bbox straight into
# the source and neither pad it by the footprint nor crop the output, so a
# kernel tile differs from the cropped full-extent result.  Such tiles
# count as failed ops; they do not make the run incorrect.
KNOWN_DEFECT_KIND = "kernel"

# ----------------------------------------------------------------- batch

# query -> package module that owns its Blocks.  The list is a subset of
# the demo catalog small enough that the runs, each paying a cold warm-up
# pass, finish within 3420 s on a busy 4-core host and spread within
# their bounds: each Block layer once, the mapInPandas boundary and a
# multi-join whose AQE plan varies.  The short TPC-H queries, the spatial
# join and the TF-IDF view make nine of the thirteen ops take 0.5 to
# 1.0 s, so the pass median lies among several ops of like latency
# rather than on the step up to the four that take 1.3 to 2.5 s.
BATCH_QUERIES = {
    "q1_pricing_summary": "geometry.field_operations",
    "q3_shipping_priority": "geometry.merge",
    "q5_local_supplier_volume": "geometry.merge",
    "spatial_join": "geometry.spatial_join",
    "tfidf_keywords": "pipeline.text",
    "raster_moving_max": "raster.spatial",
    "overlay_intersection": "geometry.overlay",
    "minhash_lsh": "pipeline.dedup",
    "flow_accumulation": "raster.hydrology",
    "dbscan_clusters": "geometry.spatial_join",
    "raster_components": "raster.components",
}


def month_start(m):
    return dt.datetime(1995 + m // 12, m % 12 + 1, 1)


def tile_requests(seed, pass_index):
    """The ``(kind, request)`` list of one tiles pass; windows stay inside
    the data extent.  Pass -1 is the warm-up pass."""
    rng = random.Random("{}:{}".format(seed, pass_index))
    out = []
    for k in TILE_PATTERN:
        kind = TILE_KINDS[k]
        if kind == "feature":
            day = rng.randrange(datagen.ORDER_DAYS - FEATURE_DAYS + 1)
            start = dt.datetime(1995, 1, 1) + dt.timedelta(days=day)
            lo = PRICE_BAND * rng.randrange(5)
            req = {"filters": {"o_totalprice__gte": lo,
                               "o_totalprice__lt": lo + PRICE_BAND,
                               "o_orderstatus": rng.choice("FOP")},
                   "start": start,
                   "stop": start + dt.timedelta(days=FEATURE_DAYS)}
        else:
            x = rng.randrange(TILE_GRID - TILE_SIZE + 1)
            y = rng.randrange(TILE_GRID - TILE_SIZE + 1)
            m = rng.randrange(SHIP_MONTHS - TILE_MONTHS + 1)
            req = {"bbox": (x, y, x + TILE_SIZE - 1, y + TILE_SIZE - 1),
                   "start": month_start(m),
                   "stop": month_start(m + TILE_MONTHS - 1)}
        out.append((kind, req))
    return out


# --------------------------------------------------------------- checks

def sql_str(text):
    """``text`` as a SQL string literal."""
    return "'{}'".format(text.replace("'", "''"))


def load_parity_module(root):
    """The repository's oracle-parity test module, loaded from its file
    so the benchmark applies exactly its comparison rules."""
    path = os.path.join(root, "tests", "test_oracle_parity.py")
    spec = importlib.util.spec_from_file_location("_oracle_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _same(x, y):
    if isinstance(x, float) and isinstance(y, float):
        if math.isnan(x) and math.isnan(y):
            return True
        return struct.pack("<d", x) == struct.pack("<d", y)
    return (x == y) or (x is None and y is None) or (x != x and y != y)


def compare(parity, mine, expected):
    """None when ``mine`` equals ``expected`` under the rules of
    ``assert_parity``: same column names and row count, integer columns
    against integer columns, and every value equal, floats bit for bit.
    Otherwise a one-line reason."""
    if sorted(mine.columns) != sorted(expected.columns):
        return "columns {} != expected {}".format(
            sorted(mine.columns), sorted(expected.columns))
    if len(mine) != len(expected):
        return "rows {} != expected {}".format(len(mine), len(expected))
    a, b = parity.normalize(mine), parity.normalize(expected)
    bad = 0
    for c in a.columns:
        ka, kb = a[c].dtype.kind, b[c].dtype.kind
        if (ka in "iuf" or kb in "iuf") and (ka in "iu") != (kb in "iu"):
            return "{}: dtype {} != expected {}".format(
                c, a[c].dtype, b[c].dtype)
        bad += sum(not _same(x, y)
                   for x, y in zip(a[c].tolist(), b[c].tolist()))
    return "{} values differ".format(bad) if bad else None


class OracleCon:
    """DuckDB connection handed to ``assert_parity``; it also keeps the
    row count of the last oracle result (the rows the op returns)."""

    def __init__(self, con):
        self.con = con
        self.rows = None
        self._rel = None

    def execute(self, sql, params=None):
        self._rel = self.con.execute(sql, params)
        return self

    def df(self):
        frame = self._rel.df()
        self.rows = len(frame)
        return frame


# ------------------------------------------------------------------ ops

class Op:
    """One timed operation.  ``owner`` is the package module that owns
    its Blocks; ``action_layer`` names the span of its action."""

    action_layer = "exec.action"
    kind = "query"

    def __init__(self, name, owner):
        self.name = name
        self.owner = owner

    def construct(self, bench):
        return None

    def build(self, bench, block):
        raise NotImplementedError

    def action(self, bench, df):
        raise NotImplementedError


class TileOp(Op):
    def __init__(self, kind, request, graph):
        super().__init__("tile_" + kind,
                         "geometry.sources" if kind == "feature"
                         else "raster." + ("elemwise" if kind == "raster"
                                           else "spatial"))
        self.kind = kind
        self.request = request
        self.graph = graph

    def construct(self, bench):
        from dask_geomodeling_spark.core.blocks import Block
        return Block.from_json(self.graph)

    def build(self, bench, block):
        return block.get_data(bench.spark, **self.request)["features"]

    def action(self, bench, df):
        return df.toPandas()

    def expected(self, bench):
        req = self.request
        if self.kind == "feature":
            f = req["filters"]
            return bench.con.execute(
                "SELECT * FROM orders WHERE o_totalprice >= ? AND "
                "o_totalprice < ? AND o_orderstatus = ? AND "
                "o_orderdate BETWEEN ? AND ?",
                [f["o_totalprice__gte"], f["o_totalprice__lt"],
                 f["o_orderstatus"], req["start"], req["stop"]]).df()
        x1, y1, x2, y2 = req["bbox"]
        table = "tile_raster_full" if self.kind == "raster" \
            else "tile_kernel_full"
        return bench.con.execute(
            "SELECT * FROM {} WHERE x BETWEEN ? AND ? AND y BETWEEN ? "
            "AND ? AND time BETWEEN ? AND ?".format(table),
            [x1, x2, y1, y2, req["start"], req["stop"]]).df()

    def check(self, bench, result):
        return compare(bench.parity, result, self.expected(bench))

    def rows(self, bench, result):
        return len(result)


class QueryOp(Op):
    """A ``demos.QUERIES`` entry at full extent, run into a noop sink.
    Its output is checked once per run, by ``assert_parity`` in the
    warm-up pass."""

    def build(self, bench, block):
        from dask_geomodeling_spark import demos
        return demos.QUERIES[self.name](bench.spark, bench.data_dir)

    def action(self, bench, df):
        df.write.format("noop").mode("overwrite").save()

    def check(self, bench, result):
        return bench.query_check[self.name]

    def rows(self, bench, result):
        return bench.query_rows[self.name]


class ExportOp(Op):
    """A sink export; the written files are read back and checked."""

    action_layer = "sinks.write"
    kind = "export"

    def __init__(self, name, owner, seq):
        super().__init__(name, owner)
        self.seq = seq

    def url(self, bench):
        ext = ".geojson" if self.name == "export_geojson" else ""
        return os.path.join(bench.work_dir, "exports",
                            "{}-{}{}".format(self.name, self.seq, ext))

    def construct(self, bench):
        from dask_geomodeling_spark import demos
        if self.name == "export_raster":
            from dask_geomodeling_spark.raster.spatial import MovingMax
            return MovingMax(
                demos.lineitem_grid(bench.spark, bench.data_dir, "R"), 3)
        from dask_geomodeling_spark.geometry.field_operations import \
            Multiply
        from dask_geomodeling_spark.geometry.sources import \
            ParquetGeometrySource
        src = ParquetGeometrySource(
            os.path.join(bench.data_dir, "customer.parquet"),
            id_field="c_custkey")
        return src.set("x", Multiply(src["c_acctbal"], 0.01),
                       "y", Multiply(src["c_nationkey"], 1.0))

    def build(self, bench, block):
        return block

    def action(self, bench, view):
        return view.to_file(self.url(bench))

    def read_back(self, bench, url):
        import pandas as pd
        if self.name == "export_raster":
            return bench.con.execute(
                "SELECT time, y, x, value FROM read_parquet(?, "
                "hive_partitioning = true)",
                [os.path.join(url, "*", "*.parquet")]).df()
        rows = []
        for path in sorted(glob.glob(os.path.join(url, "part-*"))):
            with open(path) as fh:
                for line in fh:
                    for feat in json.loads(line)["features"]:
                        x, y = feat["geometry"]["coordinates"]
                        rows.append(dict(feat["properties"], x=x, y=y))
        return pd.DataFrame(rows)

    def expected(self, bench):
        if self.name == "export_raster":
            from dask_geomodeling_spark import demos
            sql = demos.ORACLES["raster_moving_max"]
        else:
            sql = ("SELECT *, c_acctbal * CAST(0.01 AS DOUBLE) AS x, "
                   "CAST(c_nationkey AS DOUBLE) AS y FROM customer")
        return bench.con.execute(sql).df()

    def check(self, bench, url):
        return compare(bench.parity, self.read_back(bench, url),
                       self.expected(bench))

    def rows(self, bench, url):
        return len(self.read_back(bench, url))


# ------------------------------------------------------------ workloads

class Workload:
    name = None

    def __init__(self, bench):
        self.bench = bench

    def setup(self):
        """Work users pay once per process, before the first request."""

    def ops(self, pass_index):
        raise NotImplementedError

    def warm(self):
        """Run every op shape once before timing; returns the ops run."""
        raise NotImplementedError


class Tiles(Workload):
    name = "tiles"
    def setup(self):
        """Export the cell table the raster tiles read and serialize the
        three graphs."""
        from pyspark.sql import functions as F

        from dask_geomodeling_spark.geometry.sources import \
            ParquetGeometrySource
        from dask_geomodeling_spark.raster.elemwise import Add, Multiply
        from dask_geomodeling_spark.raster.sinks import RasterFileSink
        from dask_geomodeling_spark.raster.sources import (
            DataFrameRasterSource, RasterParquetSource)
        from dask_geomodeling_spark.raster.spatial import MovingMax

        b = self.bench
        self.cells_url = os.path.join(b.work_dir, "cells")
        li = b.spark.read.parquet(
            os.path.join(b.data_dir, "lineitem.parquet"))
        cells = (li.groupBy(
            F.date_trunc("month", "l_shipdate").alias("time"),
            (F.col("l_orderkey") % TILE_GRID).alias("y"),
            (F.col("l_partkey") % TILE_GRID).alias("x"))
            .agg(F.sum("l_quantity").alias("value")))
        sink = RasterFileSink(DataFrameRasterSource(cells), self.cells_url)
        t0 = b.clock()
        sink.write(b.spark)
        self.export_s = b.clock() - t0
        src = RasterParquetSource(self.cells_url)
        orders = ParquetGeometrySource(
            os.path.join(b.data_dir, "orders.parquet"),
            id_field="o_orderkey", time_column="o_orderdate")
        self.graphs = {"feature": orders.to_json(),
                       "raster": Add(src, Multiply(src, 2)).to_json(),
                       "kernel": MovingMax(src, 3).to_json()}

    def prepare_checks(self):
        """Full-extent expected results, computed by DuckDB from the
        exported cell table; each tile compares with its crop."""
        con = self.bench.con
        con.execute(
            "CREATE OR REPLACE VIEW tile_cells AS SELECT time, y, x, "
            "value FROM read_parquet({}, hive_partitioning = true)".format(
                sql_str(os.path.join(self.cells_url, "*", "*.parquet"))))
        con.execute(
            "CREATE OR REPLACE TABLE tile_raster_full AS SELECT time, y, "
            "x, value + value * 2 AS value FROM tile_cells")
        con.execute(
            "CREATE OR REPLACE TABLE tile_kernel_full AS "
            "WITH offs(dy, dx) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),"
            "(0,0),(0,1),(1,-1),(1,0),(1,1)) "
            "SELECT c.time, c.y + o.dy AS y, c.x + o.dx AS x, "
            "MAX(c.value) AS value FROM tile_cells c CROSS JOIN offs o "
            "WHERE c.value IS NOT NULL GROUP BY 1, 2, 3")

    def ops(self, pass_index):
        return [TileOp(kind, req, self.graphs[kind])
                for kind, req in tile_requests(self.bench.seed, pass_index)]

    def warm(self):
        """The first half of a pass, every request type three times or
        more: request latencies still fall by up to a third over the
        first requests of a type."""
        ops = self.ops(-1)[:len(TILE_PATTERN) // 2]
        for op in ops:
            self.bench.execute(op, "warm")
        return ops


class Batch(Workload):
    name = "batch"
    exports = (("export_raster", "raster.sinks"),
               ("export_geojson", "geometry.sinks"))

    def ops(self, pass_index):
        ops = [QueryOp(name, owner) for name, owner in BATCH_QUERIES.items()]
        ops += [ExportOp(name, owner, "p{}".format(pass_index))
                for name, owner in self.exports]
        return ops

    def warm(self):
        """Run each query once through ``assert_parity`` (the run's
        correctness check of its output) and each export once."""
        b = self.bench
        oracle = OracleCon(b.con)
        for name in BATCH_QUERIES:
            t0 = b.clock()
            try:
                b.parity.assert_parity(b.spark, oracle, name)
                b.query_check[name] = None
            except AssertionError as e:
                b.query_check[name] = str(e).splitlines()[0][:300]
            b.query_rows[name] = oracle.rows or 0
            b.warm_s[name] = b.clock() - t0
        ops = [op for op in self.ops(-1) if isinstance(op, ExportOp)]
        for op in ops:
            b.execute(op, "warm")
        return ops


WORKLOADS = {w.name: w for w in (Tiles, Batch)}
