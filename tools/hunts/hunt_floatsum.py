"""Float-reassociation hunt (round 14, r13 verdict #5): every
double accumulation with TWO execution paths or partition-order
freedom is a candidate for the bug class the r13 property run caught
in FlowLength (doubling order vs driver-walk order, 1 ulp apart).

Method: random fractional-valued grids; run each op under
``repartition(1)`` vs ``repartition(64)`` of its input AND (where two
execution paths exist) driver vs distributed; compare outputs
BIT-exactly (struct.pack).  Ops that CLAIM determinism (§6-11:
DECIMAL sums, sequential HOF folds, fixed-corner-order column math,
monotone min-plus) must never drift.  Ops DOCUMENTED as
order-dependent (Smooth's round-6 demo contract) are checked at
their oracle quantization instead.
"""
import os
import random
import struct
import sys

os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
sys.path.insert(0, os.path.join(os.path.dirname(__file__),
                                "..", ".."))
from dask_geomodeling_spark.config import get_spark  # noqa: E402

spark = get_spark()
spark.sparkContext.setLogLevel("ERROR")
from pyspark.sql import functions as F  # noqa: E402

from dask_geomodeling_spark.raster.sources import (  # noqa: E402
    DataFrameRasterSource)

rng = random.Random(987123)
fails = []


def bits(rows):
    out = []
    for r in sorted(map(tuple, rows)):
        out.append(tuple(struct.pack("<d", v) if isinstance(v, float)
                         else v for v in r))
    return out


def grid_df(h, w, density=0.8, scale=10.0):
    rows = []
    for y in range(h):
        for x in range(w):
            if rng.random() < density:
                rows.append((y, x, rng.uniform(-scale, scale)))
    return spark.createDataFrame(
        rows, "y bigint, x bigint, value double").select(
        F.expr("TIMESTAMP '2024-01-01'").alias("time"), "y", "x",
        "value")


def run(name, mk, parts=(1, 64), quant=None):
    """mk(df) -> Block; compare across input partitionings."""
    base = grid_df(16, 16)
    outs = []
    for p in parts:
        df = base.repartition(p)
        got = mk(DataFrameRasterSource(df)).plan(spark).collect()
        if quant is not None:
            got = [tuple(round(v, quant) if isinstance(v, float)
                         else v for v in r) for r in got]
        outs.append(bits(got) if quant is None else sorted(got))
    if any(o != outs[0] for o in outs[1:]):
        d = sum(1 for a, b in zip(outs[0], outs[1]) if a != b)
        fails.append((name, "partitioning drift", d))
        print("FALSIFIED", name, "drift rows:", d)
    else:
        print("ok", name)


# --- 1. hydrology family: driver vs distributed, fractional weights
from dask_geomodeling_spark.raster.hydrology import (  # noqa: E402
    CostAllocation, CostDistance, FlowAccumulation, FlowDirection,
    FlowLength, StreamOrder, Watershed)


def hydro_case():
    # random DEM; fractional values
    return grid_df(12, 12, density=1.0)


dem = DataFrameRasterSource(hydro_case())
fd = FlowDirection(dem)
wts = DataFrameRasterSource(
    grid_df(12, 12, density=0.9, scale=3.0))
for nm, blk in (
        ("flow_length", FlowLength(fd)),
        ("flow_acc_weighted", FlowAccumulation(fd, weights=wts)),
        ("flow_acc", FlowAccumulation(fd)),
        ("watershed", Watershed(fd)),
        ("stream_order", StreamOrder(fd))):
    a = bits(blk.plan(spark, driver_threshold=10 ** 9).collect())
    b = bits(blk.plan(spark, driver_threshold=0).collect())
    if a != b:
        d = sum(1 for x, y in zip(a, b) if x != y)
        fails.append((nm, "driver vs distributed", d))
        print("FALSIFIED", nm, "cross-path drift rows:", d)
    else:
        print("ok", nm, "(cross-path)")

# --- 2. CostDistance/CostAllocation: fractional costs, both paths,
#        and partitioning of the cost raster
cost_rows = grid_df(12, 12, density=1.0, scale=1.0).withColumn(
    "value", F.abs(F.col("value")) + 0.01)
srcs = grid_df(12, 12, density=0.05, scale=5.0)
for nm, cls in (("cost_distance", CostDistance),
                ("cost_allocation", CostAllocation)):
    outs = []
    for thr, p in ((10 ** 9, 1), (0, 1), (0, 64)):
        blk = cls(DataFrameRasterSource(cost_rows.repartition(p)),
                  DataFrameRasterSource(srcs))
        outs.append(bits(blk.plan(spark, driver_threshold=thr)
                         .collect()))
    if any(o != outs[0] for o in outs[1:]):
        fails.append((nm, "path/partitioning drift", 0))
        print("FALSIFIED", nm)
    else:
        print("ok", nm, "(both paths + repartition)")

# --- 3. deterministic-claim raster ops under repartitioning
from dask_geomodeling_spark.raster.spatial import (  # noqa: E402
    HillShade, IDWInterpolate, Slope, Smooth)
from dask_geomodeling_spark.raster.warp import Warp  # noqa: E402

run("idw", lambda s: IDWInterpolate(s, max_distance=3.0, power=2.0))
run("slope", lambda s: Slope(s))
run("hillshade", lambda s: HillShade(s))
for alg in ("average", "sum", "bilinear", "cubic"):
    run("warp_" + alg, lambda s, a=alg: Warp(
        s, "EPSG:4326", bbox=(1.2, 1.2, 13.8, 13.8), width=7,
        height=7, algorithm=a))

# --- 4. documented order-dependent ops: stable at their oracle
#        quantization (the demo contract) on random grids
run("smooth_round6", lambda s: Smooth(s, 1.0, fill=0.0), quant=6)

# --- 5. geodesic/planar geometry folds under repartitioning
from dask_geomodeling_spark.geometry.geom_operations import (  # noqa: E402,E501
    Area, GeodesicArea, GeodesicLength)
from dask_geomodeling_spark.geometry.sources import (  # noqa: E402
    DataFrameSource)
from dask_geomodeling_spark.geometry.base import (  # noqa: E402
    GetSeriesBlock, SetSeriesBlock)

geo_rows = []
for i in range(120):
    cx, cy = rng.uniform(-60, 60), rng.uniform(-50, 50)
    n = rng.randint(3, 9)
    import math
    ring = []
    for k in range(n):
        a = 2 * math.pi * k / n
        ring.append([cx + rng.uniform(0.5, 2.0) * math.cos(a),
                     cy + rng.uniform(0.5, 2.0) * math.sin(a)])
    ring.append(ring[0])
    geo_rows.append((i, [ring]))
gdf = spark.createDataFrame(
    geo_rows, "gid bigint, rings array<array<array<double>>>")
outs = []
for p in (1, 64):
    src = DataFrameSource(gdf.repartition(p), index_column="gid")
    blk = SetSeriesBlock(src, "ga", GeodesicArea(src),
                         "gl", GeodesicLength(src),
                         "pa", Area(src))
    rows = blk.plan(spark).select("gid", "ga", "gl", "pa").collect()
    outs.append(bits(rows))
if outs[0] != outs[1]:
    fails.append(("geodesic_folds", "partitioning drift", 0))
    print("FALSIFIED geodesic folds")
else:
    print("ok geodesic/planar folds (repartition)")

print()
if fails:
    print("FALSIFIERS:", fails)
    sys.exit(1)
print("CLEAN: no float-reassociation drift in any "
      "determinism-claiming operator")
