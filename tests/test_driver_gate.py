"""The bounded driver gate (``BuildContext.collect_bounded``): every
gated block takes its exact driver mirror by default and its
distributed path under the request key ``driver_threshold=0``.

The parity tests compare the two paths' results; these tests check
that the two paths really are different code, from what a build
leaves behind: the Spark jobs it launched (the gate's probe jobs are
named after the helper's call site) and the plan it returned.
Without them a request key that never reached a gate would let every
parity test compare the mirror with itself."""

import datetime
import re
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F


def _plan_and_jobs(spark, blk, **request):
    """Build ``blk`` under its own job group; returns the optimized
    plan text and ``(probe_jobs, other_jobs)`` launched by the build.
    Job groups are thread-local, so concurrent builds count apart."""
    sc = spark.sparkContext
    group = "gate-" + uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        df = blk.plan(spark, **request)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    store = sc._jsc.sc().statusStore()
    names = [store.job(j).name()
             for j in sc.statusTracker().getJobIdsForGroup(group)]
    probes = sum(bool(re.search(r"core[/\\]blocks\.py:", n))
                 for n in names)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return plan, (probes, len(names) - probes)


def _cells(spark, n, fn):
    from dask_geomodeling_spark.raster.sources import (
        DataFrameRasterSource)
    t = datetime.datetime(2024, 1, 1)
    return DataFrameRasterSource(spark.createDataFrame(
        [(t, y, x, fn(y, x)) for y in range(n) for x in range(n)],
        "time timestamp, y bigint, x bigint, value double"))


def _components(spark):
    from dask_geomodeling_spark.raster.components import (
        RasterComponents)
    return RasterComponents(_cells(spark, 4, lambda y, x: float(x > 1)))


def _sieve(spark):
    from dask_geomodeling_spark.raster.components import SieveFilter
    return SieveFilter(_cells(spark, 4, lambda y, x: float(y == x)),
                       threshold=3)


def _hydrology(name):
    def build(spark):
        from dask_geomodeling_spark.raster import hydrology
        direction = hydrology.FlowDirection(
            _cells(spark, 4, lambda y, x: float(y + x)))
        return getattr(hydrology, name)(direction)
    return build


def _cost(spark):
    from dask_geomodeling_spark.raster.hydrology import CostDistance
    cost = _cells(spark, 4, lambda y, x: 1.0 + x)
    return CostDistance(cost, _cells(spark, 1, lambda y, x: 1.0))


def _dbscan(spark):
    from dask_geomodeling_spark.geometry.sources import (
        LiteralGeometrySource)
    from dask_geomodeling_spark.geometry.spatial_join import (
        ClusterDBSCAN)
    pts = [{"id": i, "x": float(i), "y": 0.0} for i in range(6)]
    return ClusterDBSCAN(LiteralGeometrySource(pts), eps=1.1,
                         min_points=2)


def _star(spark):
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.dedup import DedupClusters
    docs = DataFrameSource(spark.range(6), index_column="id")
    pairs = DataFrameSource(spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a bigint, id_b bigint"),
        index_column="id_a")
    return DedupClusters(docs, pairs)


def _kll(spark):
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import KLLQuantile
    df = spark.range(200).select(
        "id", (F.col("id") % 17).alias("v"),
        (F.col("id") % 3).cast("string").alias("g"))
    return KLLQuantile(DataFrameSource(df, index_column="id"), "v",
                       k=16, by="g")


def _has(attr):
    """The distributed path's plan carries ``attr``; the mirror's
    never does."""
    return lambda plan: re.search(r"\b{}#".format(attr), plan) is not None


# gate -> (block builder, "is this plan the distributed path's?").
# The raster gates' distributed plans join on the packed ``_id`` key;
# the star rounds leave their ``_nb`` neighbor minimum, KLL its ``_al``
# level counts; ClusterDBSCAN's mirror label table is the only one
# joined under a broadcast hint (the distributed one is a checkpoint)
GATES = {
    "RasterComponents": (_components, _has("_id")),
    "SieveFilter": (_sieve, _has("_id")),
    "FlowAccumulation": (_hydrology("FlowAccumulation"), _has("_id")),
    "FlowLength": (_hydrology("FlowLength"), _has("_id")),
    "Watershed": (_hydrology("Watershed"), _has("_id")),
    "StreamOrder": (_hydrology("StreamOrder"), _has("_id")),
    "CostDistance": (_cost, _has("_id")),
    "ClusterDBSCAN": (_dbscan,
                      lambda plan: "strategy=broadcast" not in plan),
    "DedupClusters": (_star, _has("_nb")),
    "KLLQuantile": (_kll, _has("_al")),
}


@pytest.mark.parametrize("gate", sorted(GATES))
def test_driver_threshold_selects_path(spark, gate):
    """Default request: the gate's probe runs, nothing else launches a
    build-time job (the mirror is driver-side Python) and the plan is
    the mirror's.  ``driver_threshold=0``: no probe job at all and
    the plan is the distributed path's."""
    make, distributed = GATES[gate]
    blk = make(spark)
    plan, (probes, others) = _plan_and_jobs(spark, blk)
    assert probes >= 1 and others == 0, (probes, others)
    assert not distributed(plan), plan
    plan, (probes, _) = _plan_and_jobs(spark, blk, driver_threshold=0)
    assert probes == 0
    assert distributed(plan), plan


def test_driver_threshold_is_per_build(spark):
    """Two builds of ONE FlowAccumulation at the same time, one with
    the override and one without: each takes its own path (the
    threshold travels in the request, not in shared class state)."""
    make, distributed = GATES["FlowAccumulation"]
    blk = make(spark)
    start = threading.Barrier(2)

    def build(request):
        start.wait()
        return _plan_and_jobs(spark, blk, **request)

    with ThreadPoolExecutor(2) as pool:
        forced = pool.submit(build, {"driver_threshold": 0})
        default = pool.submit(build, {})
        (forced_plan, (forced_probes, _)) = forced.result()
        (default_plan, (default_probes, default_others)) = \
            default.result()
    assert forced_probes == 0 and distributed(forced_plan)
    assert default_probes >= 1 and default_others == 0
    assert not distributed(default_plan)
