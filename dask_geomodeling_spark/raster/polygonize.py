"""Raster polygonization — vectorize connected same-value regions
into polygon rings (GDAL ``gdal_polygonize``; no reference analogue —
the reference leaves vectorization to GDAL).  Completes the
raster→vector story: ``RasterComponents`` labels the regions, this
block traces their boundaries.

Distributed shape:

1. label cells with :class:`~dask_geomodeling_spark.raster.components.
   RasterComponents` (packed-bigint star rounds / tiny-graph
   union-find);
2. every cell emits its four DIRECTED unit-square edges in
   counter-clockwise order (bottom→right→top→left).  Edges shared by
   two cells of the SAME component appear in opposite directions and
   CANCEL in one hash aggregation; the surviving directed edges are
   exactly the component boundary with interior on the LEFT — outer
   rings come out counter-clockwise and hole rings clockwise, the
   engine's orientation-normalized ``rings`` contract, with no
   orientation post-pass;
3. one ``applyInPandas`` per (time, component) group stitches the
   surviving edges into closed rings with the kernel's
   sharpest-left-turn walk (polyclip._stitch — pinch points of
   8-connected diagonal cells stay simple loops).

The per-group payload is the component's BOUNDARY (not its area):
bounded by perimeter length, the same group-payload contract as
Dissolve.  Cells are unit squares: cell (y, x) covers
``[x, x+1] × [y, y+1]``, so polygon area equals the cell count
(pinned by the oracle).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_geomodeling_spark.raster.base import BaseSingle

__all__ = ["RasterPolygonize"]


class RasterPolygonize(BaseSingle):
    """Vectorize connected same-value regions.

    Args:
      store: source RasterBlock.
      connectivity: 4 (GDAL default) or 8.
      max_iter: star-round bound for the labeling stage.

    Output: one row per (time, component) — ``time``, ``component``
    (the RasterComponents canonical key), ``value``, ``n_cells``,
    ``rings`` (flat orientation-normalized ring list; holes of
    ring-shaped regions included).
    """

    def __init__(self, store, connectivity=4, max_iter=20):
        if connectivity not in (4, 8):
            raise ValueError("connectivity must be 4 or 8")
        super().__init__(store, int(connectivity), int(max_iter))

    @property
    def columns(self):
        return {"time", "component", "value", "n_cells", "rings"}

    def _build(self, ctx):
        from dask_geomodeling_spark.geometry.polyclip import RINGS_TYPE
        from dask_geomodeling_spark.raster.components import (
            RasterComponents)
        _, conn, max_iter = self.args
        labeled = RasterComponents(self.store, conn,
                                   max_iter)._build(ctx)
        # 4 CCW directed unit-square edges per cell
        edges = labeled.select(
            "time", "component", "value",
            F.explode(F.expr(
                "array(" + ", ".join(
                    "named_struct('ax', CAST({ax} AS DOUBLE), "
                    "'ay', CAST({ay} AS DOUBLE), "
                    "'bx', CAST({bx} AS DOUBLE), "
                    "'by', CAST({by} AS DOUBLE))".format(
                        ax=ax, ay=ay, bx=bx, by=by)
                    for ax, ay, bx, by in (
                        ("x", "y", "x + 1", "y"),
                        ("x + 1", "y", "x + 1", "y + 1"),
                        ("x + 1", "y + 1", "x", "y + 1"),
                        ("x", "y + 1", "x", "y"))) + ")"))
            .alias("_e"))
        # opposite-direction cancellation: an interior edge appears
        # twice (once per adjacent cell, reversed) under ONE
        # undirected key; count = 1 keeps the boundary direction
        und = F.expr("array_sort(array(array(_e.ax, _e.ay), "
                     "array(_e.bx, _e.by)))")
        boundary = (edges
                    .groupBy("time", "component", und.alias("_k"))
                    .agg(F.count(F.lit(1)).alias("_n"),
                         F.min("_e").alias("_e"),
                         F.min("value").alias("value"))
                    .where(F.col("_n") == 1)
                    .select("time", "component", "value",
                            F.col("_e.ax").alias("ax"),
                            F.col("_e.ay").alias("ay"),
                            F.col("_e.bx").alias("bx"),
                            F.col("_e.by").alias("by")))
        counts = (labeled.groupBy("time", "component")
                  .agg(F.count(F.lit(1)).cast("bigint")
                       .alias("n_cells")))

        def trace(pdf):
            import pandas as pd

            from dask_geomodeling_spark.geometry.polyclip import (
                _stitch)
            directed = [((float(r.ax), float(r.ay)),
                         (float(r.bx), float(r.by)))
                        for r in pdf.itertuples()]
            rings = _stitch(directed, 1e-12)
            return pd.DataFrame({
                "time": [pdf["time"].iloc[0]],
                "component": [pdf["component"].iloc[0]],
                "value": [float(pdf["value"].iloc[0])],
                "rings": [rings or None]})

        out_schema = ("time timestamp, component string, "
                      "value double, rings " + RINGS_TYPE)
        # key-hash repartition to full parallelism BEFORE the group
        # map: it satisfies the required clustering (no second
        # exchange) and, being user-numbered, is not coalesced by
        # AQE's byte-size heuristic — the stitching stage keeps all
        # cores even when the boundary set is small by bytes
        n = ctx.spark.sparkContext.defaultParallelism
        traced = (boundary.repartition(n, "time", "component")
                  .groupBy("time", "component")
                  .applyInPandas(trace, schema=out_schema))
        return (traced
                .join(counts, ["time", "component"])
                .select("time", "component", "value", "n_cells",
                        "rings"))
