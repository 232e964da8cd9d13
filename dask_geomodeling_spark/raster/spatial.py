"""Spatial (neighborhood) raster operations (reference: raster/spatial.py).

Kernel pattern for a distributed grid: **neighbor-offset explode** — each
data cell emits one row per kernel offset map-side (≤k² rows), then ONE
grouped aggregation re-forms the grid.  This replaces the reference's
expand-request + ndimage filter with a plan that scales horizontally: no
halo exchange, no driver loop, one shuffle per kernel.

A ``bbox`` request keeps the reference's expand-then-crop contract: the
source is read under the bbox padded by the kernel's footprint radius and
the output is cropped back to the bbox (``_FocalKernel``).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dask_geomodeling_spark.raster.base import (BaseSingle, RasterBlock,
                                                apply_raster_request,
                                                raster_statistic_expr)

__all__ = ["Dilate", "MovingMax", "Smooth", "HillShade", "Slope",
           "Aspect", "TRI", "TPI", "Roughness", "Place",
           "Curvature", "RasterProximity", "RasterAllocation",
           "FocalStatistic", "IDWInterpolate", "Viewshed"]


def _offsets_df(spark, offsets):
    """Tiny literal offsets table — crossJoin(broadcast(...)) is the
    map-side explode."""
    return F.broadcast(
        spark.createDataFrame(offsets, schema="dy bigint, dx bigint, w double"))


def _circular_offsets(radius, include_center=True):
    """Offsets of the reference's circular footprint
    (utils.get_footprint, reference utils.py:536): cells with
    ``dy² + dx² < (size/2)²`` for size = 2·radius + 1 — diagonals are
    INSIDE at size 3 (2 < 2.25), so the 3×3 footprint is the full
    square, exactly as ndimage receives it there (round-9 review fix:
    the old ``<= radius²`` rule dropped the diagonals and diverged
    from the reference's focal results)."""
    lim = (radius + 0.5) ** 2
    out = []
    for dy in range(-radius, radius + 1):
        for dx in range(-radius, radius + 1):
            if dy * dy + dx * dx < lim:
                if include_center or (dy, dx) != (0, 0):
                    out.append((dy, dx, 1.0))
    return out


class _FocalKernel(BaseSingle):
    """Base of the neighbourhood kernels: an output cell depends on the
    source cells within ``_radius()`` cells of it (1 by default, the 3×3
    window).  Under a ``bbox`` request the kernel reads the source under
    the bbox padded by that radius and its output is cropped to the
    bbox, so a windowed request returns exactly the crop of the
    full-extent result (the reference expands the request by the
    footprint the same way).  ``width``/``height`` striding applies to
    the output; the kernel itself runs on the native grid, so it equals
    the strided crop of the full-extent result.  The cost of a
    downsampled request therefore follows the native cells of the
    padded bbox, not the output size: a stride of s in both axes reads
    and shuffles about s² times the cells it returns."""

    def _radius(self):
        return 1

    def _kernel(self, ctx):
        raise NotImplementedError

    def _build(self, ctx):
        bbox = ctx.request.get("bbox")
        if bbox is None:
            return self._kernel(ctx)
        r = self._radius()
        x1, y1, x2, y2 = bbox
        padded = ctx.child(bbox=(x1 - r, y1 - r, x2 + r, y2 + r),
                           width=None, height=None)
        crop = {k: ctx.request.get(k) for k in ("bbox", "width", "height")}
        return apply_raster_request(self._kernel(padded), crop)


class Dilate(_FocalKernel):
    """Dilate cells with listed values by one cell in all 8 directions,
    in the order of ``values`` (reference: raster/spatial.py:111)."""

    def __init__(self, store, values):
        values = [float(v) for v in values]
        super().__init__(store, values)

    @property
    def values(self):
        return self.args[1]

    def _kernel(self, ctx):
        df = self.store._build(ctx)
        base = df.select("time", "y", "x", "value",
                         F.lit(-1).alias("_prio"))
        offsets = _offsets_df(
            ctx.spark,
            [(dy, dx, 1.0) for dy in (-1, 0, 1) for dx in (-1, 0, 1)])
        parts = [base]
        for prio, v in enumerate(self.values):
            dilated = (df.filter(F.col("value") == v)
                       .crossJoin(offsets)
                       .select("time",
                               (F.col("y") + F.col("dy")).alias("y"),
                               (F.col("x") + F.col("dx")).alias("x"),
                               F.lit(v).alias("value"),
                               F.lit(prio).alias("_prio")))
            parts.append(dilated)
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        # later dilation values overwrite; original value is the fallback
        return (union.groupBy("time", "y", "x")
                .agg(F.expr("max_by(value, _prio)").alias("value")))


class MovingMax(_FocalKernel):
    """Maximum filter with a circular footprint (reference:
    raster/spatial.py:158)."""

    def __init__(self, store, size):
        size = int(2 * round((size - 1) / 2) + 1)
        if size < 3:
            raise ValueError("The size should be odd and larger than 1")
        super().__init__(store, size)

    @property
    def size(self):
        return self.args[1]

    def _radius(self):
        return self.size // 2

    def _kernel(self, ctx):
        df = self.store._build(ctx).filter(F.col("value").isNotNull())
        radius = self._radius()
        offsets = _offsets_df(ctx.spark, _circular_offsets(radius))
        return (df.crossJoin(offsets)
                .select("time",
                        (F.col("y") + F.col("dy")).alias("y"),
                        (F.col("x") + F.col("dx")).alias("x"),
                        "value")
                .groupBy("time", "y", "x")
                .agg(F.max("value").alias("value")))


class Smooth(_FocalKernel):
    """Gaussian smoothing (reference: raster/spatial.py:216; sigma =
    size / 3, no-data replaced by ``fill`` before filtering).

    Each data cell scatters weighted contributions to its neighborhood;
    missing neighbors contribute ``fill``:
    ``out = (Σ w_i·v_i + fill·(W − Σ w_i)) / W`` with W the full-kernel
    weight — identical to a constant-padded Gaussian within the truncation
    radius.  Output is defined on the original data cells."""

    def __init__(self, store, size, fill=0):
        for x in (size, fill):
            if not isinstance(x, (int, float)):
                raise TypeError("'{}' object is not allowed".format(type(x)))
        super().__init__(store, float(size), float(fill))

    @property
    def size(self):
        return self.args[1]

    @property
    def fill(self):
        return self.args[2]

    def _sigma(self):
        return max(self.size / 3.0, 1e-9)

    def _radius(self):
        return max(int(math.ceil(2 * self._sigma())), 1)

    def _kernel(self, ctx):
        sigma = self._sigma()
        radius = self._radius()
        offs = []
        for dy in range(-radius, radius + 1):
            for dx in range(-radius, radius + 1):
                w = math.exp(-(dy * dy + dx * dx) / (2 * sigma * sigma))
                offs.append((dy, dx, w))
        total_w = sum(w for _, _, w in offs)
        df = self.store._build(ctx).filter(F.col("value").isNotNull())
        offsets = _offsets_df(ctx.spark, offs)
        scattered = (df.crossJoin(offsets)
                     .select("time",
                             (F.col("y") + F.col("dy")).alias("y"),
                             (F.col("x") + F.col("dx")).alias("x"),
                             (F.col("value") * F.col("w")).alias("_wv"),
                             F.col("w").alias("_w")))
        sums = (scattered.groupBy("time", "y", "x")
                .agg(F.sum("_wv").alias("_swv"), F.sum("_w").alias("_sw")))
        smoothed = ((F.col("_swv")
                     + F.lit(self.fill) * (F.lit(total_w) - F.col("_sw")))
                    / F.lit(total_w))
        # keep the original data-cell footprint (no-data cells stay no-data)
        original = df.select("time", "y", "x")
        return (sums.join(original, ["time", "y", "x"], "left_semi")
                .select("time", "y", "x", smoothed.alias("value")))


def _horn_gradients(ctx, store):
    """Shared Horn 3×3 gradient build: scatter every data cell to the
    neighbors that use it, pivot the window back with conditional
    aggregation (one shuffle), and return ``(df, g, gx, gy)`` — the
    filtered source, the aggregated window frame (``c11`` = center),
    and the 8-neighbor weighted gradient Columns with missing
    neighbors falling back to the center value (the GDAL edge
    convention this module uses throughout)."""
    df = store._build(ctx).filter(F.col("value").isNotNull())
    offs = [(dy, dx, 1.0) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    offsets = _offsets_df(ctx.spark, offs)
    scattered = (df.crossJoin(offsets)
                 .select("time",
                         (F.col("y") + F.col("dy")).alias("y"),
                         (F.col("x") + F.col("dx")).alias("x"),
                         (-F.col("dy")).alias("ky"),
                         (-F.col("dx")).alias("kx"),
                         "value"))

    def at(ky, kx):
        return F.max(F.when((F.col("ky") == ky) & (F.col("kx") == kx),
                            F.col("value")))

    g = (scattered.groupBy("time", "y", "x")
         .agg(*[at(ky, kx).alias("c{}{}".format(ky + 1, kx + 1))
                for ky in (-1, 0, 1) for kx in (-1, 0, 1)]))
    c = {(ky, kx): F.coalesce(
            F.col("c{}{}".format(ky + 1, kx + 1)), F.col("c11"))
         for ky in (-1, 0, 1) for kx in (-1, 0, 1)}
    gx = ((c[(-1, 1)] + 2 * c[(0, 1)] + c[(1, 1)])
          - (c[(-1, -1)] + 2 * c[(0, -1)] + c[(1, -1)])) / 8.0
    gy = ((c[(1, -1)] + 2 * c[(1, 0)] + c[(1, 1)])
          - (c[(-1, -1)] + 2 * c[(-1, 0)] + c[(-1, 1)])) / 8.0
    return df, g, gx, gy


class HillShade(_FocalKernel):
    """Hillshade from cell values (reference: raster/spatial.py:310,
    GDAL-style Horn gradient).  The 3×3 neighborhood is pivoted into
    gradient sums via conditional aggregation — one shuffle."""

    def __init__(self, store, altitude=45, azimuth=315, fill=0):
        for x in (altitude, azimuth, fill):
            if not isinstance(x, (int, float)):
                raise TypeError("'{}' object is not allowed".format(type(x)))
        super().__init__(store, float(altitude), float(azimuth), fill)

    @property
    def altitude(self):
        return self.args[1]

    @property
    def azimuth(self):
        return self.args[2]

    def _kernel(self, ctx):
        df, g, gx, gy = _horn_gradients(ctx, self.store)
        alt = math.radians(self.altitude)
        az = math.radians(self.azimuth)
        xx_plus_yy = gx * gx + gy * gy
        aspect = F.atan2(gy, gx)
        cang = ((F.lit(math.sin(alt))
                 - F.lit(math.cos(alt)) * F.sqrt(xx_plus_yy)
                 * F.sin(aspect - F.lit(az)))
                / F.sqrt(1 + xx_plus_yy))
        shade = F.when(cang <= 0, 0.0).otherwise(255.0 * cang)
        out = g.select("time", "y", "x",
                       F.when(F.col("c11").isNotNull(), shade)
                       .alias("value"))
        original = df.select("time", "y", "x")
        return out.join(original, ["time", "y", "x"], "left_semi")


class Slope(_FocalKernel):
    """Slope in degrees from cell values — the standard Horn (1981)
    terrain derivative GDAL's ``gdaldem slope`` computes (no reference
    analogue: the reference ships HillShade only, raster/spatial.py:310;
    same gradient, so the two compose consistently).

    ``slope = degrees(atan(z_factor · sqrt(gx² + gy²)))`` over the
    unit-cell grid; ``z_factor`` rescales vertical units (e.g. the
    cell size in ground units).  Same scatter + conditional-
    aggregation plan as HillShade — one shuffle, no window."""

    def __init__(self, store, z_factor=1.0):
        if not isinstance(z_factor, (int, float)):
            raise TypeError(
                "'{}' object is not allowed".format(type(z_factor)))
        super().__init__(store, float(z_factor))

    def _kernel(self, ctx):
        df, g, gx, gy = _horn_gradients(ctx, self.store)
        z = float(self.args[1])
        slope = F.degrees(F.atan(F.lit(z) * F.sqrt(gx * gx + gy * gy)))
        out = g.select("time", "y", "x",
                       F.when(F.col("c11").isNotNull(), slope)
                       .alias("value"))
        return out.join(df.select("time", "y", "x"),
                        ["time", "y", "x"], "left_semi")


class Aspect(_FocalKernel):
    """Downslope direction as compass degrees [0, 360) — ``gdaldem
    aspect`` with north = +y, clockwise (no reference analogue; Horn
    gradient shared with HillShade/Slope).

    ``aspect = (degrees(atan2(-gx, -gy)) + 360) % 360``; flat cells
    (zero gradient) return NULL (GDAL's nodata convention for flat
    terrain)."""

    def __init__(self, store):
        super().__init__(store)

    def _kernel(self, ctx):
        df, g, gx, gy = _horn_gradients(ctx, self.store)
        flat = (gx == 0) & (gy == 0)
        compass = F.pmod(F.degrees(F.atan2(-gx, -gy)) + 360.0,
                         F.lit(360.0))
        out = g.select("time", "y", "x",
                       F.when(F.col("c11").isNotNull() & ~flat, compass)
                       .alias("value"))
        return out.join(df.select("time", "y", "x"),
                        ["time", "y", "x"], "left_semi")


class _Window3Metric(_FocalKernel):
    """Shared base for the gdaldem 3×3 window metrics (TRI / TPI /
    Roughness — no reference analogue; the neighborhood build is the
    HillShade scatter + conditional aggregation, one shuffle).
    Missing neighbors fall back to the center value, the module's
    edge convention (their diff contributes zero)."""

    def _metric(self, c):
        raise NotImplementedError

    def _kernel(self, ctx):
        df, g, _, _ = _horn_gradients(ctx, self.store)
        c = {(ky, kx): F.coalesce(
                F.col("c{}{}".format(ky + 1, kx + 1)), F.col("c11"))
             for ky in (-1, 0, 1) for kx in (-1, 0, 1)}
        out = g.select("time", "y", "x",
                       F.when(F.col("c11").isNotNull(),
                              self._metric(c)).alias("value"))
        return out.join(df.select("time", "y", "x"),
                        ["time", "y", "x"], "left_semi")


_NEIGHBORS = [(ky, kx) for ky in (-1, 0, 1) for kx in (-1, 0, 1)
              if (ky, kx) != (0, 0)]


class TRI(_Window3Metric):
    """Terrain Ruggedness Index, Wilson et al. variant (``gdaldem TRI
    -alg Wilson``): mean |neighbor − center| over the 8-neighborhood.
    """

    def __init__(self, store):
        super().__init__(store)

    def _metric(self, c):
        center = c[(0, 0)]
        s = F.lit(0.0)
        for k in _NEIGHBORS:
            s = s + F.abs(c[k] - center)
        return s / 8.0


class TPI(_Window3Metric):
    """Topographic Position Index (``gdaldem TPI``): center minus the
    mean of its 8 neighbors — positive on ridges, negative in valleys.
    """

    def __init__(self, store):
        super().__init__(store)

    def _metric(self, c):
        center = c[(0, 0)]
        s = F.lit(0.0)
        for k in _NEIGHBORS:
            s = s + c[k]
        return center - s / 8.0


class Roughness(_Window3Metric):
    """Roughness (``gdaldem roughness``): max − min over the full 3×3
    window."""

    def __init__(self, store):
        super().__init__(store)

    def _metric(self, c):
        vals = [c[(ky, kx)] for ky in (-1, 0, 1) for kx in (-1, 0, 1)]
        return F.greatest(*vals) - F.least(*vals)


class Place(BaseSingle):
    """Place copies of the source raster at target coordinates (reference:
    raster/spatial.py:441).  Each coordinate is a translation of the
    anchor; overlaps merge with ``statistic``.  Coordinates explode
    map-side from a broadcast literal — copies = rows, not tasks."""

    def __init__(self, store, place_projection, anchor, coordinates,
                 statistic="last"):
        from dask_geomodeling_spark.functions import check_statistic
        anchor = [float(a) for a in anchor]
        if len(anchor) != 2:
            raise ValueError("Expected 2 numbers in the 'anchor' parameter")
        coordinates = [[float(a), float(b)] for a, b in (coordinates or [])]
        check_statistic(statistic)
        super().__init__(store, place_projection, anchor, coordinates,
                         statistic)

    @property
    def anchor(self):
        return self.args[2]

    @property
    def coordinates(self):
        return self.args[3]

    @property
    def statistic(self):
        return self.args[4]

    def _build(self, ctx):
        from dask_geomodeling_spark.functions import statistic_expr
        df = self.store._build(ctx)
        if not self.coordinates:
            return df.limit(0)
        ax, ay = self.anchor
        coords = ctx.spark.createDataFrame(
            [(i, cx, cy) for i, (cx, cy) in enumerate(self.coordinates)],
            schema="_prio int, cx double, cy double")
        placed = (df.crossJoin(F.broadcast(coords))
                  .select("time",
                          (F.col("y") + F.round(F.col("cy") - ay)
                           .cast("bigint")).alias("y"),
                          (F.col("x") + F.round(F.col("cx") - ax)
                           .cast("bigint")).alias("x"),
                          "value", "_prio"))
        placed = placed.filter(F.col("value").isNotNull())
        if self.statistic == "last":
            agg = F.expr("max_by(value, _prio)")
        elif self.statistic == "first":
            agg = F.expr("min_by(value, _prio)")
        else:
            agg = raster_statistic_expr(self.statistic)
        return (placed.groupBy("time", "y", "x").agg(agg.alias("value")))


class Curvature(_FocalKernel):
    """Surface curvature (Zevenbergen & Thorne 1987 — the ArcGIS
    Curvature tool's quadric fit; no reference analogue, extends the
    gdaldem terrain family).  Over the unit 3×3 window (missing
    neighbors fall back to the center, the module's shared edge
    convention):

        D = (z_left + z_right)/2 − z_c      (½ ∂²z/∂x²)
        E = (z_down + z_up)/2 − z_c         (½ ∂²z/∂y²)
        F = (z_ur − z_ul − z_lr + z_ll)/4   (∂²z/∂x∂y)
        G = (z_right − z_left)/2            (∂z/∂x)
        H = (z_up − z_down)/2               (∂z/∂y)

      kind='standard': −2(D + E)·100 (negative = convex upward)
      kind='profile':  −2(DG² + EH² + FGH)/(G² + H²)·100
      kind='plan':      2(DH² + EG² − FGH)/(G² + H²)·100
    Flat cells (G = H = 0) take 0.0 for profile/plan (the ArcGIS
    convention).  Same scatter + conditional-aggregation window as
    Slope/Aspect/HillShade — one shuffle, no window operator."""

    def __init__(self, store, kind="standard"):
        if kind not in ("standard", "profile", "plan"):
            raise ValueError(
                "kind must be 'standard', 'profile' or 'plan'")
        super().__init__(store, kind)

    def _kernel(self, ctx):
        df, g, _, _ = _horn_gradients(ctx, self.store)
        c = {(ky, kx): F.coalesce(
                F.col("c{}{}".format(ky + 1, kx + 1)), F.col("c11"))
             for ky in (-1, 0, 1) for kx in (-1, 0, 1)}
        z5 = c[(0, 0)]
        d = (c[(0, -1)] + c[(0, 1)]) / 2 - z5
        e = (c[(-1, 0)] + c[(1, 0)]) / 2 - z5
        f = (c[(1, 1)] - c[(1, -1)] - c[(-1, 1)] + c[(-1, -1)]) / 4
        gg = (c[(0, 1)] - c[(0, -1)]) / 2
        h = (c[(1, 0)] - c[(-1, 0)]) / 2
        kind = self.args[1]
        if kind == "standard":
            v = -2.0 * (d + e) * 100.0
        else:
            denom = gg * gg + h * h
            num = (-2.0 * (d * gg * gg + e * h * h + f * gg * h)
                   if kind == "profile"
                   else 2.0 * (d * h * h + e * gg * gg - f * gg * h))
            v = F.when(denom == 0, F.lit(0.0)) \
                 .otherwise(num / denom * 100.0)
        out = g.select("time", "y", "x",
                       F.when(F.col("c11").isNotNull(), v)
                       .alias("value"))
        return out.join(df.select("time", "y", "x"),
                        ["time", "y", "x"], "left_semi")


class RasterProximity(_FocalKernel):
    """Bounded-radius distance transform — ``gdal_proximity`` with
    ``-maxdist`` (no reference analogue; completes the gdaldem/
    gdal_* raster toolbox family).  Every cell of the store gets the
    Euclidean cell-distance to its nearest SOURCE cell (``values``
    list, or any non-zero value when None) within ``max_distance``;
    cells with no source in range take NULL (gdal's nodata
    convention).

    Spark shape: source cells scatter to the ≤ ⌈πd²⌉ literal offsets
    inside the radius (one broadcast crossJoin — the Horn-window
    pattern, bounded by the radius, NEVER data×data), one min
    aggregation per cell, one left join back onto the store.  At
    100 TB the cost is |sources|·πd² scattered rows — linear in the
    raster with an explicit, documented radius bound (the unbounded
    transform needs iterative sweeps; out of scope by contract).
    """

    def __init__(self, store, max_distance=4.0, values=None):
        d = float(max_distance)
        if not d > 0:
            raise ValueError("max_distance must be > 0")
        if values is not None:
            values = tuple(float(v) for v in values)
        super().__init__(store, d, values)

    def _radius(self):
        return int(math.floor(self.args[1]))

    def _kernel(self, ctx):
        d, values = float(self.args[1]), self.args[2]
        df = self.store._build(ctx).filter(F.col("value").isNotNull())
        v = F.col("value").cast("double")
        if values is None:
            src = df.filter(v != 0)  # booleans cast: true -> 1.0
        else:
            src = df.filter(v.isin([float(x) for x in values]))
        r = int(math.floor(d))
        offs = [(dy, dx, math.sqrt(dy * dy + dx * dx))
                for dy in range(-r, r + 1) for dx in range(-r, r + 1)
                if dy * dy + dx * dx <= d * d]
        offsets = _offsets_df(ctx.spark, offs)
        near = (src.crossJoin(offsets)
                .select("time",
                        (F.col("y") + F.col("dy")).alias("y"),
                        (F.col("x") + F.col("dx")).alias("x"),
                        F.col("w").alias("_d"))
                .groupBy("time", "y", "x")
                .agg(F.min("_d").alias("_d")))
        return (df.select("time", "y", "x")
                .join(near, ["time", "y", "x"], "left")
                .select("time", "y", "x",
                        F.col("_d").alias("value")))


class RasterAllocation(_FocalKernel):
    """Bounded-radius Euclidean ALLOCATION — each cell takes the
    VALUE of its nearest source cell within ``max_distance`` (ArcGIS
    Euclidean Allocation / the Voronoi-label counterpart of
    :class:`RasterProximity`; same scatter shape).  Ties break
    deterministically toward the smaller (distance, source y, source
    x) triple via one native struct-min.  Cells with no source in
    range take NULL.  ``sources`` (optional RasterBlock) supplies a
    separate source raster — e.g. MaskBelow(store, t) — while the
    output covers the STORE's cells."""

    def __init__(self, store, max_distance=4.0, values=None,
                 sources=None):
        d = float(max_distance)
        if not d > 0:
            raise ValueError("max_distance must be > 0")
        if values is not None:
            values = tuple(float(v) for v in values)
        super().__init__(store, d, values, sources)

    def _radius(self):
        return int(math.floor(self.args[1]))

    def _kernel(self, ctx):
        d, values = float(self.args[1]), self.args[2]
        df = self.store._build(ctx).filter(F.col("value").isNotNull())
        sstore = self.args[3]
        sdf = (sstore._build(ctx).filter(F.col("value").isNotNull())
               if sstore is not None else df)
        v = F.col("value").cast("double")
        if values is None:
            src = sdf.filter(v != 0)
        else:
            src = sdf.filter(v.isin([float(x) for x in values]))
        r = int(math.floor(d))
        offs = [(dy, dx, math.sqrt(dy * dy + dx * dx))
                for dy in range(-r, r + 1) for dx in range(-r, r + 1)
                if dy * dy + dx * dx <= d * d]
        offsets = _offsets_df(ctx.spark, offs)
        near = (src.crossJoin(offsets)
                .select("time",
                        (F.col("y") + F.col("dy")).alias("y"),
                        (F.col("x") + F.col("dx")).alias("x"),
                        F.struct(
                            F.col("w").alias("d"),
                            (F.col("y")).alias("sy"),
                            (F.col("x")).alias("sx"),
                            F.col("value").alias("v")).alias("_s"))
                .groupBy("time", "y", "x")
                .agg(F.min("_s").alias("_s")))
        return (df.select("time", "y", "x")
                .join(near, ["time", "y", "x"], "left")
                .select("time", "y", "x",
                        F.col("_s.v").alias("value")))


class FocalStatistic(_FocalKernel):
    """Generic focal (neighborhood) statistic (round 9) — the
    ArcGIS/GDAL Focal Statistics family generalizing MovingMax
    (spatial.py:77) to the engine's whole statistic vocabulary:
    ``sum | count | min | max | mean | median | std | var | product |
    p<q>`` over a circular (reference ``get_footprint``) or square
    window.

    Same scatter shape as MovingMax: each DATA cell explodes to its
    footprint offsets (a bounded literal cross join — ⌈πr²⌉ or k²
    rows per cell, never data×data) and ONE grouped aggregation
    computes the statistic per target cell; NULL cells contribute
    nothing (the nan-ignoring convention).  Output cells are every
    cell whose window contains data (the dilated domain);
    ``restrict=True`` semi-joins back to the source's own data cells
    (the Smooth-style domain).  Percentile/median are exact
    (sort-based), so results are engine-deterministic."""

    def __init__(self, store, statistic="mean", size=3,
                 footprint="circle", restrict=False):
        from dask_geomodeling_spark.functions import (
            parse_percentile_statistic)
        size = int(2 * round((size - 1) / 2) + 1)
        if size < 3:
            raise ValueError("The size should be odd and larger than 1")
        if footprint not in ("circle", "square"):
            raise ValueError("footprint must be 'circle' or 'square'")
        if parse_percentile_statistic(statistic) is None \
                and statistic not in ("sum", "count", "min", "max",
                                      "mean", "median", "std", "var",
                                      "product"):
            raise ValueError(
                'Unknown focal statistic "{}"'.format(statistic))
        super().__init__(store, str(statistic), size, footprint,
                         bool(restrict))

    @property
    def size(self):
        return self.args[2]

    def _radius(self):
        return self.size // 2

    def _kernel(self, ctx):
        from dask_geomodeling_spark.functions import statistic_expr
        _, statistic, size, footprint, restrict = self.args
        df = self.store._build(ctx).filter(F.col("value").isNotNull())
        radius = size // 2
        if footprint == "circle":
            offs = _circular_offsets(radius)
        else:
            offs = [(dy, dx, 1.0)
                    for dy in range(-radius, radius + 1)
                    for dx in range(-radius, radius + 1)]
        offsets = _offsets_df(ctx.spark, offs)
        out = (df.crossJoin(offsets)
               .select("time",
                       (F.col("y") + F.col("dy")).alias("y"),
                       (F.col("x") + F.col("dx")).alias("x"),
                       "value")
               .groupBy("time", "y", "x")
               .agg(statistic_expr(statistic).cast("double")
                    .alias("value")))
        if restrict:
            out = out.join(df.select("time", "y", "x"),
                           ["time", "y", "x"], "left_semi")
        return out


class IDWInterpolate(_FocalKernel):
    """Inverse-distance-weighted interpolation / nodata filling
    (round 9) — the ``gdal_fillnodata`` / ``gdal_grid invdist``
    counterpart on the cell table: every cell within ``max_distance``
    of at least one DATA cell gets ``Σ v_i/d_i^p / Σ 1/d_i^p`` over
    the data cells in range; data cells keep their own value exactly
    (the d→0 limit).

    Spark shape: the RasterProximity scatter — data cells explode to
    the ≤ ⌈πd²⌉ literal in-radius offsets with PRECOMPUTED weights
    ``1/d^p`` (exact rationals for the default p=2), then ONE grouped
    sum.  Weighted sums go through DECIMAL(38,18) so the aggregation
    is order-independent — engine-deterministic results, the repo's
    float-sum convention.  Cost is |data|·πd² rows, linear with an
    explicit radius bound."""

    def __init__(self, store, max_distance=4.0, power=2.0):
        d = float(max_distance)
        if not d > 0:
            raise ValueError("max_distance must be > 0")
        p = float(power)
        if not p > 0:
            raise ValueError("power must be > 0")
        super().__init__(store, d, p)

    def _radius(self):
        return int(math.floor(self.args[1]))

    def _kernel(self, ctx):
        import math as _math
        d, p = float(self.args[1]), float(self.args[2])
        df = self.store._build(ctx).filter(F.col("value").isNotNull())
        r = int(_math.floor(d))
        offs = [(dy, dx, 1.0 / (dy * dy + dx * dx) ** (p / 2.0))
                for dy in range(-r, r + 1) for dx in range(-r, r + 1)
                if 0 < dy * dy + dx * dx <= d * d]
        offsets = _offsets_df(ctx.spark, offs)
        dec = "CAST({} AS DECIMAL(38, 18))"
        contrib = (df.crossJoin(offsets)
                   .select("time",
                           (F.col("y") + F.col("dy")).alias("y"),
                           (F.col("x") + F.col("dx")).alias("x"),
                           F.expr(dec.format("w * value")).alias("_wv"),
                           F.expr(dec.format("w")).alias("_w")))
        # order-independent DECIMAL sums, then ONE double division —
        # decimal-division scale rules differ across engines, IEEE
        # double division does not
        interp = (contrib.groupBy("time", "y", "x")
                  .agg((F.sum("_wv").cast("double")
                        / F.sum("_w").cast("double")).alias("value")))
        exact = df.select("time", "y", "x", "value")
        return (interp.join(exact.select("time", "y", "x"),
                            ["time", "y", "x"], "left_anti")
                .unionByName(exact))


def _ray_offsets(radius):
    """The R2 ray-step table: one ray per boundary cell of the
    Chebyshev square of ``radius`` (8·radius rays), sampled at
    ``radius`` steps each — step i of ray (dx, dy) lands on cell
    offset ``(floor(i·dx/R + ½), floor(i·dy/R + ½))``.  COVERAGE IS
    TOTAL: for any cell (a, b) with max(|a|, |b|) = m in [1, R], the
    ray toward (sign(a)·R, round(b·R/m)) (or its transpose) samples
    exactly (a, b) at step m, because the rounding error
    |m·dy/R − b| ≤ m/(2R) < ½ for m < R (= at m = R hits the
    boundary cell itself).  Dominant-axis coordinates are distinct
    per step, so a ray never revisits a cell.  Returns rows
    ``(dy, dx, step, py, px, dist)`` with dist = √(px² + py²) —
    pure integer in, one sqrt out, replayed verbatim by SQL oracles."""
    import math as _math
    R = int(radius)
    rows = []
    for dy in range(-R, R + 1):
        for dx in range(-R, R + 1):
            if max(abs(dy), abs(dx)) != R:
                continue
            for i in range(1, R + 1):
                px = _math.floor(i * dx / R + 0.5)
                py = _math.floor(i * dy / R + 0.5)
                rows.append((dy, dx, i, py, px,
                             _math.sqrt(px * px + py * py)))
    return rows


class Viewshed(_FocalKernel):
    """Line-of-sight visibility over a DEM (ESRI ``Viewshed`` /
    GRASS ``r.viewshed`` analogue; round 13, verdict #4 — completes
    the terrain suite beside the D8 family and the cost surface).
    No reference analogue: the reference's users run it through
    GDAL/ArcGIS upstream.

    Semantics (the classic R2 sweep): every cell within Chebyshev
    ``radius`` of an observer is scored along the sampled ray from
    the observer to its boundary cell — a cell is visible from an
    observer iff its elevation angle (``(z + target_height −
    z_obs − h_obs) / (dist · cell_size)``, tan-monotonic) is >= the
    running maximum over the ray's PRECEDING steps (grazing counts
    visible; the first step always is).  A cell covered by several
    rays is visible if ANY of them says so (R2's optimistic
    convention).  ``observers`` is a raster whose non-NULL cells
    place observers, value = eye height ABOVE the DEM there;
    observers standing on cells missing from the DEM see nothing.
    DEM gaps along a ray are TRANSPARENT (the window skips them).
    Output: ``time, y, x, value`` — the NUMBER of observers that see
    each in-range cell (0 = in range of some observer but hidden,
    the ESRI observer-count convention; an observer always sees its
    own cell).  R2 is sampled, not exact R3: cells are judged along
    ONE ray family, the documented approximation every production
    viewshed ships (chosen here over per-cell supercover because the
    sampled row set is closed-form, so SQL oracles replay it).

    ``earth_curvature=True`` applies the ESRI correction: a target at
    ground distance d sits ``d²·(1 − refractivity)/(2·R_earth)``
    meters below the observer's tangent plane (``refractivity=0.13``,
    the standard atmospheric bend-back) — the horizon effect for
    long-range sweeps; DEM values and ``cell_size`` must be METERS.

    Plan shape (100 TB): observers scatter over the 8·radius²
    ray-step LITERAL (one broadcast crossJoin — the RasterProximity
    pattern, bounded by the radius, NEVER data×data); ONE equi-join
    onto the DEM cells; the running max is a window keyed per
    (observer, ray) and bounded by ``radius`` rows — never global,
    never data-sized; two bounded groupBys fold rays and observers.
    Cost = |observers| · 8·radius² scattered rows, linear in the
    observer count with an explicit, documented radius bound."""

    def __init__(self, store, observers, radius=32,
                 target_height=0.0, cell_size=1.0,
                 earth_curvature=False, refractivity=0.13):
        if not isinstance(observers, RasterBlock):
            raise TypeError(
                "'{}' object is not allowed".format(type(observers)))
        r = int(radius)
        if not 1 <= r <= 128:
            raise ValueError(
                "radius must be in [1, 128] cells (the ray-step "
                "literal is 8·radius² rows; tile a wider sweep)")
        if not float(cell_size) > 0:
            raise ValueError("cell_size must be > 0")
        if not 0.0 <= float(refractivity) < 1.0:
            raise ValueError("refractivity must be in [0, 1)")
        super().__init__(store, observers, r, float(target_height),
                         float(cell_size), bool(earth_curvature),
                         float(refractivity))

    @property
    def columns(self):
        return {"time", "y", "x", "value"}

    def _radius(self):
        return self.args[2]

    def _kernel(self, ctx):
        from pyspark.sql import Window
        _, obs_blk, R, th, cs, curve, refr = self.args
        spark = ctx.spark
        dem = (self.store._build(ctx)
               .filter(F.col("value").isNotNull())
               .select("time", "y", "x",
                       F.col("value").cast("double").alias("_z")))
        # observer eye level = DEM elevation + the observer raster's
        # height value (observers off the DEM drop here)
        obs = (obs_blk._build(ctx)
               .filter(F.col("value").isNotNull())
               .select("time",
                       F.col("y").alias("_oy"),
                       F.col("x").alias("_ox"),
                       F.col("value").cast("double").alias("_h"))
               .join(dem.select("time",
                                F.col("y").alias("_oy"),
                                F.col("x").alias("_ox"),
                                F.col("_z").alias("_zg")),
                     ["time", "_oy", "_ox"])
               .select("time", "_oy", "_ox",
                       (F.col("_zg") + F.col("_h")).alias("_zo")))
        rays = F.broadcast(spark.createDataFrame(
            _ray_offsets(R),
            schema="_rdy bigint, _rdx bigint, _step bigint, "
                   "_py bigint, _px bigint, _dist double"))
        steps = (obs.crossJoin(rays)
                 .select("time", "_oy", "_ox", "_zo",
                         "_rdy", "_rdx", "_step", "_dist",
                         (F.col("_oy") + F.col("_py")).alias("y"),
                         (F.col("_ox") + F.col("_px")).alias("x"))
                 .join(dem, ["time", "y", "x"]))
        z_eff = F.col("_z") + F.lit(th)
        if curve:
            # ESRI curvature correction: the target drops below the
            # observer's tangent plane by d²(1−refractivity)/(2R_earth)
            # meters (refraction bends the sightline back ~13%); DEM
            # z and cell_size must be METERS for this to mean anything
            from dask_geomodeling_spark.geometry.geom_operations \
                import EARTH_RADIUS_M
            dm = F.col("_dist") * F.lit(cs)
            z_eff = z_eff - dm * dm * F.lit(
                (1.0 - refr) / (2.0 * EARTH_RADIUS_M))
        steps = steps.withColumn(
            "_slope", (z_eff - F.col("_zo"))
            / (F.col("_dist") * F.lit(cs)))
        w = (Window.partitionBy("time", "_oy", "_ox", "_rdy", "_rdx")
             .orderBy("_step")
             .rowsBetween(Window.unboundedPreceding, -1))
        vis = steps.withColumn(
            "_vis", F.coalesce(F.col("_slope") >= F.max("_slope")
                               .over(w), F.lit(True)))
        per_obs = (vis.groupBy("time", "_oy", "_ox", "y", "x")
                   .agg(F.max("_vis").alias("_v"))
                   .unionByName(
                       obs.select("time", "_oy", "_ox",
                                  F.col("_oy").alias("y"),
                                  F.col("_ox").alias("x"),
                                  F.lit(True).alias("_v"))))
        return (per_obs.groupBy("time", "y", "x")
                .agg(F.sum(F.col("_v").cast("bigint"))
                     .cast("double").alias("value")))
