"""Constructive geometry operations (reference: geometry/constructive.py).

Native algebra over point/box geometry columns — pure column math, no UDF.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dask_geomodeling_spark.geometry.base import BaseSingle

__all__ = ["Buffer", "Simplify", "Centroid", "ConvexHull",
           "SamplePointsInPolygons", "IsValid", "MakeValid"]


def _buffer_ring_sql(r, dist, n):
    """SQL text: Minkowski-style disk-sum of a CCW ring expression
    ``r`` with radius ``dist``, the disk discretized as the regular
    ``n``-gon (the GEOS quad_segs analogue the point path uses).

    Per vertex: the outward-normal angles of the inbound and outbound
    edges bound an arc fan — exact endpoints plus every global n-gon
    angle strictly inside (1e-9 guards ulp ties on axis-aligned
    edges); consecutive fans connect through the offset edge
    parallels automatically.  Exact for convex rings; reflex vertices
    would need arc trimming (GEOS does), documented contract."""
    d = repr(float(dist))
    step = "(2.0 * pi() / {}.0)".format(int(n))
    m = "size({r})".format(r=r)
    at = ("element_at({r}, CAST(pmod(i + {off}, {m}) AS INT) + 1)[{c}]"
          .format(r=r, m=m, off="{off}", c="{c}"))
    px, py = at.format(off=-1, c=0), at.format(off=-1, c=1)
    cx, cy = at.format(off=0, c=0), at.format(off=0, c=1)
    nx, ny = at.format(off=1, c=0), at.format(off=1, c=1)
    tin = ("pmod(atan2({cy} - {py}, {cx} - {px}) - pi() / 2.0, "
           "2.0 * pi())").format(cx=cx, cy=cy, px=px, py=py)
    tnxt = ("pmod(atan2({ny} - {cy}, {nx} - {cx}) - pi() / 2.0, "
            "2.0 * pi())").format(cx=cx, cy=cy, nx=nx, ny=ny)
    tout = "({tin} + pmod({tnxt} - {tin}, 2.0 * pi()))".format(
        tin=tin, tnxt=tnxt)
    klo = "CAST(ceil(({tin} + 1e-9) / {s}) AS BIGINT)".format(tin=tin,
                                                              s=step)
    khi = "CAST(floor(({tout} - 1e-9) / {s}) AS BIGINT)".format(
        tout=tout, s=step)
    angles = ("concat(array({tin}), "
              "CASE WHEN {klo} <= {khi} THEN "
              "transform(sequence({klo}, {khi}), k -> k * {s}) "
              "ELSE array() END, array({tout}))"
              ).format(tin=tin, tout=tout, klo=klo, khi=khi, s=step)
    return ("flatten(transform(sequence(0, {m} - 1), i -> "
            "transform({angles}, a -> "
            "array({cx} + {d} * cos(a), {cy} + {d} * sin(a)))))"
            ).format(m=m, angles=angles, cx=cx, cy=cy, d=d)


def _buffer_rings_kernel(rings, dist, n):
    """Exact positive buffer of an even-odd ring set through the
    boundary-classification kernel (geometry/polyclip.py):
    ``buffer(P, r) = P ∪ ⋃ edge-capsules`` — per boundary edge a
    width-``2r`` rectangle, per vertex the regular ``n``-gon disk
    (the GEOS quad_segs discretization).  Holes SHRINK correctly
    (their boundary capsules fill the hole's rim) and reflex vertices
    need no arc trimming — the union handles them, which the
    closed-form convex Minkowski fan cannot."""
    import math

    from dask_geomodeling_spark.geometry.polyclip import (
        polygon_union_all)
    if not rings:
        return rings
    polys = [rings]
    for ring in rings:
        m = len(ring)
        for i in range(m):
            ax, ay = float(ring[i][0]), float(ring[i][1])
            bx, by = (float(ring[(i + 1) % m][0]),
                      float(ring[(i + 1) % m][1]))
            dx, dy = bx - ax, by - ay
            ln = math.hypot(dx, dy)
            if ln > 0:
                nx, ny = -dy / ln * dist, dx / ln * dist
                polys.append([[[ax + nx, ay + ny], [bx + nx, by + ny],
                               [bx - nx, by - ny], [ax - nx, ay - ny]]])
            polys.append([[[ax + dist * math.cos(2 * math.pi * k / n),
                            ay + dist * math.sin(2 * math.pi * k / n)]
                           for k in range(n)]])
    return polygon_union_all(polys) or None


def _buffer_path_kernel(path, dist, n):
    """Exact positive buffer of an OPEN polyline (LINESTRING): the
    capsule union — per segment a width-``2r`` rectangle, per vertex
    the regular ``n``-gon disk; no interior polygon, no closing edge.
    Same kernel contract as :func:`_buffer_rings_kernel`."""
    import math

    from dask_geomodeling_spark.geometry.polyclip import (
        polygon_union_all)
    if not path or len(path) < 2:
        return None
    polys = []
    for i in range(len(path) - 1):
        ax, ay = float(path[i][0]), float(path[i][1])
        bx, by = float(path[i + 1][0]), float(path[i + 1][1])
        dx, dy = bx - ax, by - ay
        ln = math.hypot(dx, dy)
        if ln > 0:
            nx, ny = -dy / ln * dist, dx / ln * dist
            polys.append([[[ax + nx, ay + ny], [bx + nx, by + ny],
                           [bx - nx, by - ny], [ax - nx, ay - ny]]])
    for p in path:
        vx, vy = float(p[0]), float(p[1])
        polys.append([[[vx + dist * math.cos(2 * math.pi * k / n),
                        vy + dist * math.sin(2 * math.pi * k / n)]
                       for k in range(n)]])
    return polygon_union_all(polys) or None


class Buffer(BaseSingle):
    """Expand geometries by a distance (reference:
    geometry/constructive.py:13, where GEOS buffers with
    ``quad_segs=resolution``).

    Default (``shape="box"``): points become the circular buffer's
    bounding box and boxes expand on all sides — the native bbox
    algebra, unchanged fast path.  ``shape="round"`` honors
    ``resolution`` the way the reference does for POINT inputs: the
    buffer becomes a regular ``4·resolution``-gon ring (the GEOS
    quadrant-segment approximation) carried in the multi-ring
    ``vertices`` column, so Area/Length/Rasterize downstream measure
    the circle approximation instead of the box.  ``shape="round"``
    on frames carrying ``rings`` (round 8) computes the EXACT
    capsule-union buffer through the boundary-classification kernel —
    holes shrink, reflex vertices round correctly, multipolygon parts
    may merge; see :func:`_buffer_rings_kernel`.  Box inputs keep
    bbox expansion under either shape (box⊕disk is a rounded
    rectangle — out of the native algebra; documented deviation)."""

    def __init__(self, source, distance, projection="EPSG:4326",
                 resolution=4, shape="box"):
        distance = float(distance)
        if shape not in ("box", "round"):
            raise ValueError("shape must be 'box' or 'round'")
        if shape == "round" and not distance > 0:
            # negative (erosion) round buffers are not computed — the
            # ring/path kernels only dilate; rejecting here beats the
            # silent bbox-shrink-with-unchanged-rings inconsistency
            raise ValueError(
                "shape='round' requires distance > 0 (negative/zero "
                "buffers are only supported with shape='box')")
        if int(resolution) < 1:
            raise ValueError("resolution must be >= 1")
        super().__init__(source, distance, projection, int(resolution),
                         shape)

    @property
    def distance(self):
        return self.args[1]

    @property
    def resolution(self):
        return self.args[3]

    @property
    def columns(self):
        cols = set(self.source.columns) | {"xmin", "ymin", "xmax", "ymax"}
        # 'vertices' only materializes on the point branch (_build takes
        # the bbox branch whenever bbox columns exist) — advertise it
        # only when the built frame will actually carry it
        src = set(self.source.columns)
        if (self.args[4] == "round" and {"x", "y"} <= src
                and not {"xmin", "ymin", "xmax", "ymax"} <= src):
            cols |= {"vertices"}
        if self.args[4] == "round" and ({"rings", "path"} & src):
            cols |= {"rings"}
        return cols

    def _build(self, ctx):
        # the source request expands by the buffer distance (reference:
        # constructive.py:13 get_sources_and_requests buffers the request
        # geometry) — a feature outside the bbox may buffer INTO it
        geometry = ctx.request.get("geometry")
        child_ctx = ctx
        if geometry is not None:
            x1, y1, x2, y2 = geometry
            r = self.distance
            child_ctx = ctx.child(
                geometry=(x1 - r, y1 - r, x2 + r, y2 + r))
        df = self.source._build(child_ctx)
        d = F.lit(self.distance)
        cols = set(df.columns)
        if {"xmin", "ymin", "xmax", "ymax"} <= cols:
            out = (df.withColumn("xmin", F.col("xmin") - d)
                   .withColumn("ymin", F.col("ymin") - d)
                   .withColumn("xmax", F.col("xmax") + d)
                   .withColumn("ymax", F.col("ymax") + d))
            if self.args[4] == "round" and "rings" in cols \
                    and self.distance > 0:
                # full ring stacks (holes / multipolygon / reflex
                # vertices): exact capsule-union buffer through the
                # kernel (round 8).  Rows carrying only a single ring
                # (NULL ``rings``, non-NULL ``vertices``) PROMOTE into
                # the kernel too — the closed-form Minkowski fan is
                # convex-only and would self-intersect on concave
                # rings (round-9 review fix)
                import functools

                from dask_geomodeling_spark.config import (
                    ensure_min_partitions)
                from dask_geomodeling_spark.geometry.polyclip import (
                    map_rings_unary)
                if "vertices" in cols:
                    out = out.withColumn(
                        "rings",
                        F.expr("CASE WHEN rings IS NULL AND vertices "
                               "IS NOT NULL THEN array(vertices) "
                               "ELSE rings END"))
                out = map_rings_unary(
                    ensure_min_partitions(out, ctx.spark), "rings",
                    functools.partial(_buffer_rings_kernel,
                                      dist=float(self.distance),
                                      n=4 * self.resolution))
                if "vertices" in cols:
                    out = out.withColumn(
                        "vertices",
                        F.when(F.col("rings").isNotNull(),
                               F.try_element_at(F.col("rings"),
                                                F.lit(1)))
                        .otherwise(F.col("vertices")))
            elif self.args[4] == "round" and "path" in cols \
                    and self.distance > 0:
                # open polylines (LINESTRING): exact capsule union
                import functools

                from dask_geomodeling_spark.config import (
                    ensure_min_partitions)
                from dask_geomodeling_spark.geometry.polyclip import (
                    map_rings_unary)
                out = out.withColumn("_pp", F.col("path"))
                out = map_rings_unary(
                    ensure_min_partitions(out, ctx.spark), "_pp",
                    functools.partial(_buffer_path_kernel,
                                      dist=float(self.distance),
                                      n=4 * self.resolution))
                out = (out.withColumn("rings", F.col("_pp"))
                       .drop("_pp"))
            elif self.args[4] == "round" and "vertices" in cols:
                # single-ring rows: Minkowski disk-sum of the exterior
                # ring (reference constructive.py:13 buffers arbitrary
                # geometry via GEOS) — exact for convex rings,
                # closed-form column math (no Python)
                buf = _buffer_ring_sql("vertices", self.distance,
                                       4 * self.resolution)
                out = out.withColumn(
                    "vertices",
                    F.when(F.col("vertices").isNotNull(), F.expr(buf)))
        elif {"x", "y"} <= cols:
            out = (df.withColumn("xmin", F.col("x") - d)
                   .withColumn("ymin", F.col("y") - d)
                   .withColumn("xmax", F.col("x") + d)
                   .withColumn("ymax", F.col("y") + d))
            if self.args[4] == "round":
                # regular 4·resolution-gon (GEOS quad_segs analogue),
                # counter-clockwise from angle 0 — pure column math,
                # vertices land in the standard ring machinery
                n = 4 * self.resolution
                ring = ("transform(sequence(0, {nm1}), i -> array("
                        "x + {d!r} * cos(2.0 * pi() * i / {n}.0), "
                        "y + {d!r} * sin(2.0 * pi() * i / {n}.0)))"
                        ).format(nm1=n - 1, n=n, d=self.distance)
                out = out.withColumn("vertices", F.expr(ring))
        else:
            raise ValueError(
                "Buffer requires point or box geometry columns")
        if geometry is not None:
            # the request bbox applies to the BUFFERED geometry
            x1, y1, x2, y2 = geometry
            if ctx.request.get("mode") == "centroid":
                cx = (F.col("xmin") + F.col("xmax")) / 2
                cy = (F.col("ymin") + F.col("ymax")) / 2
                out = out.filter((cx >= x1) & (cx <= x2)
                                 & (cy >= y1) & (cy <= y2))
            else:
                out = out.filter(
                    (F.col("xmin") <= x2) & (F.col("xmax") >= x1)
                    & (F.col("ymin") <= y2) & (F.col("ymax") >= y1))
        return out


def _simplify_ring_sql(r, tol):
    """SQL text: tolerance-grid snap + consecutive-duplicate collapse
    (incl. the wrap-around first==last pair — rings are stored open)
    for one ring expression ``r``.  Pure HOFs; a vertex moves at most
    tol/2, the GEOS simplify tolerance contract (reference
    constructive.py:92 runs shapely.simplify)."""
    t = repr(float(tol))
    snap = ("transform({r}, v -> array(round(v[0] / {t}) * {t}, "
            "round(v[1] / {t}) * {t}))").format(r=r, t=t)
    # bind each intermediate ONCE via a single-element transform (the
    # SQL let-binding idiom): textual substitution would re-evaluate
    # the snapped array per filter ELEMENT and the deduped array per
    # CASE reference — O(n²) interpreted HOF work per ring (measured
    # 20x on the ring demos)
    return (
        "transform(array({snap}), s -> "
        "transform(array(filter(s, (v, i) -> i = 0 "
        "OR v[0] != s[i - 1][0] OR v[1] != s[i - 1][1])), d -> "
        "CASE WHEN size(d) > 1 AND d[size(d) - 1][0] = d[0][0] "
        "AND d[size(d) - 1][1] = d[0][1] "
        "THEN slice(d, 1, size(d) - 1) ELSE d END)[0])[0]"
    ).format(snap=snap)


def _dp_keep_mask(pts, tol):
    """Iterative Douglas–Peucker keep-mask over an open polyline
    (numpy float array of shape (n, 2)); endpoints always kept,
    interior vertices kept iff farther than ``tol`` from the line
    through the enclosing kept pair — the classic recursion, run on
    an explicit stack."""
    import numpy as np
    n = len(pts)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        a, b = pts[i], pts[j]
        seg = b - a
        mid = pts[i + 1:j] - a
        l2 = float(seg @ seg)
        if l2 == 0.0:
            d = np.hypot(mid[:, 0], mid[:, 1])
        else:
            d = np.abs(seg[0] * mid[:, 1] - seg[1] * mid[:, 0]) \
                / math.sqrt(l2)
        k = int(np.argmax(d))
        if d[k] > tol:
            keep[i + 1 + k] = True
            stack.append((i, i + 1 + k))
            stack.append((i + 1 + k, j))
    return keep


def _dp_ring(ring, tol):
    """Douglas–Peucker on an OPEN ring (first vertex anchors the
    closed traversal, matching the deterministic shapely behavior of
    simplifying the closed boundary from its stored start vertex);
    returns the surviving open ring or None when < 3 vertices."""
    import numpy as np
    pts = np.asarray([[float(v[0]), float(v[1])] for v in ring],
                     dtype="float64")
    if len(pts) < 3:
        return None
    closed = np.vstack([pts, pts[:1]])
    keep = _dp_keep_mask(closed, tol)[:-1]
    out = pts[keep]
    if len(out) < 3:
        return None
    return [[float(x), float(y)] for x, y in out]


def _dp_path(path, tol):
    """Douglas–Peucker on an OPEN polyline (LINESTRING); endpoints
    always survive, result has >= 2 vertices or None for degenerate
    input."""
    import numpy as np
    pts = np.asarray([[float(v[0]), float(v[1])] for v in path],
                     dtype="float64")
    if len(pts) < 2:
        return None
    keep = _dp_keep_mask(pts, tol)
    out = pts[keep]
    return [[float(x), float(y)] for x, y in out]


def _vw_chain(pts, min_area, closed):
    """Visvalingam-Whyatt simplification: repeatedly drop the vertex
    whose effective triangle area is smallest while it stays below
    ``min_area`` (ties -> the lowest index, deterministic).  Closed
    chains use circular neighbors and keep >= 3 vertices; open chains
    pin both endpoints and keep >= 2.  Returns None for degenerate
    input."""
    pts = [(float(p[0]), float(p[1])) for p in pts]
    if (closed and len(pts) < 3) or (not closed and len(pts) < 2):
        return None

    def tri(a, b, c):
        return abs((b[0] - a[0]) * (c[1] - a[1])
                   - (c[0] - a[0]) * (b[1] - a[1])) / 2.0

    while True:
        n = len(pts)
        if (closed and n <= 3) or (not closed and n <= 2):
            break
        best = None
        for i in (range(n) if closed else range(1, n - 1)):
            ar = tri(pts[(i - 1) % n], pts[i], pts[(i + 1) % n])
            if best is None or ar < best[0]:
                best = (ar, i)
        if best[0] >= min_area:
            break
        pts.pop(best[1])
    if closed:
        # a closed chain can stop at 3 collinear vertices — drop the
        # degenerate ring like _dp_ring does, so zero-area results
        # never reach the orientation folds as fake outer rings
        area = 0.0
        n = len(pts)
        for i in range(n):
            x1, y1 = pts[i]
            x2, y2 = pts[(i + 1) % n]
            area += x1 * y2 - x2 * y1
        if area == 0.0:
            return None
    return [[x, y] for x, y in pts]


class Simplify(BaseSingle):
    """Simplify geometries (reference: geometry/constructive.py:92,
    which runs shapely ``simplify(tolerance, preserve_topology)``).

    ``algorithm='snap'`` (default): points/boxes snap their
    coordinates to the tolerance grid (round is monotonic, so the
    snapped bbox equals the bbox of snapped vertices).  Polygon
    geometry (``vertices``/``rings``) runs a vertex-reducing pass as
    pure HOF column math: every vertex snaps to the tolerance grid,
    consecutive duplicates collapse (including the wrap-around pair),
    and rings left with fewer than 3 vertices drop entirely — the
    conservative zero-shuffle analogue of Douglas–Peucker (a vertex
    never moves more than tol/2).

    ``algorithm='dp'``: REAL Douglas–Peucker over ``vertices``/
    ``rings`` — surviving vertices are a SUBSET of the input (snap
    moves them; DP doesn't) and near-collinear chains drop regardless
    of grid alignment, the reference's shapely semantics.  The
    recursion is data-dependent, so it runs in the engine's sanctioned
    Python fallback: one Arrow-batched ``mapInArrow`` pass over every
    geometry column — still a per-row map, no shuffle, one python
    worker per input split.  Point/box columns pass through unchanged
    under 'dp' (DP is defined on vertex chains)."""

    def __init__(self, source, tolerance=None, preserve_topology=True,
                 algorithm="snap"):
        if tolerance is not None:
            tolerance = float(tolerance)
        if algorithm not in ("snap", "dp", "vw"):
            raise ValueError(
                "algorithm must be 'snap', 'dp' or 'vw', got "
                "{!r}".format(algorithm))
        super().__init__(source, tolerance, preserve_topology,
                         algorithm)

    @property
    def tolerance(self):
        return self.args[1]

    def _build(self, ctx):
        df = self.source._build(ctx)
        tol = self.tolerance
        if not tol:
            return df
        if self.args[3] in ("dp", "vw"):
            ftol = float(tol)
            if self.args[3] == "vw":
                # tolerance = the MINIMUM effective triangle area
                # (the mapshaper/Visvalingam convention)
                def ring_fn(r):
                    return _vw_chain(r, ftol, True)

                def path_fn(p):
                    return _vw_chain(p, ftol, False)
            else:
                def ring_fn(r):
                    return _dp_ring(r, ftol)

                def path_fn(p):
                    return _dp_path(p, ftol)
            from dask_geomodeling_spark.geometry.polyclip import (
                _map_rings)
            fns = {
                "vertices": lambda g: None if g is None else ring_fn(g),
                "path": lambda g: None if g is None else path_fn(g),
                "rings": lambda g: None if g is None else [
                    r for r in map(ring_fn, g) if r is not None]}
            kernels = {f.name: ([f.name], fns[f.name],
                                f.dataType.simpleString())
                       for f in df.schema.fields if f.name in fns}
            return _map_rings(df, kernels) if kernels else df
        snap = lambda c: (F.round(F.col(c) / tol) * tol)  # noqa: E731
        for c in ("x", "y", "xmin", "ymin", "xmax", "ymax"):
            if c in df.columns:
                df = df.withColumn(c, snap(c))
        if "rings" in df.columns:
            ring = _simplify_ring_sql("r", tol)
            df = df.withColumn(
                "rings",
                F.when(F.col("rings").isNotNull(), F.expr(
                    "filter(transform(rings, r -> {}), q -> size(q) >= 3)"
                    .format(ring))))
        if "vertices" in df.columns:
            simp = _simplify_ring_sql("vertices", tol)
            df = df.withColumn(
                "vertices",
                F.when(F.col("vertices").isNotNull(), F.expr(
                    "transform(array({s}), q -> CASE WHEN size(q) >= 3 "
                    "THEN q END)[0]".format(s=simp))))
        return df


class Centroid(BaseSingle):
    """Reduce geometry to its centroid point — companion of the
    reference's ``mode="centroid"`` request handling.  Polygon rows
    (``rings``/``vertices``) get the exact area-weighted centroid;
    box rows the bbox midpoint."""

    def _build(self, ctx):
        df = self.source._build(ctx)
        cols = set(df.columns)
        cx = cy = None
        if {"xmin", "ymin", "xmax", "ymax"} <= cols:
            cx = (F.col("xmin") + F.col("xmax")) / 2
            cy = (F.col("ymin") + F.col("ymax")) / 2
        if "vertices" in cols or "rings" in cols:
            from dask_geomodeling_spark.geometry.geom_operations import (
                centroid_expr, rings_centroid_expr)
            if "vertices" in cols:
                rx, ry = centroid_expr()
                ring = F.col("vertices").isNotNull()
                cx = rx if cx is None else F.when(ring, rx).otherwise(cx)
                cy = ry if cy is None else F.when(ring, ry).otherwise(cy)
            if "rings" in cols:
                mx, my = rings_centroid_expr()
                multi = F.col("rings").isNotNull()
                cx = mx if cx is None else F.when(multi, mx).otherwise(cx)
                cy = my if cy is None else F.when(multi, my).otherwise(cy)
        if cx is not None:
            df = df.withColumn("x", cx).withColumn("y", cy)
        return df


def _convex_hull_kernel(rings):
    """Andrew's monotone chain over the distinct vertices of a ring
    set; returns a single CCW hull ring (the geopandas
    ``convex_hull`` contract).  Degenerate inputs (< 3 distinct
    non-collinear points) return None."""
    pts = sorted({(float(p[0]), float(p[1]))
                  for ring in (rings or ()) for p in ring})
    if len(pts) < 3:
        return None

    def cross(o, a, b):
        return ((a[0] - o[0]) * (b[1] - o[1])
                - (a[1] - o[1]) * (b[0] - o[0]))

    lower = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    hull = lower[:-1] + upper[:-1]
    if len(hull) < 3:
        return None
    return [[[x, y] for x, y in hull]]


class ConvexHull(BaseSingle):
    """Per-feature convex hull (geopandas ``convex_hull``; reference
    counterpart: shapely ``convex_hull`` under constructive.py:13's
    GEOS toolbox).  Ring/vertices geometry collapses to its single
    CCW hull ring via Andrew's monotone chain in the Arrow-batched
    map contract; bbox columns recompute from the hull (hull bbox =
    input bbox, kept exact); point/box-only frames pass through
    (their hull is themselves)."""

    def _build(self, ctx):
        import functools  # noqa: F401

        from dask_geomodeling_spark.geometry.polyclip import (
            map_rings_unary)
        df = self.source._build(ctx)
        cols = set(df.columns)
        if "rings" not in cols and "vertices" not in cols:
            return df
        parts = []
        if "rings" in cols:
            parts.append(F.col("rings"))
        if "vertices" in cols:
            parts.append(F.when(F.col("vertices").isNotNull(),
                                F.array(F.col("vertices"))))
        from dask_geomodeling_spark.config import ensure_min_partitions
        lr = F.coalesce(*parts) if len(parts) > 1 else parts[0]
        df = ensure_min_partitions(df, ctx.spark).withColumn("_hr", lr)
        df = map_rings_unary(df, "_hr", _convex_hull_kernel)
        out = {}
        if "rings" in cols:
            out["rings"] = F.col("_hr")
        if "vertices" in cols:
            out["vertices"] = F.try_element_at(F.col("_hr"), F.lit(1))
        return df.withColumns(out).drop("_hr")

    @property
    def columns(self):
        return set(self.source.columns)


def _welzl_circle(rings):
    """Exact minimum enclosing circle over the vertices of a ring set
    — Welzl's move-to-front algorithm (public textbook form; the MEC
    is unique, so the internal shuffle cannot change the result).
    Returns ``[cx, cy, r]`` or None for empty input."""
    import math
    import random as _random
    pts = list(dict.fromkeys(
        (float(p[0]), float(p[1]))
        for ring in (rings or ()) for p in ring))
    if not pts:
        return None
    _random.Random(0).shuffle(pts)
    scale = max(max(abs(x), abs(y)) for x, y in pts) or 1.0
    eps = scale * 1e-9

    def circ2(a, b):
        cx, cy = (a[0] + b[0]) / 2.0, (a[1] + b[1]) / 2.0
        return (cx, cy, math.hypot(a[0] - cx, a[1] - cy))

    def circ3(a, b, c):
        ax, ay = a
        bx, by = b
        cx, cy = c
        d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
        if abs(d) < 1e-30:
            return None
        a2, b2, c2 = (ax * ax + ay * ay, bx * bx + by * by,
                      cx * cx + cy * cy)
        ux = (a2 * (by - cy) + b2 * (cy - ay) + c2 * (ay - by)) / d
        uy = (a2 * (cx - bx) + b2 * (ax - cx) + c2 * (bx - ax)) / d
        return (ux, uy, math.hypot(ax - ux, ay - uy))

    def inside(c, p):
        return (c is not None
                and math.hypot(p[0] - c[0], p[1] - c[1]) <= c[2] + eps)

    c = None
    for i, p in enumerate(pts):
        if inside(c, p):
            continue
        c = (p[0], p[1], 0.0)
        for j in range(i):
            q = pts[j]
            if inside(c, q):
                continue
            c = circ2(p, q)
            for k in range(j):
                if inside(c, pts[k]):
                    continue
                c = circ3(p, q, pts[k]) or c
    return [float(c[0]), float(c[1]), float(c[2])]


def _oriented_envelope_kernel(rings):
    """Minimum-area rotated enclosing rectangle via rotating calipers
    over the convex hull (shapely ``oriented_envelope`` semantics):
    the optimal rectangle is flush with a hull edge; returns the CCW
    4-vertex rectangle ring, or None for degenerate (< 3 distinct
    non-collinear vertices) input."""
    import math
    hull = _convex_hull_kernel(rings)
    if hull is None:
        return None
    h = hull[0]
    n = len(h)
    best = None
    for i in range(n):
        ax, ay = h[i]
        bx, by = h[(i + 1) % n]
        ex, ey = bx - ax, by - ay
        ln = math.hypot(ex, ey)
        if ln == 0.0:
            continue
        ux, uy = ex / ln, ey / ln
        nx, ny = -uy, ux
        us = [(p[0] - ax) * ux + (p[1] - ay) * uy for p in h]
        ns = [(p[0] - ax) * nx + (p[1] - ay) * ny for p in h]
        u0, u1 = min(us), max(us)
        n0, n1 = min(ns), max(ns)
        area = (u1 - u0) * (n1 - n0)
        if best is None or area < best[0] - 1e-12 * max(best[0], 1.0):
            best = (area, ax, ay, ux, uy, nx, ny, u0, u1, n0, n1)
    if best is None:
        return None
    _, ax, ay, ux, uy, nx, ny, u0, u1, n0, n1 = best
    corners = [(u0, n0), (u1, n0), (u1, n1), (u0, n1)]
    return [[[ax + u * ux + v * nx, ay + u * uy + v * ny]
             for u, v in corners]]


class MinimumBoundingCircle(BaseSingle):
    """Per-feature minimum enclosing circle (geopandas
    ``minimum_bounding_circle``; shapely under the reference's GEOS
    toolbox, constructive.py:13) — exact Welzl over the feature's
    vertices in one Arrow-batched ``mapInArrow`` pass.  Adds ``center_x``,
    ``center_y``, ``radius`` columns; box-only rows evaluate on their
    synthesized boundary ring; point rows get a zero-radius circle in
    pure SQL (no kernel row)."""

    def _build(self, ctx):
        from dask_geomodeling_spark.config import ensure_min_partitions
        from dask_geomodeling_spark.geometry.polyclip import _map_rings
        from dask_geomodeling_spark.geometry.spatial_join import (
            SpatialJoin)
        df = self.source._build(ctx)
        cols = set(df.columns)
        clash = {"center_x", "center_y", "radius"} & cols
        if clash:
            raise ValueError(
                "column(s) {} collide with MinimumBoundingCircle's "
                "output columns; rename them upstream"
                .format(sorted(clash)))
        if not ({"rings", "vertices"} & cols
                or {"xmin", "ymin", "xmax", "ymax"} <= cols):
            if {"x", "y"} <= cols:
                return df.withColumns({
                    "center_x": F.col("x"), "center_y": F.col("y"),
                    "radius": F.lit(0.0)})
            raise ValueError(
                "MinimumBoundingCircle needs geometry columns")
        gr = SpatialJoin._ring_expr(cols, "_g0")
        df = ensure_min_partitions(df, ctx.spark).withColumn("_g", gr)
        df = _map_rings(df, {"_g": (["_g"], _welzl_circle,
                                    "array<double>")})
        return (df.withColumns({
            "center_x": F.col("_g")[0], "center_y": F.col("_g")[1],
            "radius": F.col("_g")[2]}).drop("_g"))

    @property
    def columns(self):
        return (set(self.source.columns)
                | {"center_x", "center_y", "radius"})


class OrientedEnvelope(BaseSingle):
    """Per-feature minimum rotated rectangle (geopandas
    ``minimum_rotated_rectangle`` / shapely ``oriented_envelope``) —
    rotating calipers over the monotone-chain hull, Arrow-batched.
    Replaces ``rings`` with the CCW 4-vertex rectangle (degenerate
    features NULL)."""

    def _build(self, ctx):
        from dask_geomodeling_spark.config import ensure_min_partitions
        from dask_geomodeling_spark.geometry.polyclip import (
            map_rings_unary)
        from dask_geomodeling_spark.geometry.spatial_join import (
            SpatialJoin)
        df = self.source._build(ctx)
        cols = set(df.columns)
        gr = SpatialJoin._ring_expr(cols, "_g0")
        df = ensure_min_partitions(df, ctx.spark).withColumn("_g", gr)
        df = map_rings_unary(df, "_g", _oriented_envelope_kernel)
        out = {"rings": F.col("_g")} if "rings" in cols else {}
        if not out:
            out = {"rings": F.col("_g")}
        return df.withColumns(out).drop("_g")

    @property
    def columns(self):
        return set(self.source.columns) | {"rings"}


class SnapToGrid(BaseSingle):
    """Quantize geometry coordinates to a grid (shapely
    ``set_precision`` / PostGIS ``ST_SnapToGrid`` semantics) — every
    coordinate rounds to the nearest multiple of ``size``; rings that
    collapse under snapping (zero signed area after consecutive-
    duplicate removal) drop, features whose whole ring stack collapses
    keep their row with NULL ``rings`` — the same degenerate-to-NULL
    rule applies to a collapsed ``vertices`` ring and a ``path`` left
    with fewer than 2 vertices.  Only CONSECUTIVE duplicates collapse,
    so closed-loop paths and self-touching rings keep their revisited
    coordinates.  Pure sequence/transform
    column math over every geometry column present (``rings``,
    ``path``, ``vertices``, ``x``/``y``, bbox) — map-side, no kernel,
    no shuffle.  The storage-size / topology-robustness primitive for
    ingest normalization at scale."""

    def __init__(self, source, size):
        sz = float(size)
        if not sz > 0:
            raise ValueError("size must be > 0")
        super().__init__(source, sz)

    @property
    def columns(self):
        return set(self.source.columns)

    def _build(self, ctx):
        # duplicate removal is CONSECUTIVE-only (ST_SnapToGrid /
        # set_precision semantics): a closed-loop path or self-touching
        # ring legitimately revisits earlier coordinates and must keep
        # doing so after snapping — array_distinct would silently open
        # the loop (round-9 ADVICE fix).  _simplify_ring_sql is exactly
        # grid-snap + consecutive collapse (+ the implicit-closure
        # wrap-around pair, which only applies to rings).
        from dask_geomodeling_spark.geometry.geom_operations import (
            _ring_cross_sum_sql)
        df = self.source._build(ctx)
        cols = set(df.columns)
        sz = float(self.args[1])
        s = "CAST({!r} AS DOUBLE)".format(sz)
        snap = "round({{v}} / {s}) * {s}".format(s=s)
        out = {}
        if "rings" in cols:
            out["rings"] = F.expr(
                "CASE WHEN rings IS NULL THEN NULL ELSE "
                "nullif(filter(transform(rings, r -> {ring}), "
                "rr -> size(rr) >= 3 AND abs({area}) > 0), "
                "array()) END".format(
                    ring=_simplify_ring_sql("r", sz),
                    area=_ring_cross_sum_sql("rr")))
        if "path" in cols:
            snapped = ("transform(path, p -> array({px}, {py}))"
                       .format(px=snap.format(v="p[0]"),
                               py=snap.format(v="p[1]")))
            # let-bind the snapped array, collapse consecutive runs
            # (keeping a closing revisit of the start), NULL a path
            # degenerate to < 2 vertices
            out["path"] = F.expr(
                "CASE WHEN path IS NULL THEN NULL ELSE "
                "transform(array(transform(array({snap}), s -> "
                "filter(s, (v, i) -> i = 0 OR v[0] != s[i - 1][0] "
                "OR v[1] != s[i - 1][1]))[0]), d -> "
                "CASE WHEN size(d) >= 2 THEN d END)[0] END"
                .format(snap=snapped))
        if "vertices" in cols:
            # single-ring column: same collapse rule as ring stacks —
            # degenerate (< 3 vertices or zero area) snaps to NULL
            out["vertices"] = F.expr(
                "CASE WHEN vertices IS NULL THEN NULL ELSE "
                "transform(array({ring}), dd -> "
                "CASE WHEN size(dd) >= 3 AND abs({area}) > 0 "
                "THEN dd END)[0] END".format(
                    ring=_simplify_ring_sql("vertices", sz),
                    area=_ring_cross_sum_sql("dd")))
        for c in ("x", "y", "xmin", "ymin", "xmax", "ymax"):
            if c in cols:
                out[c] = F.expr(snap.format(v=c))
        return df.withColumns(out)


class ExplodeParts(BaseSingle):
    """Split multipolygon ring stacks into one row per PART (the
    geopandas ``explode`` counterpart): under the orientation
    contract every CCW ring starts a new part and the CW holes that
    follow attach to it — one sequential fold (the EncodeWKT grouping
    rule) builds the parts array, then ``posexplode`` emits
    (``part``, ``rings``) rows.  Pure column math, map-side."""

    def _build(self, ctx):
        from dask_geomodeling_spark.geometry.geom_operations import (
            _ring_cross_sum_sql)
        df = self.source._build(ctx)
        if "rings" not in df.columns:
            raise ValueError("ExplodeParts needs a 'rings' column")
        if "part" in df.columns:
            raise ValueError(
                "column 'part' collides with ExplodeParts' output")
        outer = "({}) >= 0".format(_ring_cross_sum_sql("r"))
        parts = (
            "aggregate(rings, "
            "CAST(array() AS array<array<array<array<double>>>>), "
            "(acc, r) -> CASE WHEN {outer} OR size(acc) = 0 "
            "THEN array_append(acc, array(r)) "
            "ELSE array_append(slice(acc, 1, size(acc) - 1), "
            "array_append(element_at(acc, -1), r)) END)"
            .format(outer=outer))
        keep = [c for c in df.columns if c != "rings"]
        return (df.withColumn("_parts", F.expr(
                    "CASE WHEN rings IS NULL THEN NULL "
                    "ELSE {} END".format(parts)))
                .select(*keep, F.posexplode_outer("_parts")
                        .alias("part", "rings"))
                .withColumn("part", F.col("part").cast("bigint")))

    @property
    def columns(self):
        return set(self.source.columns) | {"part"}


class PointsAlongPath(BaseSingle):
    """Emit points every ``step`` along each polyline (the PostGIS
    ``ST_LineInterpolatePoint`` sweep / QGIS "points along geometry"):
    distances 0, step, 2·step, … ≤ length locate their segment via
    the prefix-sum length array and linearly interpolate — ONE nested
    higher-order expression per row (prefix sums by aggregate fold,
    segment lookup by counting cum entries ≤ d), pure column math,
    map-side.  Zero-length segments contribute t = 0 (their start).

    Output: one row per point — source columns (``path`` retained) +
    ``pt_idx`` (0-based along the line), ``dist``, ``x``, ``y``.
    Rows with NULL/degenerate paths emit nothing.
    """

    def __init__(self, source, step):
        st = float(step)
        if not st > 0:
            raise ValueError("step must be > 0")
        clash = ({"pt_idx", "dist", "x", "y",
                  "_j", "_k", "_lens", "_cum", "_t"}
                 & set(source.columns))
        if clash:
            raise ValueError(
                "column(s) {} collide with PointsAlongPath's output "
                "or staging columns; rename them upstream"
                .format(sorted(clash)))
        super().__init__(source, st)

    @property
    def columns(self):
        return (set(self.source.columns)
                | {"pt_idx", "dist", "x", "y"})

    def _build(self, ctx):
        # Staged-column layout (round 9, the PathSubstring pattern):
        # the segment-length and prefix-sum arrays materialize ONCE as
        # real columns (_lens/_cum), so the per-point segment lookup
        # references a column instead of textually re-substituting the
        # whole length transform per point — the round-8 version's
        # duplicated expression tree cost 8.9 s on a 1,000-row demo;
        # this one is plain O(points) column math over shared arrays.
        df = self.source._build(ctx)
        if "path" not in df.columns:
            raise ValueError("PointsAlongPath needs a 'path' column")
        st = "CAST({!r} AS DOUBLE)".format(self.args[1])
        df = df.withColumn("_lens", F.expr(
            "CASE WHEN path IS NULL OR size(path) < 2 THEN NULL ELSE "
            "transform(sequence(1, size(path) - 1), "
            "i -> sqrt(pow(path[i][0] - path[i-1][0], 2) "
            "+ pow(path[i][1] - path[i-1][1], 2))) END"))
        df = df.withColumn("_cum", F.expr(
            "CASE WHEN _lens IS NULL THEN NULL ELSE "
            "aggregate(_lens, array(CAST(0 AS DOUBLE)), "
            "(acc, v) -> array_append(acc, element_at(acc, -1) + v)) "
            "END"))
        # Explode a CHEAP generator input (the point-index sequence),
        # never a precomputed per-point struct array: the optimizer's
        # InferFiltersFromGenerate synthesizes a size(input) > 0
        # predicate and pushes it to the scan with the generator input
        # fully inlined — with the struct array that re-evaluated the
        # whole per-point lookup chain per SOURCE row (9 s on the
        # 1,000-row demo); with the sequence it is one O(m) prefix-sum
        # evaluation per row.  Segment lookup and interpolation then
        # run post-explode against the real _lens/_cum attributes,
        # where nothing can be inlined through the Generate.
        keep = [c for c in df.columns if c not in ("_lens", "_cum")]
        out = df.select(
            *keep, "_lens", "_cum",
            F.posexplode(F.expr(
                "CASE WHEN _cum IS NULL THEN "
                "CAST(NULL AS ARRAY<INT>) ELSE sequence(0, CAST(floor("
                "element_at(_cum, -1) / {st}) AS INT)) END"
                .format(st=st))).alias("pt_idx", "_j"))
        # segment k: last prefix entry <= d, capped to the final
        # segment so an exact end-of-line landing interpolates at t=1
        return (out
                .withColumn("pt_idx", F.col("pt_idx").cast("bigint"))
                .withColumn("dist", F.expr(
                    "CAST(_j AS DOUBLE) * {st}".format(st=st)))
                .withColumn("_k", F.expr(
                    "least(size(filter(_cum, c -> c <= dist)), "
                    "size(_cum) - 1)"))
                .withColumn("_t", F.expr(
                    "CASE WHEN element_at(_lens, _k) = 0 "
                    "THEN CAST(0 AS DOUBLE) "
                    "ELSE (dist - element_at(_cum, _k)) "
                    "/ element_at(_lens, _k) END"))
                .withColumn("x", F.expr(
                    "path[_k - 1][0] "
                    "+ _t * (path[_k][0] - path[_k - 1][0])"))
                .withColumn("y", F.expr(
                    "path[_k - 1][1] "
                    "+ _t * (path[_k][1] - path[_k - 1][1])"))
                .drop("_j", "_k", "_t", "_lens", "_cum"))


class AffineTransform(BaseSingle):
    """Apply a 2-D affine map ``(x, y) -> (a·x + b·y + xoff,
    d·x + e·y + yoff)`` to every geometry column (the shapely
    ``affinity.affine_transform`` six-parameter convention —
    translate/scale/rotate/shear all compose into one matrix).  Pure
    column math over ``rings``/``path``/``vertices``/``x``/``y``;
    bbox columns recompute from corner images (exact for axis-
    preserving maps, the tight envelope of the transformed box
    otherwise).  Ring orientation flips under a negative determinant,
    so reflections reverse each ring to preserve the CCW-outer/
    CW-hole contract."""

    def __init__(self, source, matrix):
        m = tuple(float(v) for v in matrix)
        if len(m) != 6:
            raise ValueError(
                "matrix must be (a, b, d, e, xoff, yoff) — the "
                "shapely affine_transform 2-D convention")
        super().__init__(source, m)

    @property
    def columns(self):
        return set(self.source.columns)

    def _build(self, ctx):
        df = self.source._build(ctx)
        cols = set(df.columns)
        a, b, d, e, xoff, yoff = self.args[1]
        det = a * e - b * d
        L = "CAST({!r} AS DOUBLE)"
        px = ("({a} * {{x}} + {b} * {{y}} + {xo})"
              .format(a=L.format(a), b=L.format(b), xo=L.format(xoff)))
        py = ("({d} * {{x}} + {e} * {{y}} + {yo})"
              .format(d=L.format(d), e=L.format(e), yo=L.format(yoff)))
        pt = "array({}, {})".format(px.format(x="p[0]", y="p[1]"),
                                    py.format(x="p[0]", y="p[1]"))
        out = {}
        if "rings" in cols:
            ring = "transform(r, p -> {})".format(pt)
            if det < 0:
                ring = "reverse({})".format(ring)
            out["rings"] = F.expr(
                "CASE WHEN rings IS NULL THEN NULL ELSE "
                "transform(rings, r -> {}) END".format(ring))
        if "path" in cols:
            out["path"] = F.expr(
                "CASE WHEN path IS NULL THEN NULL ELSE "
                "transform(path, p -> {}) END".format(pt))
        if "vertices" in cols:
            v = "transform(vertices, p -> {})".format(pt)
            if det < 0:
                v = "reverse({})".format(v)
            out["vertices"] = F.expr(
                "CASE WHEN vertices IS NULL THEN NULL ELSE {} END"
                .format(v))
        if {"x", "y"} <= cols:
            out["x"] = F.expr(px.format(x="x", y="y"))
            out["y"] = F.expr(py.format(x="x", y="y"))
        if {"xmin", "ymin", "xmax", "ymax"} <= cols:
            xs = [px.format(x=cx, y=cy)
                  for cx in ("xmin", "xmax") for cy in ("ymin", "ymax")]
            ys = [py.format(x=cx, y=cy)
                  for cx in ("xmin", "xmax") for cy in ("ymin", "ymax")]
            out["xmin"] = F.expr("least({})".format(", ".join(xs)))
            out["xmax"] = F.expr("greatest({})".format(", ".join(xs)))
            out["ymin"] = F.expr("least({})".format(", ".join(ys)))
            out["ymax"] = F.expr("greatest({})".format(", ".join(ys)))
        return df.withColumns(out)


class PathSubstring(BaseSingle):
    """Extract the sub-polyline between fractional positions
    ``start`` and ``end`` of each path's length (PostGIS
    ``ST_LineSubstring``): interpolated endpoints + the interior
    vertices strictly between them, consecutive duplicates collapsed
    (exact-vertex landings).  The length-prefix array and both
    interpolations stage as real columns, so the plan stays flat —
    pure column math, map-side.  NULL/degenerate paths stay NULL."""

    def __init__(self, source, start=0.0, end=1.0):
        f0, f1 = float(start), float(end)
        if not (0.0 <= f0 < f1 <= 1.0):
            raise ValueError("need 0 <= start < end <= 1")
        super().__init__(source, f0, f1)

    @property
    def columns(self):
        return set(self.source.columns)

    def _build(self, ctx):
        df = self.source._build(ctx)
        if "path" not in df.columns:
            raise ValueError("PathSubstring needs a 'path' column")
        f0 = "CAST({!r} AS DOUBLE)".format(self.args[1])
        f1 = "CAST({!r} AS DOUBLE)".format(self.args[2])
        ok = "(path IS NOT NULL AND size(path) >= 2)"
        df = df.withColumn("_cum", F.expr(
            "CASE WHEN {ok} THEN aggregate("
            "transform(sequence(1, size(path) - 1), "
            "i -> sqrt(pow(path[i][0] - path[i-1][0], 2) "
            "+ pow(path[i][1] - path[i-1][1], 2))), "
            "array(CAST(0 AS DOUBLE)), "
            "(acc, v) -> array_append(acc, element_at(acc, -1) + v)) "
            "END".format(ok=ok)))

        def interp(dexpr, name):
            k = ("least(size(filter(_cum, c -> c <= {d})), "
                 "size(_cum) - 1)").format(d=dexpr)
            return F.expr(
                "CASE WHEN _cum IS NULL THEN NULL ELSE "
                "transform(array({k}), k -> array("
                "path[k-1][0] + CASE WHEN element_at(_cum, k + 1) "
                "= element_at(_cum, k) THEN CAST(0 AS DOUBLE) "
                "ELSE ({d} - element_at(_cum, k)) "
                "/ (element_at(_cum, k + 1) - element_at(_cum, k)) "
                "END * (path[k][0] - path[k-1][0]), "
                "path[k-1][1] + CASE WHEN element_at(_cum, k + 1) "
                "= element_at(_cum, k) THEN CAST(0 AS DOUBLE) "
                "ELSE ({d} - element_at(_cum, k)) "
                "/ (element_at(_cum, k + 1) - element_at(_cum, k)) "
                "END * (path[k][1] - path[k-1][1])))[0] END"
                .format(k=k, d=dexpr)).alias(name)

        total = "element_at(_cum, -1)"
        df = (df.withColumn("_d0", F.expr(
                  "CASE WHEN _cum IS NULL THEN NULL "
                  "ELSE {f0} * {t} END".format(f0=f0, t=total)))
              .withColumn("_d1", F.expr(
                  "CASE WHEN _cum IS NULL THEN NULL "
                  "ELSE {f1} * {t} END".format(f1=f1, t=total))))
        df = df.withColumn("_p0", interp("_d0", "_p0"))
        df = df.withColumn("_p1", interp("_d1", "_p1"))
        newpath = (
            "aggregate(concat(array(_p0), "
            "transform(filter(sequence(1, size(path) - 1), "
            "v -> element_at(_cum, v + 1) > _d0 "
            "AND element_at(_cum, v + 1) < _d1), v -> path[v]), "
            "array(_p1)), "
            "CAST(array() AS array<array<double>>), "
            "(acc, p) -> CASE WHEN size(acc) > 0 "
            "AND element_at(acc, -1)[0] = p[0] "
            "AND element_at(acc, -1)[1] = p[1] THEN acc "
            "ELSE array_append(acc, p) END)")
        return (df.withColumn("path", F.expr(
                    "CASE WHEN _cum IS NULL THEN NULL "
                    "ELSE {} END".format(newpath)))
                .drop("_cum", "_d0", "_d1", "_p0", "_p1"))


def _segmentize_chain_sql(arr, max_len, closed):
    """SQL text: densify one coordinate chain so no segment exceeds
    ``max_len`` (PostGIS ``ST_Segmentize`` semantics — each segment
    splits into ceil(len/max_len) EQUAL pieces; inserted vertices are
    collinear, so length/area/bbox are invariant).  ``closed`` chains
    (rings, stored open) also densify the implicit closing edge and
    stay stored open; open chains keep their final vertex.  Pure HOFs,
    map-side."""
    m = "CAST({!r} AS DOUBLE)".format(float(max_len))
    # let-bind the chain once; s walks segment END indices
    last = "size(c) - 1" if not closed else "size(c)"
    seg = (
        "transform(sequence(1, {last}), s -> "
        "transform(sequence(0, GREATEST(1, CAST(CEIL(SQRT("
        "(c[s % size(c)][0] - c[s - 1][0]) * (c[s % size(c)][0] - c[s - 1][0]) + "
        "(c[s % size(c)][1] - c[s - 1][1]) * (c[s % size(c)][1] - c[s - 1][1])"
        ") / {m}) AS INT)) - 1), k -> array("
        "c[s - 1][0] + (c[s % size(c)][0] - c[s - 1][0]) * k "
        "/ GREATEST(1, CAST(CEIL(SQRT("
        "(c[s % size(c)][0] - c[s - 1][0]) * (c[s % size(c)][0] - c[s - 1][0]) + "
        "(c[s % size(c)][1] - c[s - 1][1]) * (c[s % size(c)][1] - c[s - 1][1])"
        ") / {m}) AS INT)), "
        "c[s - 1][1] + (c[s % size(c)][1] - c[s - 1][1]) * k "
        "/ GREATEST(1, CAST(CEIL(SQRT("
        "(c[s % size(c)][0] - c[s - 1][0]) * (c[s % size(c)][0] - c[s - 1][0]) + "
        "(c[s % size(c)][1] - c[s - 1][1]) * (c[s % size(c)][1] - c[s - 1][1])"
        ") / {m}) AS INT)))))"
    ).format(last=last, m=m)
    body = "flatten({seg})".format(seg=seg)
    if not closed:
        body = "concat({body}, array(element_at(c, -1)))".format(body=body)
    # degenerate chains pass through: sequence(1, size-1) DESCENDS for
    # size < 2 and c[s-1] would index -1 (round-9 review fix)
    guard = "2" if not closed else "1"
    return ("transform(array({arr}), c -> CASE WHEN size(c) < {g} "
            "THEN c ELSE {body} END)[0]").format(arr=arr, g=guard,
                                                 body=body)


class Segmentize(BaseSingle):
    """Densify geometry so no segment is longer than ``max_length``
    (PostGIS ``ST_Segmentize`` / shapely ``segmentize``; no reference
    analogue — the reference delegates to GEOS, constructive.py:13's
    toolbox).  Inserted vertices are collinear: Length, Area, bbox and
    containment are all invariant — the op exists to bound per-vertex
    error before reprojection (curved CRS images of long straight
    segments) and to normalize vertex density before kernels.

    Pure ``transform``/``sequence``/``flatten`` column math over
    ``path`` (open, keeps endpoints), ``rings`` and ``vertices``
    (implicit closing edge densifies too).  Map-side: NO shuffle, NO
    Python; output vertex count is ceil(seg/max_length) per segment."""

    def __init__(self, source, max_length):
        ml = float(max_length)
        if not ml > 0:
            raise ValueError("max_length must be > 0")
        super().__init__(source, ml)

    @property
    def columns(self):
        return set(self.source.columns)

    def _build(self, ctx):
        df = self.source._build(ctx)
        cols = set(df.columns)
        ml = self.args[1]
        out = {}
        if "path" in cols:
            out["path"] = F.expr(
                "CASE WHEN path IS NULL THEN NULL ELSE {} END".format(
                    _segmentize_chain_sql("path", ml, closed=False)))
        if "rings" in cols:
            out["rings"] = F.expr(
                "CASE WHEN rings IS NULL THEN NULL ELSE "
                "transform(rings, r -> {}) END".format(
                    _segmentize_chain_sql("r", ml, closed=True)))
        if "vertices" in cols:
            out["vertices"] = F.expr(
                "CASE WHEN vertices IS NULL THEN NULL ELSE {} END"
                .format(_segmentize_chain_sql("vertices", ml,
                                              closed=True)))
        return df.withColumns(out)


class RemoveRepeatedPoints(BaseSingle):
    """Collapse CONSECUTIVE duplicate vertices (PostGIS
    ``ST_RemoveRepeatedPoints`` with zero tolerance; no reference
    analogue).  Rings and ``vertices`` also collapse the implicit
    wrap-around first==last pair; a ``path``'s closing revisit of its
    start is kept (loops stay loops).  Degenerate results NULL out
    (path < 2 vertices, ring < 3).  Pure filter-by-index column math,
    map-side."""

    @property
    def columns(self):
        return set(self.source.columns)

    def _build(self, ctx):
        from dask_geomodeling_spark.geometry.geom_operations import (
            _ring_cross_sum_sql)
        df = self.source._build(ctx)
        cols = set(df.columns)
        dedupe = ("transform(array({a}), s -> "
                  "filter(s, (v, i) -> i = 0 OR v[0] != s[i - 1][0] "
                  "OR v[1] != s[i - 1][1]))[0]")
        wrap = ("transform(array({d}), d -> "
                "CASE WHEN size(d) > 1 AND element_at(d, -1)[0] = d[0][0] "
                "AND element_at(d, -1)[1] = d[0][1] "
                "THEN slice(d, 1, size(d) - 1) ELSE d END)[0]")
        out = {}
        if "path" in cols:
            out["path"] = F.expr(
                "CASE WHEN path IS NULL THEN NULL ELSE "
                "transform(array({dd}), d -> "
                "CASE WHEN size(d) >= 2 THEN d END)[0] END".format(
                    dd=dedupe.format(a="path")))
        if "rings" in cols:
            ring = wrap.format(d=dedupe.format(a="r"))
            out["rings"] = F.expr(
                "CASE WHEN rings IS NULL THEN NULL ELSE "
                "nullif(filter(transform(rings, r -> {ring}), "
                "rr -> size(rr) >= 3), array()) END".format(ring=ring))
        if "vertices" in cols:
            vr = wrap.format(d=dedupe.format(a="vertices"))
            out["vertices"] = F.expr(
                "CASE WHEN vertices IS NULL THEN NULL ELSE "
                "transform(array({vr}), d -> "
                "CASE WHEN size(d) >= 3 THEN d END)[0] END".format(
                    vr=vr))
        return df.withColumns(out)


class PathPoint(BaseSingle):
    """Extract one vertex of each polyline as point columns (the
    PostGIS ``ST_StartPoint`` / ``ST_EndPoint`` / ``ST_PointN``
    family; no reference analogue).  ``index`` is 0-based; negative
    counts from the end (-1 = end point).  Output: ``x``/``y`` point
    columns REPLACE the path frame's geometry (bbox recomputes to the
    point); out-of-range indices NULL.  Pure element_at column math."""

    def __init__(self, source, index=0):
        clash = {"x", "y"} & set(source.columns)
        if clash:
            raise ValueError(
                "column(s) {} collide with PathPoint's output"
                .format(sorted(clash)))
        if "path" not in source.columns:
            raise ValueError("PathPoint requires a 'path' column")
        super().__init__(source, int(index))

    @property
    def columns(self):
        cols = set(self.source.columns) - {"path"}
        return cols | {"x", "y"}

    def _build(self, ctx):
        df = self.source._build(ctx)
        i = int(self.args[1])
        # element_at is 1-based positive / -1-based negative
        pos = i + 1 if i >= 0 else i
        pt = "try_element_at(path, {})".format(pos)
        df = (df.withColumn("x", F.expr(pt + "[0]"))
              .withColumn("y", F.expr(pt + "[1]")))
        out = {}
        for c in ("xmin", "xmax"):
            if c in df.columns:
                out[c] = F.col("x")
        for c in ("ymin", "ymax"):
            if c in df.columns:
                out[c] = F.col("y")
        return df.withColumns(out).drop("path")


class SamplePointsInPolygons(BaseSingle):
    """Deterministic point sampling inside polygons (round 10) — the
    ``ST_GeneratePoints`` / geopandas ``sample_points`` counterpart
    for training-data pipelines (spatial negatives, density-weighted
    augmentation, label jitter), with ZERO randomness state: candidate
    coordinates are pure Mersenne arithmetic of (feature id, candidate
    index), so every engine, rerun and parallelism level draws the
    identical points.

    Per feature: ``n · factor`` candidates hash-uniform in the ring
    bbox, filtered by the exact even-odd ray cast
    (``point_in_rings_sql``), first ``n`` survivors kept.  Features
    whose area is a small fraction of their bbox may yield fewer than
    ``n`` points — raise ``factor`` (rejection sampling's documented
    knob).  Ids must be numeric (the coordinates are arithmetic in
    them).

    Plan shape: pure per-row HOF column math — bbox fold, candidate
    transform, containment filter, slice, ONE posexplode; no shuffle,
    no window, no Python.  Output: source columns minus geometry, plus
    ``point_id`` (1-based), ``px``, ``py``.
    """

    # i-multipliers are LARGE so consecutive candidates wrap the
    # modulus many times — a small step (e.g. 40503) makes the k
    # candidates an arithmetic micro-progression clustered at one
    # coordinate (round-10 fix, caught by the sf0.01 row count)
    _P = (2654435761, 1597334677, 2246822519, 3267000013)
    _M = (1 << 31) - 1

    def __init__(self, source, n=10, factor=4, id_column=None):
        if int(n) < 1:
            raise ValueError("n must be >= 1")
        if int(factor) < 1:
            raise ValueError("factor must be >= 1")
        if "rings" not in source.columns:
            raise ValueError("SamplePointsInPolygons needs a 'rings' "
                             "column")
        if id_column is None:
            id_column = source.index_column
        clash = {"point_id", "px", "py"} & set(source.columns)
        if clash:
            raise ValueError(
                "column(s) {} collide with SamplePointsInPolygons's "
                "output; rename upstream".format(sorted(clash)))
        super().__init__(source, int(n), int(factor), str(id_column))

    @property
    def columns(self):
        return (set(self.source.columns) - {"rings"}) \
            | {"point_id", "px", "py"}

    def _build(self, ctx):
        from dask_geomodeling_spark.geometry.geom_operations import (
            point_in_rings_sql)
        _, n, factor, idc = self.args
        df = self.source._build(ctx)
        k = n * factor
        p1, p2, p3, p4 = self._P
        m = self._M
        # ring bbox: one fold over the flattened vertex list
        bb = ("aggregate(flatten(rings), "
              "struct(cast('Infinity' as double) AS x0, "
              "cast('Infinity' as double) AS y0, "
              "cast('-Infinity' as double) AS x1, "
              "cast('-Infinity' as double) AS y1), "
              "(bbx, vtx) -> struct(least(bbx.x0, vtx[0]) AS x0, "
              "least(bbx.y0, vtx[1]) AS y0, "
              "greatest(bbx.x1, vtx[0]) AS x1, "
              "greatest(bbx.y1, vtx[1]) AS y1))")
        # candidates: hash-uniform in the bbox — ANSI-portable
        # arithmetic only ((id·P + i·Q) mod M) / M, shared verbatim
        # with the oracles
        # CAST(i AS BIGINT): sequence() yields INTs and ANSI mode
        # rejects the int*int overflow of the large mixing constants.
        # pmod(_fid, M) FIRST (round-11 advice fix): a raw snowflake/
        # hash-derived id (>= ~3.5e9) times the 2.65e9 mixing prime
        # overflows BIGINT — ANSI runtime error.  Reducing mod M keeps
        # every product < 2^62 and, by modular arithmetic, yields the
        # IDENTICAL candidate stream for ids already < M.
        cand = ("transform(sequence(1, {k}), i -> struct("
                "_bb.x0 + (_bb.x1 - _bb.x0) * "
                "(cast(pmod(pmod(_fid, {m}) * {p1} "
                "+ cast(i as bigint) * {p2}, {m}) as double) / {m}) "
                "AS cpx, "
                "_bb.y0 + (_bb.y1 - _bb.y0) * "
                "(cast(pmod(pmod(_fid, {m}) * {p3} "
                "+ cast(i as bigint) * {p4}, {m}) as double) / {m}) "
                "AS cpy))"
                .format(k=k, p1=p1, p2=p2, p3=p3, p4=p4, m=m))
        inside = point_in_rings_sql("cnd.cpx", "cnd.cpy", "rings")
        kept = ("slice(filter({cand}, cnd -> {inside}), 1, {n})"
                .format(cand=cand, inside=inside, n=n))
        out_cols = [c for c in df.columns if c != "rings"]
        return (df.withColumn("_fid", F.col(idc).cast("bigint"))
                .withColumn("_bb", F.expr(bb))
                .select(*out_cols,
                        F.posexplode(F.expr(kept)).alias("_i", "_pt"))
                .select(*out_cols,
                        (F.col("_i") + 1).cast("bigint")
                        .alias("point_id"),
                        F.col("_pt.cpx").alias("px"),
                        F.col("_pt.cpy").alias("py")))


class IsValid(BaseSingle):
    """Flag polygon validity per feature (PostGIS ``ST_IsValid``; the
    reference never needs it because fiona+GEOS repair geometry
    upstream of every Block — reference geometry/sources.py reads
    through shapely, which validates on construction).  Adds a boolean
    ``valid`` column.

    Semantics (polyclip.rings_is_valid, documented there): valid iff
    every ring is simple (no crossings, no within-ring vertex
    revisits, no degenerate rings) and no edge crosses, T-touches, or
    overlaps another — cross-ring VERTEX touches are allowed
    (OGC-valid, and MakeValid's own output shape for a bowtie).
    Slightly stricter than OGC at T-touches (flagged invalid;
    MakeValid re-stitches them even-odd-equivalently).
    Per-row precedence mirrors Area: ``rings`` > ``vertices``;
    point / box / path rows are always valid; NULL geometry -> NULL.

    Plan shape: one Arrow-batched mapInArrow over the ring rows
    (bounded per-feature vertex counts — the kernel is O(E^2) in one
    feature's edges, never data-sized); point/box frames short-circuit
    to a literal, no Python stage at all."""

    def __init__(self, source, column="valid"):
        if column in source.columns:
            raise ValueError(
                "column {!r} collides with IsValid's output; rename "
                "upstream".format(column))
        super().__init__(source, str(column))

    @property
    def columns(self):
        return set(self.source.columns) | {self.args[1]}

    def _build(self, ctx):
        from dask_geomodeling_spark.config import ensure_min_partitions
        from dask_geomodeling_spark.geometry.polyclip import (
            _map_rings, rings_is_valid)
        df = self.source._build(ctx)
        out_col = self.args[1]
        cols = set(df.columns)
        if not ({"rings", "vertices"} & cols):
            # points / boxes / paths carry no ring topology to break —
            # but the docstring's "NULL geometry -> NULL" contract
            # still applies (round-13 ADVICE fix: the literal True
            # used to cover rows with NULL x/y/bbox/path too)
            present = []
            if {"x", "y"} <= cols:
                present.append("(x IS NOT NULL AND y IS NOT NULL)")
            if {"xmin", "ymin", "xmax", "ymax"} <= cols:
                present.append(
                    "(xmin IS NOT NULL AND ymin IS NOT NULL AND "
                    "xmax IS NOT NULL AND ymax IS NOT NULL)")
            if "path" in cols:
                present.append("path IS NOT NULL")
            if not present:
                return df.withColumn(
                    out_col, F.lit(None).cast("boolean"))
            return df.withColumn(out_col, F.expr(
                "CASE WHEN {} THEN TRUE END".format(
                    " OR ".join(present))))
        if "rings" in cols and "vertices" in cols:
            geom = F.expr("CASE WHEN rings IS NOT NULL THEN rings "
                          "WHEN vertices IS NOT NULL "
                          "THEN array(vertices) END")
        elif "rings" in cols:
            geom = F.col("rings")
        else:
            geom = F.expr("CASE WHEN vertices IS NOT NULL "
                          "THEN array(vertices) END")
        df = df.withColumn("_iv_g", geom)
        return _map_rings(
            ensure_min_partitions(df, ctx.spark),
            {out_col: (["_iv_g"],
                       lambda g: None if g is None else rings_is_valid(g),
                       "boolean")},
            drop=["_iv_g"])


class MakeValid(BaseSingle):
    """Repair invalid polygon geometry per feature (PostGIS
    ``ST_MakeValid`` / GEOS MakeValid linework method; the reference
    inherits this implicitly through shapely/GEOS on file read — wild
    shapefiles and hand-drawn GeoJSON carry bowties and self-touches
    constantly, and every ring consumer in this engine assumes
    orientation-normalized non-self-intersecting rings).

    Valid rows pass through UNCHANGED (GEOS's no-op contract).
    Invalid rows are re-stitched by the arrangement kernel
    (polyclip.polygon_make_valid): even-odd semantics are preserved
    exactly — a bowtie quad becomes its two triangles, a figure-eight
    splits at the pinch, zero-area parts drop (regularization).
    Repaired geometry lands in ``rings`` (CCW outers, CW holes);
    a ``vertices``-only frame gains a ``rings`` column (the repair of
    a self-intersecting single ring is generally MULTI-ring) and its
    ``vertices`` column tracks the first repaired ring, NULL when the
    repair is multi-part — the Buffer ring-promotion convention.
    Rows whose repair is empty (fully degenerate) get NULL geometry.

    Plan shape: one Arrow-batched mapInArrow over ring rows (the
    Simplify 'dp' / Buffer kernel contract); point/box frames are
    returned untouched with no Python stage."""

    @property
    def columns(self):
        cols = set(self.source.columns)
        if "vertices" in cols:
            cols.add("rings")
        return cols

    def _build(self, ctx):
        from dask_geomodeling_spark.config import ensure_min_partitions
        from dask_geomodeling_spark.geometry.polyclip import (
            map_rings_unary, polygon_make_valid)
        df = self.source._build(ctx)
        cols = set(df.columns)
        if not ({"rings", "vertices"} & cols):
            return df
        if "vertices" in cols and "rings" not in cols:
            df = df.withColumn(
                "rings", F.expr("CASE WHEN vertices IS NOT NULL "
                                "THEN array(vertices) END"))
        elif "vertices" in cols:
            df = df.withColumn(
                "rings", F.expr("CASE WHEN rings IS NULL AND vertices "
                                "IS NOT NULL THEN array(vertices) "
                                "ELSE rings END"))
        df = map_rings_unary(
            ensure_min_partitions(df, ctx.spark), "rings",
            lambda g: None if g is None else polygon_make_valid(g))
        if "vertices" in cols:
            # single-ring view tracks the repair; multi-part repairs
            # cannot be expressed as one ring -> NULL
            df = df.withColumn(
                "vertices",
                F.when(F.expr("size(rings) = 1"),
                       F.try_element_at(F.col("rings"), F.lit(1))))
        return df
