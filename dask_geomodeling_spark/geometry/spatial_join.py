"""Distributed spatial join (no reference analogue — the reference
joins only by index, geometry/merge.py:12; containment tests live in
its request machinery.  This block makes point-in-polygon a first-class
JOIN, the canonical scale operator of a geo engine).

Execution shape, built for 100 TB:

1. both sides key into a UNIFORM GRID of ``cell_size``-sized cells —
   points map-side (one cell each), polygons by exploding the cells
   their bbox covers (bounded by ``ceil(w/cs)·ceil(h/cs)`` rows per
   polygon, a map-side expand);
2. ONE equi-join on ``(cell_x, cell_y)`` pairs candidates — never a
   cross join, and the key space is uniform by construction (hot
   cells from clustered data are AQE skew-join territory);
3. the exact predicate filters candidates: bbox containment, then the
   even-odd ray cast over the polygon's ``rings``
   (geometry/geom_operations.point_in_rings_expr — holes and
   MULTIPOLYGON parts included).

A point lies in exactly one grid cell, so each (point, polygon) pair
is tested exactly once — no post-join dedup.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_geomodeling_spark.geometry.base import GeometryBlock

__all__ = ["SpatialJoin", "NearestJoin", "ClusterDBSCAN"]

#: point count at or below which ClusterDBSCAN runs its exact driver
#: mirror (the request's ``driver_threshold`` overrides it)
DRIVER_POINTS = 20000


def _pair_leftover(lr, rr):
    """Kernel: the part of the LEFT geometry outside the right ring
    stack — None/empty means the left is WITHIN the right.  Left may
    be a ring stack (depth 3) or an open polyline ``path``
    (depth 2)."""
    from dask_geomodeling_spark.geometry.polyclip import (
        path_boolean, polygon_boolean)
    if lr is None or rr is None:
        return None
    is_path = bool(lr) and lr[0] and isinstance(
        lr[0][0], (int, float))
    if is_path:
        return path_boolean(lr, [rr], False) or None
    return polygon_boolean([lr, rr],
                           lambda f: f[0] and not f[1]) or None


class SpatialJoin(GeometryBlock):
    """Join features by spatial predicate.

    ``predicate='contains'`` (default): left POINT features join to
    the right polygons (or boxes) containing them.

    ``predicate='intersects'`` (round 8): left POLYGON features join
    to right polygons they intersect — the geopandas
    ``sjoin(predicate='intersects')`` counterpart.  Both sides grid
    their bboxes; ONE cell equi-join pairs candidates; each pair
    deduplicates WITHOUT a shuffle by keeping only its CANONICAL cell
    (the cell containing the bbox-overlap's max corner — present on
    both sides iff the bboxes overlap); the exact test is
    ``geom_operations.rings_intersect_expr`` (vertex even-odd
    containment either way + closed-segment edge crossings; touch
    counts, holes honored), pure column math in the join condition.
    Box-only sides participate through their synthesized boundary
    ring.  A left side carrying only a ``path`` column (open
    polylines) joins through the exact polyline-polygon test
    (``path_intersects_rings_expr``) — roads × parcels.

    Args:
      left: GeometryBlock; POINT features (``x``/``y``) for
        'contains', polygon ``rings`` (or box columns) for
        'intersects'.  Its index is the output index.
      right: GeometryBlock of polygon features — a ``rings`` column
        (exact ray-cast containment, holes/multipolygon honored) or
        ``xmin/ymin/xmax/ymax`` box columns.
      cell_size: grid bucket size in coordinate units.  Pick it near
        the typical polygon extent: smaller cells explode polygons
        into more candidate rows, larger cells pair more
        false-positive candidates per cell.
      right_columns: right-side columns to carry into the output
        (default: the right block's index column).  Must not collide
        with left-side names.
      how: ``'inner'`` (matching pairs) or ``'left'`` (left features
        without a match keep a row with NULL right columns).
      predicate: ``'contains'``, ``'intersects'`` or ``'within'``
        (round 9 — left features entirely inside a right polygon).
    """

    def __init__(self, left, right, cell_size, right_columns=None,
                 how="inner", predicate="contains"):
        if not isinstance(left, GeometryBlock) \
                or not isinstance(right, GeometryBlock):
            raise TypeError("left/right must be GeometryBlocks")
        if how not in ("inner", "left"):
            raise ValueError("how must be 'inner' or 'left'")
        if predicate not in ("contains", "intersects", "within"):
            raise ValueError(
                "predicate must be 'contains', 'intersects' or "
                "'within'")
        cs = float(cell_size)
        if not cs > 0:
            raise ValueError("cell_size must be > 0")
        if right_columns is None:
            right_columns = [right.index_column]
        super().__init__(left, right, cs, tuple(right_columns), how,
                         predicate)

    @property
    def left(self):
        return self.args[0]

    @property
    def right(self):
        return self.args[1]

    @property
    def index_column(self):
        return self.left.index_column

    @property
    def columns(self):
        return set(self.left.columns) | set(self.args[3])

    def _build(self, ctx):
        from dask_geomodeling_spark.geometry.geom_operations import (
            point_in_rings_expr)
        _, _, cs, rcols, how, predicate = self.args
        rcols = list(rcols)
        L = self.left._build(ctx)
        R = self.right._build(ctx)
        if predicate == "intersects":
            return self._build_intersects(ctx, L, R, cs, rcols, how)
        if predicate == "within":
            return self._build_within(ctx, L, R, cs, rcols, how)
        clash = set(rcols) & set(L.columns)
        if clash:
            raise ValueError(
                "right_columns collide with left columns: {}"
                .format(sorted(clash)))
        if not {"x", "y"} <= set(L.columns):
            raise ValueError("left side needs point x/y columns")

        has_rings = "rings" in R.columns
        if {"xmin", "ymin", "xmax", "ymax"} <= set(R.columns):
            sel = [F.col("xmin").alias("_bx1"),
                   F.col("ymin").alias("_by1"),
                   F.col("xmax").alias("_bx2"),
                   F.col("ymax").alias("_by2")]
        elif has_rings:
            # bbox from the ring vertices: native array_min/max over
            # one flatten — map-side, no fold lambdas
            sel = [
                F.expr("array_min(transform(flatten(rings), "
                       "p -> p[0]))").alias("_bx1"),
                F.expr("array_min(transform(flatten(rings), "
                       "p -> p[1]))").alias("_by1"),
                F.expr("array_max(transform(flatten(rings), "
                       "p -> p[0]))").alias("_bx2"),
                F.expr("array_max(transform(flatten(rings), "
                       "p -> p[1]))").alias("_by2")]
        else:
            raise ValueError(
                "right side needs 'rings' or xmin/ymin/xmax/ymax")
        # right-side rings carry under an INTERNAL alias so a left
        # block that also has a 'rings' column never produces an
        # ambiguous reference (round-7 advice)
        extra = [F.col("rings").alias("_rr")] if has_rings else []
        Rb = R.select(*rcols, *sel, *extra)
        csl = "CAST({!r} AS DOUBLE)".format(cs)
        Rc = (Rb.withColumn("_rcx", F.explode(F.expr(
                  "sequence(CAST(FLOOR(_bx1 / {cs}) AS BIGINT), "
                  "CAST(FLOOR(_bx2 / {cs}) AS BIGINT))".format(cs=csl))))
              .withColumn("_rcy", F.explode(F.expr(
                  "sequence(CAST(FLOOR(_by1 / {cs}) AS BIGINT), "
                  "CAST(FLOOR(_by2 / {cs}) AS BIGINT))".format(cs=csl)))))
        Lc = L.withColumns({
            "_cx": F.expr("CAST(FLOOR(x / {cs}) AS BIGINT)".format(cs=csl)),
            "_cy": F.expr("CAST(FLOOR(y / {cs}) AS BIGINT)".format(cs=csl))})
        inside = ((F.col("x") >= F.col("_bx1"))
                  & (F.col("x") <= F.col("_bx2"))
                  & (F.col("y") >= F.col("_by1"))
                  & (F.col("y") <= F.col("_by2")))
        if has_rings:
            inside = inside & point_in_rings_expr("x", "y", "_rr")
        # ONE grid equi-join for BOTH modes: the exact predicate rides
        # in the join condition, so 'left' is a plain outer equi-join
        # (Catalyst extracts _cx=_rcx/_cy=_rcy as the equi keys) — no
        # second evaluation of the gridded sides, no distinct/anti-join
        # (round-7 verdict #3)
        cond = ((F.col("_cx") == F.col("_rcx"))
                & (F.col("_cy") == F.col("_rcy")) & inside)
        out = Lc.join(Rc, cond, "left" if how == "left" else "inner")
        return out.select(*L.columns, *rcols)

    @staticmethod
    def _ring_expr(cols, rings_alias):
        """Geometry of a side as one flat ring list: rings, else the
        wrapped exterior ring, else the synthesized box boundary."""
        parts = []
        if "rings" in cols:
            parts.append(F.col("rings"))
        if "vertices" in cols:
            parts.append(F.when(F.col("vertices").isNotNull(),
                                F.array(F.col("vertices"))))
        if {"xmin", "ymin", "xmax", "ymax"} <= cols:
            parts.append(F.expr(
                "CASE WHEN xmin IS NOT NULL THEN array(array("
                "array(xmin, ymin), array(xmax, ymin), "
                "array(xmax, ymax), array(xmin, ymax))) END"))
        if not parts:
            raise ValueError(
                "predicate='intersects' needs 'rings'/'vertices' or "
                "box columns on both sides")
        e = F.coalesce(*parts) if len(parts) > 1 else parts[0]
        return e.alias(rings_alias)

    @classmethod
    def _candidate_pairs(cls, L, R, cs, rcols, keep_geoms=False):
        """Exact-intersecting (left, right) pairs through the gridded
        cell join with canonical-cell dedup (see class docstring).
        With ``keep_geoms`` the pair frame carries both geometries as
        ``_lr``/``_rr`` (the Overlay input).  A left side carrying
        only a ``path`` column (open polylines) joins through the
        exact polyline-polygon test instead."""
        from dask_geomodeling_spark.geometry.geom_operations import (
            path_intersects_rings_expr, rings_intersect_expr)
        clash = set(rcols) & set(L.columns)
        if clash:
            raise ValueError(
                "right_columns collide with left columns: {}"
                .format(sorted(clash)))
        csl = "CAST({!r} AS DOUBLE)".format(cs)
        left_is_path = ("path" in L.columns
                        and not ({"rings", "vertices"}
                                 & set(L.columns)))

        def gridded(df, cols, ring_alias, b, cx, cy, kind="rings"):
            if kind == "path":
                g = df.select(*cols, F.col("path").alias(ring_alias))
                pts = ring_alias
            else:
                g = df.select(
                    *cols, cls._ring_expr(set(df.columns), ring_alias))
                pts = "flatten({})".format(ring_alias)
            g = g.withColumns({
                b + "x1": F.expr(
                    "array_min(transform({r}, p -> p[0]))"
                    .format(r=pts)),
                b + "y1": F.expr(
                    "array_min(transform({r}, p -> p[1]))"
                    .format(r=pts)),
                b + "x2": F.expr(
                    "array_max(transform({r}, p -> p[0]))"
                    .format(r=pts)),
                b + "y2": F.expr(
                    "array_max(transform({r}, p -> p[1]))"
                    .format(r=pts))})
            return (g.withColumn(cx, F.explode(F.expr(
                "sequence(CAST(FLOOR({b}x1 / {cs}) AS BIGINT), "
                "CAST(FLOOR({b}x2 / {cs}) AS BIGINT))"
                .format(b=b, cs=csl))))
                .withColumn(cy, F.explode(F.expr(
                    "sequence(CAST(FLOOR({b}y1 / {cs}) AS BIGINT), "
                    "CAST(FLOOR({b}y2 / {cs}) AS BIGINT))"
                    .format(b=b, cs=csl)))))

        Lc = gridded(L, L.columns, "_lr", "_a", "_cx", "_cy",
                     "path" if left_is_path else "rings")
        Rc = gridded(R, rcols, "_rr", "_b", "_rcx", "_rcy")
        overlap = ((F.col("_ax1") <= F.col("_bx2"))
                   & (F.col("_ax2") >= F.col("_bx1"))
                   & (F.col("_ay1") <= F.col("_by2"))
                   & (F.col("_ay2") >= F.col("_by1")))
        # canonical-cell dedup: the cell holding the bbox-overlap's
        # max corner is exploded by BOTH sides iff the bboxes overlap,
        # so keeping only that cell yields each pair exactly once —
        # no post-join distinct
        canon = ((F.col("_cx") == F.expr(
                    "CAST(FLOOR(least(_ax2, _bx2) / {cs}) AS BIGINT)"
                    .format(cs=csl)))
                 & (F.col("_cy") == F.expr(
                    "CAST(FLOOR(least(_ay2, _by2) / {cs}) AS BIGINT)"
                    .format(cs=csl))))
        exact = (path_intersects_rings_expr("_lr", "_rr")
                 if left_is_path
                 else rings_intersect_expr("_lr", "_rr"))
        cond = ((F.col("_cx") == F.col("_rcx"))
                & (F.col("_cy") == F.col("_rcy"))
                & canon & overlap & exact)
        extra = ["_lr", "_rr"] if keep_geoms else []
        return (Lc.join(Rc, cond).select(*L.columns, *rcols, *extra))

    def _build_intersects(self, ctx, L, R, cs, rcols, how):
        from pyspark import StorageLevel
        pairs = self._candidate_pairs(L, R, cs, rcols)
        if how == "inner":
            return pairs
        # left outer over an EXPLODED left side cannot null-extend
        # per feature, so 'left' is pairs + anti-join — with the pairs
        # frame persisted the grid join still runs once
        pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
        idc = self.left.index_column
        matched = pairs.select(idc).distinct()
        unmatched = (L.join(matched, idc, "left_anti")
                     .select(*L.columns,
                             *[F.lit(None).alias(c) for c in rcols]))
        return pairs.unionByName(unmatched, allowMissingColumns=False)

    def _build_within(self, ctx, L, R, cs, rcols, how):
        """``predicate='within'`` (round 9, the geopandas
        ``sjoin(predicate='within')`` counterpart): left features —
        polygons, boxes, single rings, or open polylines — that lie
        ENTIRELY inside a right polygon.  Candidates come from the
        same grid pair join (within ⊆ intersects, so the candidate
        set is sufficient); the exact test is the kernel leftover
        ``left − right`` being empty — holes count (a feature
        straddling a hole is NOT within).  One join + one
        Arrow-batched kernel pass over candidates only."""
        from pyspark import StorageLevel

        from dask_geomodeling_spark.geometry.polyclip import (
            kernel_parallelism, map_rings_binary)
        pairs = self._candidate_pairs(L, R, cs, rcols,
                                      keep_geoms=True)
        pairs = map_rings_binary(
            kernel_parallelism(pairs, ctx.spark), "_lr", "_rr",
            _pair_leftover)
        within = (pairs.filter(F.col("_lr").isNull())
                  .drop("_lr", "_rr"))
        if how == "inner":
            return within
        within = within.persist(StorageLevel.MEMORY_AND_DISK)
        idc = self.left.index_column
        matched = within.select(idc).distinct()
        unmatched = (L.join(matched, idc, "left_anti")
                     .select(*L.columns,
                             *[F.lit(None).alias(c) for c in rcols]))
        return within.unionByName(unmatched,
                                  allowMissingColumns=False)


class NearestJoin(GeometryBlock):
    """Bounded-radius nearest-neighbor join between two POINT layers —
    the geopandas ``sjoin_nearest(max_distance=...)`` counterpart (no
    reference analogue).

    Grid strategy: cells of ``max_distance`` size; the RIGHT side
    scatters to its 3×3 neighboring cells (any point within
    ``max_distance`` of a left point lies in one of the 9 cells around
    it), the LEFT side keys map-side into its own cell, ONE equi-join
    pairs candidates, and a struct-min argmin picks the nearest —
    comparisons run on the SQUARED distance (exact arithmetic, no
    sqrt ulps), ties break toward the smallest right id.  Each
    candidate pair appears exactly once (left points own one cell).

    Output: left columns + ``right_columns`` (default: right's index)
    + ``distance`` (rounded to ``round_to``).  ``how='left'`` keeps
    radius-empty left points with NULLs.
    """

    def __init__(self, left, right, max_distance, right_columns=None,
                 how="inner", round_to=6):
        if not isinstance(left, GeometryBlock) \
                or not isinstance(right, GeometryBlock):
            raise TypeError("left/right must be GeometryBlocks")
        if how not in ("inner", "left"):
            raise ValueError("how must be 'inner' or 'left'")
        md = float(max_distance)
        if not md > 0:
            raise ValueError("max_distance must be > 0")
        if right_columns is None:
            right_columns = [right.index_column]
        super().__init__(left, right, md, tuple(right_columns), how,
                         int(round_to))

    @property
    def left(self):
        return self.args[0]

    @property
    def index_column(self):
        return self.left.index_column

    @property
    def columns(self):
        return (set(self.left.columns) | set(self.args[3])
                | {"distance"})

    def _build(self, ctx):
        _, _, md, rcols, how, round_to = self.args
        rcols = list(rcols)
        L = self.left._build(ctx)
        R = self.args[1]._build(ctx)
        for side, frame in (("left", L), ("right", R)):
            if not {"x", "y"} <= set(frame.columns):
                raise ValueError(
                    "{} side needs point x/y columns".format(side))
        clash = set(rcols) & set(L.columns)
        if clash:
            raise ValueError(
                "right_columns collide with left columns: {}"
                .format(sorted(clash)))
        csl = "CAST({!r} AS DOUBLE)".format(md)
        offs = ctx.spark.createDataFrame(
            [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)],
            "dy int, dx int")
        Rc = (R.select(*rcols, F.col("x").alias("_rx"),
                       F.col("y").alias("_ry"))
              .crossJoin(F.broadcast(offs))
              .select(*rcols, "_rx", "_ry",
                      (F.expr("CAST(FLOOR(_rx / {cs}) AS BIGINT)"
                              .format(cs=csl)) + F.col("dx"))
                      .alias("_cx"),
                      (F.expr("CAST(FLOOR(_ry / {cs}) AS BIGINT)"
                              .format(cs=csl)) + F.col("dy"))
                      .alias("_cy")))
        Lc = L.withColumns({
            "_cx": F.expr("CAST(FLOOR(x / {cs}) AS BIGINT)".format(cs=csl)),
            "_cy": F.expr("CAST(FLOOR(y / {cs}) AS BIGINT)".format(cs=csl))})
        d2 = ((F.col("x") - F.col("_rx")) * (F.col("x") - F.col("_rx"))
              + (F.col("y") - F.col("_ry"))
              * (F.col("y") - F.col("_ry")))
        idc = self.left.index_column
        cand = (Lc.join(Rc, ["_cx", "_cy"])
                .where(d2 <= md * md)
                .withColumn("_d2", d2))
        best = (cand.groupBy(idc)
                .agg(F.min(F.struct(
                    F.col("_d2").alias("d2"),
                    *[F.col(c).alias(c) for c in rcols]))
                    .alias("_b")))
        sel = [F.col("_b")[c].alias(c) for c in rcols]
        dist = F.round(F.sqrt(F.col("_b")["d2"]), round_to)
        matched = best.select(idc, *sel, dist.alias("distance"))
        out = L.join(matched, idc, "left" if how == "left" else "inner")
        return out


class ClusterDBSCAN(GeometryBlock):
    """Density-based point clustering — the PostGIS
    ``ST_ClusterDBSCAN(geom, eps, minpoints) OVER ()`` analogue as a
    first-class block (round 11); project embeddings to 2-D first
    (``PCAProject``/``MatryoshkaSlice``) and it doubles as
    embedding-space density clustering.

    Semantics (sklearn/PostGIS DBSCAN):

    - a point is CORE iff at least ``min_points`` points (itself
      included) lie within ``eps`` (closed ball, exact squared
      arithmetic — no sqrt ulps);
    - clusters are the connected components of core points under
      eps-adjacency; the cluster id is the smallest member id of the
      component's core set (deterministic, engine-independent);
    - a non-core point within ``eps`` of a core point is a BORDER
      point and joins its NEAREST core's cluster (ties to the
      smallest core id — classic DBSCAN leaves this order-dependent;
      the argmin makes it a pure function of the data);
    - everything else is noise: ``cluster_id`` NULL.

    Output: source columns + ``cluster_id`` + ``is_core``.

    Plan shape (100 TB): points key into an eps-sized uniform grid;
    one side scatters to its 3×3 neighbor cells (the NearestJoin
    shape) so every eps-pair meets in EXACTLY one equi-join on
    (cell_x, cell_y) — never data×data; one count aggregation marks
    cores; the core-core edge set runs the DedupClusters star rounds
    (O(log²) rounds, driver union-find short-circuit at or below
    ``dedup.STAR_DRIVER_EDGES`` edges); border attachment is one
    struct-min argmin.  An eps-ball with k points produces O(k²)
    candidate pairs — DBSCAN's inherent density cost; at 100 TB pick
    eps against the data density (the same contract PostGIS ships
    with), and AQE's skew-join handles hot cells.  Point sets of at
    most ``DRIVER_POINTS`` points (the request's ``driver_threshold``
    overrides it) run an exact driver mirror of the same semantics
    instead.

    Cache lifecycle: each ``plan()`` eagerly checkpoints ONE narrow
    (id, cluster_id, is_core) label table that the returned plan
    reads — the data-sized pair/core caches are freed before plan()
    returns.  The checkpoint itself must outlive the returned plan,
    so callers re-planning the same block many times in one session
    accumulate one narrow checkpoint per superseded plan; unpersist
    superseded results (or reuse the returned DataFrame) in
    long-lived sessions.
    """

    def __init__(self, source, eps, min_points, id_column=None,
                 max_iter=20):
        if not isinstance(source, GeometryBlock):
            raise TypeError("source must be a GeometryBlock")
        e = float(eps)
        if not e > 0:
            raise ValueError("eps must be > 0")
        if int(min_points) < 1:
            raise ValueError("min_points must be >= 1")
        if id_column is None:
            id_column = source.index_column
        clash = {"cluster_id", "is_core"} & set(source.columns)
        if clash:
            raise ValueError(
                "column(s) {} collide with ClusterDBSCAN's output; "
                "rename upstream".format(sorted(clash)))
        super().__init__(source, e, int(min_points), str(id_column),
                         int(max_iter))

    @property
    def source(self):
        return self.args[0]

    @property
    def index_column(self):
        return self.source.index_column

    @property
    def columns(self):
        return set(self.source.columns) | {"cluster_id", "is_core"}

    def _build(self, ctx):
        from dask_geomodeling_spark.pipeline.dedup import DedupClusters
        _, eps, min_points, idc, max_iter = self.args
        df = self.source._build(ctx)
        if not {"x", "y"} <= set(df.columns):
            raise ValueError("ClusterDBSCAN needs point x/y columns")
        # r15 optimization (guide §2.6): the grid-join/star machinery
        # costs ~30 Spark jobs of pure scheduling floor on small point
        # sets.  At or below DRIVER_POINTS points (the request's
        # driver_threshold overrides it) an exact driver mirror of the
        # SAME pair/core/star/argmin semantics replaces the machinery.
        # Guards keep the distributed path wherever Python and Spark
        # comparison semantics could diverge: NULL/NaN coordinates
        # (FLOOR(NULL) join-drops; Spark orders NaN above numbers),
        # NULL or duplicate ids (the mirror keys by id).
        probe = ctx.collect_bounded(
            df.select(F.col(idc).alias("_pid"), "x", "y"),
            DRIVER_POINTS)
        bounded = probe is not None
        if bounded:
            seen = set()
            for r in probe:
                pid, x, y = r["_pid"], r["x"], r["y"]
                if (pid is None or x is None or y is None
                        or x != x or y != y or pid in seen):
                    bounded = False
                    break
                seen.add(pid)
        if bounded:
            import pyspark.sql.types as T
            t = df.schema[idc].dataType
            schema = T.StructType([
                T.StructField("_pid", t),
                T.StructField("_clu", t),
                T.StructField("_isc", T.BooleanType())])
            lab = F.broadcast(ctx.spark.createDataFrame(
                sorted(self._driver_labels(probe, eps, min_points)),
                schema))
            return (df.join(lab.withColumnRenamed("_pid", idc), idc,
                            "left")
                    .select(*df.columns,
                            F.col("_clu").alias("cluster_id"),
                            F.coalesce(F.col("_isc"), F.lit(False))
                            .alias("is_core")))
        csl = "CAST({!r} AS DOUBLE)".format(eps)
        offs = ctx.spark.createDataFrame(
            [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)],
            "dy int, dx int")
        pts = df.select(F.col(idc).alias("_pid"), "x", "y")
        right = (pts.select(F.col("_pid").alias("_rid"),
                            F.col("x").alias("_rx"),
                            F.col("y").alias("_ry"))
                 .crossJoin(F.broadcast(offs))
                 .select("_rid", "_rx", "_ry",
                         (F.expr("CAST(FLOOR(_rx / {cs}) AS BIGINT)"
                                 .format(cs=csl)) + F.col("dx"))
                         .alias("_cx"),
                         (F.expr("CAST(FLOOR(_ry / {cs}) AS BIGINT)"
                                 .format(cs=csl)) + F.col("dy"))
                         .alias("_cy")))
        left = pts.withColumns({
            "_cx": F.expr("CAST(FLOOR(x / {cs}) AS BIGINT)"
                          .format(cs=csl)),
            "_cy": F.expr("CAST(FLOOR(y / {cs}) AS BIGINT)"
                          .format(cs=csl))})
        d2 = ((F.col("x") - F.col("_rx"))
              * (F.col("x") - F.col("_rx"))
              + (F.col("y") - F.col("_ry"))
              * (F.col("y") - F.col("_ry")))
        # every eps-pair appears exactly once per direction (the left
        # point owns one cell); persisted — the pair table feeds the
        # core count, the core graph and the border argmin; the
        # finally frees both caches even when the star labeling
        # raises (round-11 second-pass review)
        pairs = (left.join(right, ["_cx", "_cy"])
                 .where((d2 <= eps * eps)
                        & (F.col("_rid") != F.col("_pid")))
                 .select("_pid", "_rid", d2.alias("_d2"))
                 .persist())
        cnt = (pairs.groupBy("_pid")
               .agg((F.count(F.lit(1)) + 1).alias("_nn")))
        core = (cnt.filter(F.col("_nn") >= min_points)
                .select("_pid"))
        # min_points == 1: every point is core even with no neighbor
        if min_points == 1:
            core = pts.select("_pid")
        core = core.persist()
        try:
            cc = (pairs
                  .join(core, "_pid", "left_semi")
                  .join(core.select(F.col("_pid").alias("_rid")),
                        "_rid", "left_semi")
                  .select(F.least("_pid", "_rid").alias("_lo"),
                          F.greatest("_pid", "_rid").alias("_hi"))
                  .distinct())
            labels = DedupClusters._star_labels(ctx, cc, max_iter)
            core_lab = (core.join(
                labels.select(F.col("_id").alias("_pid"), "_lbl"),
                "_pid", "left")
                .select("_pid",
                        F.coalesce("_lbl", "_pid").alias("_clu"),
                        F.lit(True).alias("_isc")))
            # border points: nearest core's cluster (one argmin)
            brd = (pairs
                   .join(core.select(F.col("_pid").alias("_rid")),
                         "_rid", "left_semi")
                   .join(core, "_pid", "left_anti")
                   .groupBy("_pid")
                   .agg(F.min(F.struct(F.col("_d2").alias("d2"),
                                       F.col("_rid").alias("rid")))
                        .alias("_b"))
                   .select("_pid", F.col("_b.rid").alias("_bcore")))
            brd_lab = (brd.join(
                core_lab.select(F.col("_pid").alias("_bcore"),
                                F.col("_clu")), "_bcore")
                .select("_pid", "_clu", F.lit(False).alias("_isc")))
            # materialize the NARROW label table eagerly, then free
            # the (data-sized) pair and core caches — otherwise every
            # plan() leaves an O(k·n) pair table in executor storage
            # for the session lifetime (round-11 review fix); the
            # returned plan only joins the source onto the
            # checkpointed labels.  NOTE for repeated-plan() callers:
            # this narrow checkpoint must outlive the returned plan,
            # so each superseded plan() of the same block leaves one
            # (id, cluster_id, is_core)-sized RDD behind — unpersist
            # superseded results or reuse the returned DataFrame in
            # long-lived sessions (class docstring, round-13 note)
            from dask_geomodeling_spark.config import strip_plan_stats
            lab = strip_plan_stats(
                core_lab.unionByName(brd_lab).localCheckpoint())
        finally:
            pairs.unpersist()
            core.unpersist()
        return (df.join(lab.withColumnRenamed("_pid", idc), idc,
                        "left")
                .select(*df.columns,
                        F.col("_clu").alias("cluster_id"),
                        F.coalesce(F.col("_isc"), F.lit(False))
                        .alias("is_core")))

    @staticmethod
    def _driver_labels(rows, eps, min_points):
        """Exact driver mirror of the distributed path: eps-grid
        neighbor search (a pair is a candidate iff the cells differ
        by at most 1 per axis — the same 3x3 scatter the join keys
        on), ``(x-rx)**2 + (y-ry)**2`` in the distributed IEEE op
        order, neighbor-count cores, union-find over core-core
        adjacency labeled by the smallest core id (what the star
        rounds + driver union-find converge to), and border argmin
        over ``(d2, rid)`` (the struct-min tie order).  Returns
        ``(pid, cluster_id, is_core)`` for core and border points
        only — noise stays absent, exactly like the distributed
        label table.  Pinned distributed-vs-driver by
        test_cluster_dbscan_driver_matches_machinery."""
        import math

        from dask_geomodeling_spark.pipeline.dedup import (
            min_component_labels)
        pts = [(r["_pid"], r["x"], r["y"]) for r in rows]
        grid = {}
        for i, (_, x, y) in enumerate(pts):
            grid.setdefault(
                (math.floor(x / eps), math.floor(y / eps)),
                []).append(i)
        e2 = eps * eps
        nbrs = [[] for _ in pts]
        for (cx, cy), idxs in grid.items():
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    other = grid.get((cx + dx, cy + dy))
                    if not other:
                        continue
                    for i in idxs:
                        _, x, y = pts[i]
                        for j in other:
                            if j == i:
                                continue
                            rid, rx, ry = pts[j]
                            d2 = ((x - rx) * (x - rx)
                                  + (y - ry) * (y - ry))
                            if d2 <= e2:
                                nbrs[i].append((d2, rid))
        core = [min_points == 1 or len(nb) + 1 >= min_points
                for nb in nbrs]
        core_by_id = {pts[i][0]: core[i] for i in range(len(pts))}
        mins = min_component_labels(
            (pid, rid) for i, (pid, _, _) in enumerate(pts) if core[i]
            for _d2, rid in nbrs[i] if core_by_id[rid])
        out = []
        for i, (pid, _, _) in enumerate(pts):
            if core[i]:
                out.append((pid, mins.get(pid, pid), True))
                continue
            best = None
            for d2, rid in nbrs[i]:
                if core_by_id[rid] and (best is None
                                        or (d2, rid) < best):
                    best = (d2, rid)
            if best is not None:
                out.append((pid, mins.get(best[1], best[1]), False))
        return out
