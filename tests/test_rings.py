"""Multi-ring geometry: polygon holes + MULTIPOLYGON through the
flat orientation-normalized ``rings`` column (reference operates on
arbitrary GEOS geometry — geom_operations.py:15, raster/misc.py:518,
aggregate.py:255)."""

import math

import pytest

from dask_geomodeling_spark.geometry.geom_operations import Area, Length
from dask_geomodeling_spark.geometry.proj import Reproject
from dask_geomodeling_spark.geometry.set_operations import Intersection
from dask_geomodeling_spark.geometry.sources import (
    LiteralGeometrySource, _ring_signed_area, parse_point_or_box_wkt)

DONUT = ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
         "(4 4, 4 6, 6 6, 6 4, 4 4))")
MULTI = ("MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), "
         "((5 5, 9 5, 9 9, 5 9, 5 5), (6 6, 6 8, 8 8, 8 6, 6 6)))")


def test_parse_polygon_with_hole_normalizes_orientation():
    f = parse_point_or_box_wkt(DONUT)
    assert (f["xmin"], f["ymin"], f["xmax"], f["ymax"]) == (0, 0, 10, 10)
    assert len(f["rings"]) == 2
    assert _ring_signed_area(f["rings"][0]) > 0   # outer forced CCW
    assert _ring_signed_area(f["rings"][1]) < 0   # hole forced CW
    assert f["vertices"] == f["rings"][0]


def test_parse_multipolygon_flattens_rings():
    f = parse_point_or_box_wkt(MULTI)
    assert len(f["rings"]) == 3
    signs = [_ring_signed_area(r) for r in f["rings"]]
    assert signs[0] > 0 and signs[1] > 0 and signs[2] < 0


def test_parse_single_ring_unchanged():
    tri = parse_point_or_box_wkt("POLYGON ((0 0, 4 0, 0 4, 0 0))")
    assert "rings" not in tri and "vertices" in tri
    box = parse_point_or_box_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    assert "rings" not in box and "vertices" not in box


def test_area_and_length_subtract_holes(spark):
    src = LiteralGeometrySource(DONUT)
    assert Area(src).plan(spark).first().value == pytest.approx(96.0)
    # holes ADD boundary (GEOS length semantics)
    assert Length(src).plan(spark).first().value == pytest.approx(48.0)


def test_area_multipolygon_sums_parts(spark):
    src = LiteralGeometrySource(MULTI)
    assert Area(src).plan(spark).first().value == pytest.approx(16.0)


def test_rasterize_wkt_excludes_hole_cells(spark):
    from dask_geomodeling_spark.raster.misc import RasterizeWKT
    assert RasterizeWKT(DONUT).plan(spark).count() == 100 - 4
    assert RasterizeWKT(MULTI).plan(spark).count() == 4 + 16 - 4


def test_centroid_mode_uses_ring_centroid(spark):
    src = LiteralGeometrySource(DONUT)
    hit = src.get_data(spark, mode="centroid",
                       geometry=(4.9, 4.9, 5.1, 5.1))
    assert hit["features"].count() == 1
    miss = src.get_data(spark, mode="centroid", geometry=(8, 8, 9, 9))
    assert miss["features"].count() == 0


def test_intersection_clips_every_ring(spark):
    # clip to the (0,0,5,5) quadrant: outer -> 25, hole quarter -> 1
    src = LiteralGeometrySource(DONUT)
    clipped = Intersection(src)
    got = Area(clipped).plan(
        spark, geometry=(0.0, 0.0, 5.0, 5.0)).first().value
    assert got == pytest.approx(24.0)


def test_reproject_transforms_rings(spark):
    src = LiteralGeometrySource(DONUT)
    out = Reproject(src, "EPSG:4326", "EPSG:4087").plan(spark).first()
    k = 6378137.0 * math.pi / 180.0
    assert out.rings[0][1][0] == pytest.approx(10 * k)
    assert out.rings[1][0][0] == pytest.approx(4 * k)


def test_aggregate_raster_masks_out_hole(spark):
    from dask_geomodeling_spark.geometry.aggregate import AggregateRaster
    from dask_geomodeling_spark.raster.sources import MemorySource
    import numpy as np
    data = np.arange(144, dtype="float64").reshape(12, 12)
    grid = MemorySource(data)
    donut = parse_point_or_box_wkt(
        "POLYGON ((0 0, 11 0, 11 11, 0 11, 0 0), "
        "(3 3, 8 3, 8 8, 3 8, 3 3))")
    donut["id"] = 1
    feats = LiteralGeometrySource([donut])
    agg = AggregateRaster(feats, grid, statistic="count",
                          column_name="n")
    n = agg.plan(spark).first().n
    # the even-odd ray cast is lower-left-boundary-inclusive: the
    # outer ring keeps grid points (0..10)^2 = 121; the hole excludes
    # its own lower-left-inclusive set (3..7)^2 = 25
    assert n == 121 - 25


def test_centroid_block_uses_ring_centroid(spark):
    from dask_geomodeling_spark.geometry.constructive import Centroid
    # an L-shape whose bbox midpoint (2, 2) differs from its true
    # area-weighted centroid
    src = LiteralGeometrySource(
        "POLYGON ((0 0, 4 0, 4 1, 1 1, 1 4, 0 4, 0 0))")
    out = Centroid(src).plan(spark).first()
    # decompose: 4x1 bar (area 4, centroid (2, 0.5)) + 1x3 column
    # (area 3, centroid (0.5, 2.5)) -> cx = cy = 9.5/7 = 19/14
    assert out.x == pytest.approx(19.0 / 14.0)
    assert out.y == pytest.approx(19.0 / 14.0)
    # donut (rings column): symmetric hole keeps the centroid at (5,5)
    donut = LiteralGeometrySource(DONUT)
    d = Centroid(donut).plan(spark).first()
    assert (d.x, d.y) == (pytest.approx(5.0), pytest.approx(5.0))


def test_intersection_fully_clipped_multi_ring_row(spark):
    # bbox overlaps the window but the GEOMETRY doesn't: a diagonal
    # triangle near the far corner clips to ZERO rings — under ANSI
    # mode element_at(rings, 1) would abort the job (round-6 ADVICE)
    tri = ("POLYGON ((0 10, 10 0, 10 10, 0 10), "
           "(7 8, 8 8, 8 9, 7 8))")
    src = LiteralGeometrySource(tri)
    clipped = Intersection(src)
    row = clipped.plan(spark, geometry=(0.0, 0.0, 3.0, 3.0)).first()
    assert row.rings == [] and row.vertices is None
    got = Area(clipped).plan(
        spark, geometry=(0.0, 0.0, 3.0, 3.0)).first().value
    assert got == pytest.approx(0.0)


def test_simplify_rings_grid_snap_and_degenerate_drop(spark):
    from dask_geomodeling_spark.geometry.constructive import Simplify
    wkt = ("POLYGON ((0 0, 4.1 0.1, 4 4, 0 4, 0 0), "
           "(1 1, 2 1, 2 2, 1 2, 1 1), "
           "(3 3, 3.2 3.2, 3.4 3.0, 3 3))")
    src = LiteralGeometrySource(wkt)
    simp = Simplify(src, tolerance=1.0)
    row = simp.plan(spark).first()
    # sliver ring degenerates to one grid point and drops; outer +
    # hole survive with snapped integer vertices
    assert len(row.rings) == 2
    assert Area(simp).plan(spark).first().value == pytest.approx(15.0)
    # tolerance=None is the identity on ring geometry
    base = src.plan(spark).first()
    assert Simplify(src).plan(spark).first().rings == base.rings


def test_simplify_collapses_wraparound_duplicate(spark):
    from dask_geomodeling_spark.geometry.constructive import Simplify
    # last vertex snaps onto the first -> the wrap-around pair
    # collapses too (rings are stored open)
    wkt = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0.1 0.1, 0 0))"
    out = Simplify(LiteralGeometrySource(wkt),
                   tolerance=1.0).plan(spark).first()
    assert out.vertices == [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0],
                            [0.0, 4.0]]


def test_buffer_polygon_ring_offset(spark):
    from dask_geomodeling_spark.geometry.constructive import Buffer
    rect = [{"id": 1, "xmin": 0.0, "ymin": 0.0, "xmax": 4.0,
             "ymax": 3.0,
             "vertices": [[0.0, 0.0], [4.0, 0.0], [4.0, 3.0],
                          [0.0, 3.0]]}]
    src = LiteralGeometrySource(rect)
    buf = Buffer(src, 2.0, resolution=4, shape="round")
    n, r = 16, 2.0
    row = buf.plan(spark).first()
    assert len(row.vertices) == n + 4
    area = Area(buf).plan(spark).first().value
    exp = 12.0 + 2 * r * 7.0 + (n / 2) * r * r * math.sin(2 * math.pi / n)
    assert area == pytest.approx(exp, abs=1e-9)
    per = Length(buf).plan(spark).first().value
    assert per == pytest.approx(
        14.0 + n * 2 * r * math.sin(math.pi / n), abs=1e-9)
    # general convex ring: between the polygon+edges lower bound and
    # the exact disk Minkowski sum (arc polygon inscribes the circle)
    tri = LiteralGeometrySource("POLYGON ((0 0, 4 0, 0 3, 0 0))")
    ta = Area(Buffer(tri, 1.0, resolution=6,
                     shape="round")).plan(spark).first().value
    assert 18.0 < ta <= 18.0 + math.pi + 1e-9


def test_dp_simplify_drops_near_collinear(spark):
    """DP keeps a SUBSET of the input vertices (snap moves them) and
    drops near-collinear chains regardless of grid alignment."""
    from dask_geomodeling_spark.geometry.constructive import Simplify
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    ring = [[0.0, 0.0], [2.0, 0.3], [4.0, 0.0], [3.7, 2.0],
            [4.0, 4.0], [2.0, 3.7], [0.0, 4.0], [0.3, 2.0]]
    df = spark.createDataFrame([(1, ring)],
                               "id bigint, vertices array<array<double>>")
    out = Simplify(DataFrameSource(df, index_column="id"),
                   tolerance=1.0, algorithm="dp").plan(spark)
    verts = out.first()["vertices"]
    assert verts == [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]


def test_dp_simplify_null_and_degenerate_rings(spark):
    from dask_geomodeling_spark.geometry.constructive import Simplify
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    outer = [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]
    sliver = [[1.0, 1.0], [1.2, 1.2], [1.1, 1.11]]
    df = spark.createDataFrame(
        [(1, [outer, sliver]), (2, None)],
        "id bigint, rings array<array<array<double>>>")
    rows = {r["id"]: r for r in Simplify(
        DataFrameSource(df, index_column="id"), tolerance=1.0,
        algorithm="dp").plan(spark).collect()}
    assert [len(r) for r in rows[1]["rings"]] == [4]
    assert rows[2]["rings"] is None


def test_dp_simplify_rejects_unknown_algorithm(spark):
    """'vw' became a real algorithm in round 8 — only genuinely
    unknown names reject now."""
    import pytest as _pytest

    from dask_geomodeling_spark.geometry.constructive import Simplify
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame([(1, 1.0)], "id bigint, x double")
    with _pytest.raises(ValueError, match="algorithm"):
        Simplify(DataFrameSource(df, index_column="id"),
                 tolerance=1.0, algorithm="rdp")


def test_spatial_join_rings_and_left(spark):
    """Point-in-polygon join: hole excluded, outside points NULL on
    how='left', bbox-only right side works too."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.geometry.spatial_join import SpatialJoin
    pts = spark.createDataFrame(
        [(1, 0.5, 0.5),    # inside outer, outside hole
         (2, 1.5, 1.5),    # inside the hole -> not contained
         (3, 9.5, 9.5)],   # far outside
        "pid bigint, x double, y double")
    polys = spark.createDataFrame(
        [(10, [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]],
               [[1.0, 1.0], [1.0, 2.0], [2.0, 2.0], [2.0, 1.0]]])],
        "gid bigint, rings array<array<array<double>>>")
    j = SpatialJoin(DataFrameSource(pts, index_column="pid"),
                    DataFrameSource(polys, index_column="gid"),
                    cell_size=2.0)
    got = sorted((r["pid"], r["gid"]) for r in j.plan(spark).collect())
    assert got == [(1, 10)]
    jl = SpatialJoin(DataFrameSource(pts, index_column="pid"),
                     DataFrameSource(polys, index_column="gid"),
                     cell_size=2.0, how="left")
    got = sorted((r["pid"], r["gid"]) for r in jl.plan(spark).collect())
    assert got == [(1, 10), (2, None), (3, None)]
    boxes = spark.createDataFrame(
        [(20, 0.0, 0.0, 4.0, 4.0)],
        "gid bigint, xmin double, ymin double, xmax double, ymax double")
    jb = SpatialJoin(DataFrameSource(pts, index_column="pid"),
                     DataFrameSource(boxes, index_column="gid"),
                     cell_size=2.0)
    got = sorted((r["pid"], r["gid"]) for r in jb.plan(spark).collect())
    assert got == [(1, 20), (2, 20)]  # box test keeps the hole point


def test_dissolve_disjoint_union_exact(spark):
    """Two disjoint unit squares dissolve into one 2-part feature
    whose multipart Area is exactly 2 and whose envelope spans both;
    collect order is pinned by the array_sort."""
    from dask_geomodeling_spark.geometry.dissolve import Dissolve
    from dask_geomodeling_spark.geometry.geom_operations import Area
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    sq = "array(array(array({x}d, 0d), array({x1}d, 0d), " \
         "array({x1}d, 1d), array({x}d, 1d)))"
    df = spark.createDataFrame([(1, "g"), (2, "g")],
                               "fid bigint, grp string")
    import pyspark.sql.functions as F
    df = df.withColumn("rings", F.expr(
        "CASE WHEN fid = 1 THEN " + sq.format(x=0, x1=1)
        + " ELSE " + sq.format(x=5, x1=6) + " END"))
    src = DataFrameSource(df, index_column="fid")
    d = Dissolve(src, by="grp")
    out = d.set("area", Area(d)).plan(spark).first()
    assert out["n_parts"] == 2
    assert abs(out["area"] - 2.0) < 1e-12


def test_aggregate_raster_majority_tie_break(spark):
    """Majority = most frequent value; exact count tie -> smallest
    value wins (the deterministic contract)."""
    import pyspark.sql.functions as F

    from dask_geomodeling_spark.geometry.aggregate import AggregateRaster
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.raster.sources import (
        DataFrameRasterSource)
    cells = spark.createDataFrame(
        [(0, 0, 5.0), (0, 1, 5.0), (1, 0, 3.0), (1, 1, 3.0),
         (0, 2, 9.0)],
        "y bigint, x bigint, value double") \
        .withColumn("time", F.lit("1970-01-01").cast("timestamp"))
    boxes = spark.createDataFrame(
        [(1, 0.0, 0.0, 3.0, 2.0)],
        "id bigint, xmin double, ymin double, xmax double, ymax double")
    agg = AggregateRaster(DataFrameSource(boxes, index_column="id"),
                          DataFrameRasterSource(cells),
                          statistic=["majority", "count"],
                          column_name=["maj", "cnt"])
    row = agg.plan(spark).first()
    assert row["maj"] == 3.0  # 5.0 and 3.0 tie at 2; smaller wins
    assert row["cnt"] == 5


def test_nearest_join_radius_and_ties(spark):
    """Nearest within radius; ties break to the smallest right id;
    out-of-radius points drop (or NULL with how='left')."""
    import pyspark.sql.functions as F  # noqa: F401

    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.geometry.spatial_join import NearestJoin
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 50.0, 50.0)],
        "pid bigint, x double, y double")
    anchors = spark.createDataFrame(
        [(10, 1.0, 0.0), (11, -1.0, 0.0), (12, 2.0, 0.0)],
        "aid bigint, x double, y double")
    j = NearestJoin(DataFrameSource(pts, index_column="pid"),
                    DataFrameSource(anchors, index_column="aid"),
                    max_distance=3.0)
    got = {r["pid"]: (r["aid"], r["distance"])
           for r in j.plan(spark).collect()}
    assert got == {1: (10, 1.0)}  # tie 10/11 at d=1 -> smaller id 10
    jl = NearestJoin(DataFrameSource(pts, index_column="pid"),
                     DataFrameSource(anchors, index_column="aid"),
                     max_distance=3.0, how="left")
    got = {r["pid"]: r["aid"] for r in jl.plan(spark).collect()}
    assert got == {1: 10, 2: None}


def test_geohash_known_value(spark):
    """The canonical example: (57.64911 N, 10.40744 E) ->
    'u4pruydqqvj' at precision 11; prefix property holds at lower
    precision."""
    from dask_geomodeling_spark.geometry.geohash import GeohashEncode
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame([(1, 10.40744, 57.64911)],
                               "pid bigint, x double, y double")
    src = DataFrameSource(df, index_column="pid")
    out = GeohashEncode(src, precision=11).plan(spark).first()
    assert out["geohash"] == "u4pruydqqvj"
    out6 = GeohashEncode(src, precision=6).plan(spark).first()
    assert out6["geohash"] == "u4pruy"


def test_spatial_join_matches_brute_force_random(spark):
    """Randomized cross-check: the grid-bucketed SpatialJoin equals
    the brute-force all-pairs ray-cast for random triangles and
    points, at several cell sizes (bucketing must not change the
    result set)."""
    import random

    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.geometry.spatial_join import SpatialJoin
    rng = random.Random(42)
    pts = [(i, rng.uniform(0, 20), rng.uniform(0, 20))
           for i in range(120)]
    tris = []
    for g in range(15):
        cx, cy = rng.uniform(0, 20), rng.uniform(0, 20)
        ring = [[cx + rng.uniform(-3, 3), cy + rng.uniform(-3, 3)]
                for _ in range(3)]
        tris.append((100 + g, [ring]))

    def brute(px, py, ring):
        inside = False
        n = len(ring)
        for i in range(n):
            ax, ay = ring[i]
            bx, by = ring[(i + 1) % n]
            if (ay > py) != (by > py) and \
                    px < ax + (bx - ax) * (py - ay) / (by - ay):
                inside = not inside
        return inside

    expected = sorted((p, g) for p, x, y in pts for g, rings in tris
                      if brute(x, y, rings[0]))
    pdf = spark.createDataFrame(pts, "pid bigint, x double, y double")
    tdf = spark.createDataFrame(
        tris, "gid bigint, rings array<array<array<double>>>")
    for cs in (1.0, 3.0, 10.0):
        j = SpatialJoin(DataFrameSource(pdf, index_column="pid"),
                        DataFrameSource(tdf, index_column="gid"),
                        cell_size=cs)
        got = sorted((r["pid"], r["gid"])
                     for r in j.plan(spark).collect())
        assert got == expected, cs


def test_nearest_join_matches_brute_force_random(spark):
    """Randomized cross-check: NearestJoin equals the brute-force
    argmin within the radius (squared-distance compare, id
    tie-break)."""
    import random

    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.geometry.spatial_join import NearestJoin
    rng = random.Random(7)
    pts = [(i, rng.uniform(0, 20), rng.uniform(0, 20))
           for i in range(100)]
    anchors = [(200 + i, rng.uniform(0, 20), rng.uniform(0, 20))
               for i in range(30)]
    md = 2.5
    expected = {}
    for p, x, y in pts:
        best = None
        for a, ax, ay in anchors:
            d2 = (x - ax) ** 2 + (y - ay) ** 2
            if d2 <= md * md and (best is None or (d2, a) < best):
                best = (d2, a)
        if best is not None:
            expected[p] = best[1]
    pdf = spark.createDataFrame(pts, "pid bigint, x double, y double")
    adf = spark.createDataFrame(anchors,
                                "aid bigint, x double, y double")
    j = NearestJoin(DataFrameSource(pdf, index_column="pid"),
                    DataFrameSource(adf, index_column="aid"),
                    max_distance=md)
    got = {r["pid"]: r["aid"] for r in j.plan(spark).collect()}
    assert got == expected


def test_quadkey_known_value(spark):
    """Bing's documented example: lat 40.01234, lon -105.2341 at
    level 3 -> tile (1, 3) -> quadkey '023'; prefix property at a
    deeper level."""
    from dask_geomodeling_spark.geometry.geohash import QuadkeyEncode
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame([(1, -105.2341, 40.01234)],
                               "pid bigint, x double, y double")
    src = DataFrameSource(df, index_column="pid")
    assert QuadkeyEncode(src, level=3).plan(spark).first()[
        "quadkey"] == "023"
    deep = QuadkeyEncode(src, level=10).plan(spark).first()["quadkey"]
    assert deep.startswith("023")


def test_geohash_domain_edge_clamps(spark):
    """lat=90 / lon=180 scale to 2^bits whose bits read all-zero; the
    LEAST clamp pins them to the max cell like standard encoders
    (round-7 advice).  Canonical: (90, 180) -> 'zzzzz...'."""
    from dask_geomodeling_spark.geometry.geohash import GeohashEncode
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame(
        [(1, 180.0, 90.0), (2, -180.0, -90.0)],
        "pid bigint, x double, y double")
    out = {r["pid"]: r["geohash"]
           for r in GeohashEncode(
               DataFrameSource(df, index_column="pid"),
               precision=6).plan(spark).collect()}
    assert out[1] == "zzzzzz"
    assert out[2] == "000000"


def test_spatial_join_left_side_with_rings_column(spark):
    """A left block that itself carries a 'rings' column must not
    produce an ambiguous reference against the right side's rings
    (round-7 advice: right rings ride under an internal alias)."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.geometry.spatial_join import SpatialJoin
    pts = spark.createDataFrame(
        [(1, 0.5, 0.5, [[[0.4, 0.4], [0.6, 0.4], [0.5, 0.6]]]),
         (2, 5.0, 5.0, None)],
        "pid bigint, x double, y double, "
        "rings array<array<array<double>>>")
    polys = spark.createDataFrame(
        [(10, [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]])],
        "gid bigint, rings array<array<array<double>>>")
    j = SpatialJoin(DataFrameSource(pts, index_column="pid"),
                    DataFrameSource(polys, index_column="gid"),
                    cell_size=2.0, how="left")
    got = {r["pid"]: r["gid"] for r in j.plan(spark).collect()}
    assert got == {1: 10, 2: None}
    # left rings column survives untouched
    row = {r["pid"]: r for r in j.plan(spark).collect()}
    assert row[1]["rings"] is not None and row[2]["rings"] is None


def test_spatial_join_intersects_matches_brute_force(spark):
    """predicate='intersects' equals the all-pairs exact test for
    random triangles (independent python reference implementation of
    the vertex-containment + segment-crossing predicate)."""
    import math
    import random

    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.geometry.spatial_join import SpatialJoin

    def tri(cx, cy, r, rot):
        return [[[cx + r * math.cos(rot + k * 2.09),
                  cy + r * math.sin(rot + k * 2.09)]
                 for k in range(3)]]

    rng = random.Random(5)
    lrows = [(i, tri(rng.uniform(0, 20), rng.uniform(0, 20),
                     rng.uniform(0.5, 3), rng.uniform(0, 6)))
             for i in range(30)]
    rrows = [(100 + i, tri(rng.uniform(0, 20), rng.uniform(0, 20),
                           rng.uniform(0.5, 3), rng.uniform(0, 6)))
             for i in range(20)]
    schema = "fid bigint, rings array<array<array<double>>>"
    L = spark.createDataFrame(lrows, schema)
    R = spark.createDataFrame(rrows,
                              "gid bigint, rings "
                              "array<array<array<double>>>")
    j = SpatialJoin(DataFrameSource(L, index_column="fid"),
                    DataFrameSource(R, index_column="gid"),
                    cell_size=4.0, predicate="intersects")
    got = {(r["fid"], r["gid"]) for r in j.plan(spark).collect()}

    def seg_int(p, q, r, s):
        def o(a, b, c):
            v = ((b[0] - a[0]) * (c[1] - a[1])
                 - (b[1] - a[1]) * (c[0] - a[0]))
            return (v > 0) - (v < 0)

        def onseg(a, b, c):
            return (min(a[0], b[0]) <= c[0] <= max(a[0], b[0])
                    and min(a[1], b[1]) <= c[1] <= max(a[1], b[1]))
        o1, o2 = o(p, q, r), o(p, q, s)
        o3, o4 = o(r, s, p), o(r, s, q)
        if o1 * o2 < 0 and o3 * o4 < 0:
            return True
        return ((o1 == 0 and onseg(p, q, r))
                or (o2 == 0 and onseg(p, q, s))
                or (o3 == 0 and onseg(r, s, p))
                or (o4 == 0 and onseg(r, s, q)))

    def pip(x, y, poly):
        inside = False
        for ring in poly:
            n = len(ring)
            for i in range(n):
                x1, y1 = ring[i]
                x2, y2 = ring[(i + 1) % n]
                if (y1 > y) != (y2 > y):
                    if x < x1 + (y - y1) / (y2 - y1) * (x2 - x1):
                        inside = not inside
        return inside

    def intersects(a, b):
        if any(pip(v[0], v[1], b) for ring in a for v in ring):
            return True
        if any(pip(v[0], v[1], a) for ring in b for v in ring):
            return True
        ea = [(ring[i], ring[(i + 1) % len(ring)])
              for ring in a for i in range(len(ring))]
        eb = [(ring[i], ring[(i + 1) % len(ring)])
              for ring in b for i in range(len(ring))]
        return any(seg_int(p, q, r, s)
                   for p, q in ea for r, s in eb)

    want = {(i, gid) for i, a in lrows for gid, b in rrows
            if intersects(a, b)}
    assert got == want
    jl = SpatialJoin(DataFrameSource(L, index_column="fid"),
                     DataFrameSource(R, index_column="gid"),
                     cell_size=4.0, predicate="intersects", how="left")
    rows = jl.plan(spark).collect()
    nulls = {r["fid"] for r in rows if r["gid"] is None}
    assert nulls == {i for i, _ in lrows} - {i for i, _ in want}
    assert len(rows) == len(want) + len(nulls)


def test_geojson_sink_and_source_ring_roundtrip(spark, tmp_path):
    """TRUE polygon geometry through GeoJSON (round 8): the sink
    writes MultiPolygon coordinates with orientation-grouped holes;
    the reader normalizes them back into the flat rings contract —
    write -> read preserves area/holes/multipart exactly."""
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.geom_operations import (
        rings_area_expr)
    from dask_geomodeling_spark.geometry.sinks import GeometryFileSink
    from dask_geomodeling_spark.geometry.sources import (
        DataFrameSource, FileGeometrySource)
    df = spark.createDataFrame(
        [(1, "sq", [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]],
                    [[1.0, 1.0], [1.0, 2.0], [2.0, 2.0], [2.0, 1.0]],
                    [[8.0, 8.0], [9.0, 8.0], [9.0, 9.0], [8.0, 9.0]]],
          0.0, 0.0, 9.0, 9.0)],
        "fid bigint, name string, rings array<array<array<double>>>, "
        "xmin double, ymin double, xmax double, ymax double")
    url = str(tmp_path / "gj")
    GeometryFileSink(DataFrameSource(df, index_column="fid"), url,
                     extension="geojson").write(spark)
    src = FileGeometrySource(url, format="geojson", id_field="fid",
                             schema="fid bigint, name string")
    row = src.plan(spark).withColumn(
        "area", F.round(rings_area_expr("rings"), 6)).first()
    assert row["area"] == 16.0          # 16 - hole 1 + part 1
    assert len(row["rings"]) == 3
    assert row["name"] == "sq"
    assert (row["xmin"], row["ymax"]) == (0.0, 9.0)


def test_spatial_join_lines_matches_brute_force(spark):
    """Polyline-left intersects join equals the all-pairs exact test
    for random multi-segment paths vs random triangles."""
    import random

    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.geometry.spatial_join import SpatialJoin
    rng = random.Random(9)
    lines = []
    for i in range(25):
        x0, y0 = rng.uniform(0, 20), rng.uniform(0, 20)
        pts = [[x0, y0]]
        for _ in range(rng.randint(1, 3)):
            x0 += rng.uniform(-4, 4)
            y0 += rng.uniform(-4, 4)
            pts.append([x0, y0])
        lines.append((i, pts))
    tris = []
    for g in range(15):
        cx, cy = rng.uniform(0, 20), rng.uniform(0, 20)
        tris.append((100 + g,
                     [[[cx + rng.uniform(-3, 3),
                        cy + rng.uniform(-3, 3)] for _ in range(3)]]))
    L = spark.createDataFrame(lines,
                              "fid bigint, path array<array<double>>")
    R = spark.createDataFrame(
        tris, "gid bigint, rings array<array<array<double>>>")
    j = SpatialJoin(DataFrameSource(L, index_column="fid"),
                    DataFrameSource(R, index_column="gid"),
                    cell_size=4.0, predicate="intersects")
    got = {(r["fid"], r["gid"]) for r in j.plan(spark).collect()}

    def seg_int(p, q, r, s):
        def o(a, b, c):
            v = ((b[0] - a[0]) * (c[1] - a[1])
                 - (b[1] - a[1]) * (c[0] - a[0]))
            return (v > 0) - (v < 0)

        def onseg(a, b, c):
            return (min(a[0], b[0]) <= c[0] <= max(a[0], b[0])
                    and min(a[1], b[1]) <= c[1] <= max(a[1], b[1]))
        o1, o2 = o(p, q, r), o(p, q, s)
        o3, o4 = o(r, s, p), o(r, s, q)
        if o1 * o2 < 0 and o3 * o4 < 0:
            return True
        return ((o1 == 0 and onseg(p, q, r))
                or (o2 == 0 and onseg(p, q, s))
                or (o3 == 0 and onseg(r, s, p))
                or (o4 == 0 and onseg(r, s, q)))

    def pip(x, y, poly):
        inside = False
        for ring in poly:
            n = len(ring)
            for i in range(n):
                x1, y1 = ring[i]
                x2, y2 = ring[(i + 1) % n]
                if (y1 > y) != (y2 > y):
                    if x < x1 + (y - y1) / (y2 - y1) * (x2 - x1):
                        inside = not inside
        return inside

    def inter(path, poly):
        if any(pip(p[0], p[1], poly) for p in path):
            return True
        pe = list(zip(path, path[1:]))
        re_ = [(ring[i], ring[(i + 1) % len(ring)])
               for ring in poly for i in range(len(ring))]
        return any(seg_int(a, b, c, d)
                   for a, b in pe for c, d in re_)

    want = {(i, gid) for i, path in lines for gid, poly in tris
            if inter(path, poly)}
    assert got == want


def test_segmentize_invariants(spark):
    """Round 9: Segmentize bounds every segment at max_length, keeps
    endpoints, keeps Length/Area exactly (collinear inserts), and
    densifies a ring's implicit closing edge."""
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.constructive import Segmentize
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame(
        [(1, [[0.0, 0.0], [10.0, 0.0]], None),
         (2, None, [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]]),
         (3, None, None)],
        "fid bigint, path array<array<double>>, "
        "rings array<array<array<double>>>")
    out = {r["fid"]: r for r in Segmentize(
        DataFrameSource(df, index_column="fid"), 3.0)
        .plan(spark).collect()}
    p = out[1]["path"]
    assert p[0] == [0.0, 0.0] and p[-1] == [10.0, 0.0]
    assert len(p) == 5  # ceil(10/3)=4 pieces + end point
    assert all(abs(b[0] - a[0]) <= 3.0 + 1e-9
               for a, b in zip(p, p[1:]))
    r = out[2]["rings"][0]
    # each 4-edge splits into 2 pieces INCLUDING the closing edge;
    # stored open: 8 vertices, no trailing duplicate of the start
    assert len(r) == 8 and r[0] == [0.0, 0.0] and r[-1] != r[0]
    assert out[3]["path"] is None and out[3]["rings"] is None
    # area invariant under densify
    from dask_geomodeling_spark.geometry.geom_operations import (
        rings_area_expr)
    got = Segmentize(DataFrameSource(df, index_column="fid"), 0.5) \
        .plan(spark).filter("fid = 2") \
        .select(F.round(rings_area_expr("rings"), 9).alias("a")) \
        .collect()[0]["a"]
    assert got == 16.0
    import pytest
    with pytest.raises(ValueError, match="max_length"):
        Segmentize(DataFrameSource(df, index_column="fid"), 0.0)


def test_azimuth_conventions(spark):
    """Round 9: Azimuth is clockwise from north — north=0, east=pi/2,
    south=pi, west=3pi/2; closed loops NULL."""
    import math

    from dask_geomodeling_spark.geometry.geom_operations import Azimuth
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    rows = [(1, [[0.0, 0.0], [0.0, 5.0]]),    # north
            (2, [[0.0, 0.0], [5.0, 0.0]]),    # east
            (3, [[0.0, 0.0], [0.0, -5.0]]),   # south
            (4, [[0.0, 0.0], [-5.0, 0.0]]),   # west
            (5, [[0.0, 0.0], [1.0, 1.0], [0.0, 0.0]]),  # loop -> NULL
            (6, None)]
    df = spark.createDataFrame(rows,
                               "fid bigint, path array<array<double>>")
    blk = DataFrameSource(df, index_column="fid")
    got = {r["fid"]: r["az"] for r in blk.set(
        "az", Azimuth(blk)).plan(spark).collect()}
    assert got[1] == 0.0
    assert abs(got[2] - math.pi / 2) < 1e-12
    assert abs(got[3] - math.pi) < 1e-12
    assert abs(got[4] - 3 * math.pi / 2) < 1e-12
    assert got[5] is None and got[6] is None


def test_path_point_indices(spark):
    """Round 9: PathPoint 0-based / negative indices, out-of-range
    NULL, bbox recomputes to the point, collision rejected."""
    import pytest

    from dask_geomodeling_spark.geometry.constructive import PathPoint
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame(
        [(1, [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]], 0.0, 0.0, 9.0, 9.0)],
        "fid bigint, path array<array<double>>, xmin double, "
        "ymin double, xmax double, ymax double")
    blk = DataFrameSource(df, index_column="fid")
    start = PathPoint(blk, 0).plan(spark).collect()[0]
    assert (start["x"], start["y"]) == (1.0, 2.0)
    assert start["xmin"] == start["xmax"] == 1.0
    assert "path" not in start.asDict()
    end = PathPoint(blk, -1).plan(spark).collect()[0]
    assert (end["x"], end["y"]) == (5.0, 6.0)
    mid = PathPoint(blk, 1).plan(spark).collect()[0]
    assert (mid["x"], mid["y"]) == (3.0, 4.0)
    oor = PathPoint(blk, 7).plan(spark).collect()[0]
    assert oor["x"] is None and oor["y"] is None
    df2 = df.withColumnRenamed("xmin", "x")
    with pytest.raises(ValueError, match="collide"):
        PathPoint(DataFrameSource(df2, index_column="fid"), 0)


def test_remove_repeated_points_ring_wrap(spark):
    """Round 9: RemoveRepeatedPoints collapses the ring wrap-around
    pair, keeps a path's closing loop revisit, NULLs degenerates."""
    from dask_geomodeling_spark.geometry.constructive import (
        RemoveRepeatedPoints)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame(
        [(1, [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0],
               [0.0, 0.0]]]),
         (2, [[[1.0, 1.0], [1.0, 1.0]]])],
        "fid bigint, rings array<array<array<double>>>")
    df = df.selectExpr("fid", "transform(rings, r -> r) AS rings")
    got = {r["fid"]: r["rings"] for r in RemoveRepeatedPoints(
        DataFrameSource(df, index_column="fid"))
        .plan(spark).collect()}
    assert got[1] == [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]]
    assert got[2] is None
    loop = spark.createDataFrame(
        [(1, [[0.0, 0.0], [0.0, 0.0], [2.0, 0.0], [0.0, 0.0]])],
        "fid bigint, path array<array<double>>")
    out = RemoveRepeatedPoints(
        DataFrameSource(loop, index_column="fid")) \
        .plan(spark).collect()[0]["path"]
    assert out == [[0.0, 0.0], [2.0, 0.0], [0.0, 0.0]]


def test_hausdorff_distance_properties(spark):
    """Round 9: identity = 0, symmetry, ring wrap edge counts,
    simplification error matches the Simplify('dp') tolerance bound."""
    from dask_geomodeling_spark.geometry.geom_operations import (
        HausdorffDistance)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    L = [[0.0, 0.0], [10.0, 0.0], [10.0, 4.0]]
    chord = [[0.0, 0.0], [10.0, 4.0]]
    df_a = spark.createDataFrame([(1, L), (2, chord), (3, None)],
                                 "fid bigint, path array<array<double>>")
    a = DataFrameSource(df_a, index_column="fid")
    # identity: layer vs itself = 0 everywhere
    same = {r["fid"]: r["hausdorff"] for r in HausdorffDistance(a, a)
            .plan(spark).collect()}
    assert same[1] == 0.0 and same[2] == 0.0 and same[3] is None
    # L vs chord (both directions give the corner-to-chord distance)
    df_b = spark.createDataFrame([(1, chord), (2, L)],
                                 "fid bigint, path array<array<double>>")
    b = DataFrameSource(df_b, index_column="fid")
    got = {r["fid"]: r["hausdorff"] for r in HausdorffDistance(a, b)
           .plan(spark).collect()}
    import math
    exp = 10.0 * 4.0 / math.hypot(10.0, 4.0)
    assert abs(got[1] - exp) < 1e-9
    assert abs(got[2] - exp) < 1e-9          # symmetric
    # closed ring: the wrap-around edge participates — the same
    # square with an extra vertex ON the closing edge is distance 0;
    # without the wrap edge that vertex would be 2.0 from every open
    # segment
    sq = [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]
    sq5 = [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 2.0]]
    ra = DataFrameSource(spark.createDataFrame(
        [(1, sq)], "fid bigint, vertices array<array<double>>"),
        index_column="fid")
    rb = DataFrameSource(spark.createDataFrame(
        [(1, sq5)], "fid bigint, vertices array<array<double>>"),
        index_column="fid")
    d = HausdorffDistance(rb, ra).plan(spark).collect()[0]["hausdorff"]
    assert d == 0.0                           # wrap edge counted


def test_sample_points_in_polygons(spark):
    """Round 10: deterministic in-polygon sampling — hypotenuse and
    hole respected, reruns identical, short-fall documented, and the
    synthesized-column collision guard."""
    import pytest

    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.constructive import (
        SamplePointsInPolygons)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    S = "array<array<array<double>>>"
    df = spark.createDataFrame(
        [(1, [[[0.0, 0.0], [4.0, 0.0], [0.0, 4.0]]]),
         (2, [[[10.0, 10.0], [14.0, 10.0], [14.0, 14.0], [10.0, 14.0]],
              [[11.0, 11.0], [11.0, 13.0], [13.0, 13.0], [13.0, 11.0]]])],
        "fid bigint, rings " + S)
    blk = SamplePointsInPolygons(DataFrameSource(df, index_column="fid"),
                                 n=8, factor=6)
    rows = blk.plan(spark).collect()
    tri = [r for r in rows if r["fid"] == 1]
    sq = [r for r in rows if r["fid"] == 2]
    assert len(tri) == 8 and len(sq) == 8
    for r in tri:
        assert 0 < r["px"] < 4 and 0 < r["py"] < 4
        assert r["px"] + r["py"] < 4          # hypotenuse respected
    for r in sq:
        assert 10 < r["px"] < 14 and 10 < r["py"] < 14
        assert not (11 < r["px"] < 13 and 11 < r["py"] < 13)  # hole
    assert sorted(r["point_id"] for r in tri) == list(range(1, 9))
    rows2 = blk.plan(spark).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    # factor=1 on the triangle (half the bbox): typically < n points —
    # the documented rejection short-fall, never an error
    few = SamplePointsInPolygons(
        DataFrameSource(df.filter(F.col("fid") == 1),
                        index_column="fid"), n=8, factor=1)
    assert len(few.plan(spark).collect()) <= 8
    with pytest.raises(ValueError, match="rings"):
        SamplePointsInPolygons(DataFrameSource(
            df.select("fid"), index_column="fid"))
    with pytest.raises(ValueError, match="collide"):
        SamplePointsInPolygons(DataFrameSource(
            df.withColumn("px", F.lit(0.0)), index_column="fid"))


def test_cluster_dbscan_two_blobs_border_noise(spark):
    """Round 11: ClusterDBSCAN — two dense blobs label by their
    smallest core id, a non-core point within eps of a core attaches
    to the nearest core's cluster, border points do NOT chain, and
    isolated points are noise (NULL cluster)."""
    from dask_geomodeling_spark.geometry.spatial_join import (
        ClusterDBSCAN)
    pts = ([{"id": 1, "x": 0.0, "y": 0.0},
            {"id": 2, "x": 1.0, "y": 0.0},
            {"id": 3, "x": 0.0, "y": 1.0},
            {"id": 6, "x": 1.0, "y": 1.0},
            {"id": 4, "x": 2.2, "y": 0.0},   # nbrs {2, 5}: border
            {"id": 5, "x": 3.4, "y": 0.0},   # near border 4 only
            {"id": 20, "x": 5.0, "y": 5.0}]  # isolated noise
           + [{"id": 10 + i, "x": 10.0 + (i % 2), "y": 10.0 + i // 2}
              for i in range(4)])
    src = LiteralGeometrySource(pts)
    blk = ClusterDBSCAN(src, eps=1.5, min_points=4)
    got = {r["id"]: (r["cluster_id"], r["is_core"])
           for r in blk.plan(spark).collect()}
    assert got[1] == (1, True)
    assert got[2] == (1, True)
    assert got[3] == (1, True)
    assert got[6] == (1, True)
    assert got[4] == (1, False)        # border
    assert got[5] == (None, False)     # border of a border = noise
    assert got[20] == (None, False)
    for i in range(4):
        assert got[10 + i] == (10, True)


def test_cluster_dbscan_min_points_one_and_clash(spark):
    """min_points=1 makes every point a core singleton; output-column
    collision raises."""
    import pytest

    from dask_geomodeling_spark.geometry.spatial_join import (
        ClusterDBSCAN)
    pts = [{"id": 1, "x": 0.0, "y": 0.0},
           {"id": 2, "x": 100.0, "y": 0.0}]
    src = LiteralGeometrySource(pts)
    got = {r["id"]: (r["cluster_id"], r["is_core"])
           for r in ClusterDBSCAN(src, eps=1.0, min_points=1)
           .plan(spark).collect()}
    assert got == {1: (1, True), 2: (2, True)}
    bad = LiteralGeometrySource(
        [{"id": 1, "x": 0.0, "y": 0.0, "cluster_id": 9}])
    with pytest.raises(ValueError, match="collide"):
        ClusterDBSCAN(bad, eps=1.0, min_points=1)


def test_cluster_dbscan_bridge_merges_via_core_chain(spark):
    """Core points chain: a line of cores spaced under eps forms ONE
    cluster even though the ends are far apart (density
    connectivity, the defining DBSCAN property)."""
    from dask_geomodeling_spark.geometry.spatial_join import (
        ClusterDBSCAN)
    pts = [{"id": i, "x": float(i), "y": 0.0} for i in range(8)]
    src = LiteralGeometrySource(pts)
    got = {r["id"]: (r["cluster_id"], r["is_core"])
           for r in ClusterDBSCAN(src, eps=1.1, min_points=2)
           .plan(spark).collect()}
    assert all(v == (0, True) for v in got.values()), got


def test_cluster_dbscan_driver_matches_machinery(spark):
    """r15 optimization pin: the bounded driver mirror (the default
    path for small point sets) is exactly identical to the
    distributed grid-join/star machinery (the request key
    driver_threshold=0 forces
    it) on fixtures covering blobs, borders with tie-breaks, chains,
    noise and min_points=1 singletons."""
    from dask_geomodeling_spark.geometry.spatial_join import (
        ClusterDBSCAN)
    blobs = ([{"id": 1, "x": 0.0, "y": 0.0},
              {"id": 2, "x": 1.0, "y": 0.0},
              {"id": 3, "x": 0.0, "y": 1.0},
              {"id": 6, "x": 1.0, "y": 1.0},
              {"id": 4, "x": 2.2, "y": 0.0},
              {"id": 5, "x": 3.4, "y": 0.0},
              {"id": 7, "x": 2.2, "y": 2.0},   # border tie distance
              {"id": 20, "x": 5.0, "y": 5.0}]
             + [{"id": 10 + i, "x": 10.0 + (i % 2), "y": 10.0 + i // 2}
                for i in range(4)])
    chain = [{"id": i, "x": float(i), "y": 0.0} for i in range(8)]
    cases = [(blobs, dict(eps=1.5, min_points=4)),
             (blobs, dict(eps=1.5, min_points=1)),
             (chain, dict(eps=1.1, min_points=2)),
             (chain, dict(eps=0.9, min_points=2))]
    for pts, kw in cases:
        blk = ClusterDBSCAN(LiteralGeometrySource(pts), **kw)
        fast_df = blk.plan(spark)
        slow_df = blk.plan(spark, driver_threshold=0)
        fast = sorted(tuple(r) for r in fast_df.collect())
        slow = sorted(tuple(r) for r in slow_df.collect())
        assert fast == slow, (kw, fast, slow)
        assert fast_df.schema == slow_df.schema, kw


def test_geodesic_area_and_length(spark):
    """Round 12: GeodesicArea/GeodesicLength — spherical measures of
    lon/lat geometry.  A 1x1-degree equatorial quad's area is
    R^2 * rad(1) * sin(rad(1)) (~12364 km^2); holes subtract through
    the winding contract; a 90-degree equatorial path is a quarter
    meridian... equator arc = R * pi/2."""
    import math

    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.geom_operations import (
        EARTH_RADIUS_M, GeodesicArea, GeodesicLength)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    R = EARTH_RADIUS_M
    S = "array<array<array<double>>>"
    outer = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]
    hole = [[0.2, 0.2], [0.2, 0.4], [0.4, 0.4], [0.4, 0.2]]  # CW
    df = spark.createDataFrame(
        [(1, [outer]), (2, [outer, hole])], "fid bigint, rings " + S)
    src = DataFrameSource(df, index_column="fid")
    got = {r["fid"]: r["a"] for r in
           src.set("a", GeodesicArea(src)).plan(spark)
           .select("fid", "a").collect()}
    want_outer = R * R * math.radians(1.0) * math.sin(math.radians(1))
    assert abs(got[1] - want_outer) < 1e-3
    want_hole = R * R * math.radians(0.2) * (
        math.sin(math.radians(0.4)) - math.sin(math.radians(0.2)))
    assert abs(got[2] - (want_outer - want_hole)) < 1e-3
    # path length: 90 degrees along the equator = R * pi/2
    dfp = spark.createDataFrame(
        [(1, [[0.0, 0.0], [90.0, 0.0]])],
        "fid bigint, path array<array<double>>")
    srcp = DataFrameSource(dfp, index_column="fid")
    lng = srcp.set("l", GeodesicLength(srcp)).plan(spark) \
        .collect()[0]["l"]
    assert abs(lng - R * math.pi / 2) < 1e-3


def test_geodesic_area_antimeridian_guard(spark):
    """Round-13 verdict #5: a ring with any edge spanning |dlon| >
    180 degrees (an antimeridian fold) yields NULL area instead of a
    silently wrong value; GeodesicLength stays finite because
    haversine is fold-immune (measures the short arc either way)."""
    import math

    from dask_geomodeling_spark.geometry.geom_operations import (
        EARTH_RADIUS_M, GeodesicArea, GeodesicLength)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    S = "array<array<array<double>>>"
    crossing = [[179.0, 0.0], [-179.0, 0.0], [-179.0, 1.0],
                [179.0, 1.0]]
    safe = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]
    df = spark.createDataFrame(
        [(1, [crossing]), (2, [safe])], "fid bigint, rings " + S)
    src = DataFrameSource(df, index_column="fid")
    got = {r["fid"]: r["a"] for r in
           src.set("a", GeodesicArea(src)).plan(spark)
           .select("fid", "a").collect()}
    assert got[1] is None
    assert got[2] is not None and got[2] > 0
    # length: the 179 -> -179 edge measures the 2-degree short arc
    dfp = spark.createDataFrame(
        [(1, [[179.0, 0.0], [-179.0, 0.0]])],
        "fid bigint, path array<array<double>>")
    srcp = DataFrameSource(dfp, index_column="fid")
    lng = srcp.set("l", GeodesicLength(srcp)).plan(spark) \
        .collect()[0]["l"]
    assert abs(lng - EARTH_RADIUS_M * math.radians(2.0)) < 1e-3
