"""Polygon boolean kernel (geometry/polyclip.py) + the blocks wired to
it: exact Difference ring path, polygon-request Intersection, Dissolve
union='exact'.  Reference parity target: shapely set ops
(reference geometry/set_operations.py:12,70-78)."""

import datetime
import math
import random
import struct

from dask_geomodeling_spark.geometry.polyclip import (
    polygon_boolean, polygon_difference, polygon_intersection,
    polygon_symmetric_difference, polygon_union, polygon_union_all,
    rings_signed_area)


def rect(x1, y1, x2, y2):
    return [[[x1, y1], [x2, y1], [x2, y2], [x1, y2]]]


def area(rings):
    return rings_signed_area(rings)


def pip(x, y, poly):
    inside = False
    for ring in poly:
        n = len(ring)
        for i in range(n):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % n]
            if (y1 > y) != (y2 > y):
                xi = x1 + (y - y1) / (y2 - y1) * (x2 - x1)
                if x < xi:
                    inside = not inside
    return inside


def test_overlapping_squares_all_ops():
    a, b = rect(0, 0, 2, 2), rect(1, 1, 3, 3)
    assert abs(area(polygon_intersection(a, b)) - 1.0) < 1e-9
    assert abs(area(polygon_union(a, b)) - 7.0) < 1e-9
    assert abs(area(polygon_difference(a, b)) - 3.0) < 1e-9
    assert abs(area(polygon_symmetric_difference(a, b)) - 6.0) < 1e-9


def test_hole_punch_orientation():
    """b inside a: difference emits outer CCW + hole CW — the
    orientation-normalized rings contract."""
    d = polygon_difference(rect(0, 0, 4, 4), rect(1, 1, 2, 2))
    assert len(d) == 2
    per = sorted(rings_signed_area([r]) for r in d)
    assert abs(per[0] + 1.0) < 1e-9   # hole, CW
    assert abs(per[1] - 16.0) < 1e-9  # outer, CCW
    assert abs(area(d) - 15.0) < 1e-9


def test_shared_edge_and_identical():
    a, b = rect(0, 0, 1, 1), rect(1, 0, 2, 1)
    u = polygon_union(a, b)
    assert len(u) == 1 and abs(area(u) - 2.0) < 1e-9
    assert area(polygon_intersection(a, b)) == 0.0
    s = rect(0, 0, 3, 3)
    assert abs(area(polygon_intersection(s, s)) - 9.0) < 1e-9
    assert area(polygon_difference(s, s)) == 0.0


def test_hole_input_and_multipolygon():
    a = [[[0, 0], [4, 0], [4, 4], [0, 4]],
         [[1, 1], [1, 3], [3, 3], [3, 1]]]  # square with 2x2 hole
    band = rect(0, 1.5, 4, 2.5)
    assert abs(area(polygon_intersection(a, band)) - 2.0) < 1e-9
    assert abs(area(polygon_difference(a, band)) - 10.0) < 1e-9
    multi = rect(0, 0, 1, 2) + rect(3, 0, 4, 2)
    b = rect(0, 0, 4, 1)
    assert abs(area(polygon_intersection(multi, b)) - 2.0) < 1e-9


def test_symmetric_difference_pinch_stays_simple():
    """The two lobes meet at pinch points; the sharpest-left-turn
    stitch must emit two simple rings, not a figure-eight (whose
    shoelace would cancel)."""
    sd = polygon_symmetric_difference(rect(0, 0, 2, 2), rect(1, 1, 3, 3))
    per = [rings_signed_area([r]) for r in sd]
    assert all(p > 0 for p in per)
    assert abs(sum(per) - 6.0) < 1e-9


def test_union_all_chain():
    polys = [rect(0, 0, 2, 2), rect(1, 1, 3, 3), rect(2, 0, 4, 2)]
    assert abs(area(polygon_union_all(polys)) - 10.0) < 1e-9
    assert abs(area(polygon_union_all([rect(0, 0, 1, 1)] * 3)) - 1.0) \
        < 1e-9


def test_empty_inputs():
    assert polygon_intersection([], rect(0, 0, 1, 1)) == []
    assert area(polygon_difference(rect(0, 0, 1, 1), [])) == 1.0
    assert area(polygon_union([], rect(0, 0, 1, 1))) == 1.0


def test_randomized_pointwise_agreement():
    """Result membership equals the boolean of input memberships at
    random probe points (off-boundary), for random star polygons."""
    rng = random.Random(11)

    def rand_poly(k):
        import math
        cx, cy = rng.uniform(0, 10), rng.uniform(0, 10)
        angs = sorted(rng.uniform(0, 2 * math.pi) for _ in range(k))
        return [[[cx + rng.uniform(0.5, 4) * math.cos(t),
                  cy + rng.uniform(0.5, 4) * math.sin(t)]
                 for t in angs]]

    for _ in range(12):
        pa, pb = rand_poly(rng.randint(3, 8)), rand_poly(rng.randint(3, 8))
        for fn, keep in [
                (polygon_intersection, lambda f: f[0] and f[1]),
                (polygon_union, lambda f: f[0] or f[1]),
                (polygon_difference, lambda f: f[0] and not f[1])]:
            res = fn(pa, pb)
            bad = 0
            for _ in range(200):
                x, y = rng.uniform(-5, 15), rng.uniform(-5, 15)
                if pip(x, y, res) != keep((pip(x, y, pa),
                                           pip(x, y, pb))):
                    bad += 1
            assert bad <= 2  # boundary-graze flukes only


def test_difference_block_ring_path(spark):
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.geom_operations import (
        rings_area_expr)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.geometry.set_operations import Difference
    left = spark.createDataFrame(
        [(1, [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]]]),
         (4, [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]]),
         (5, [[[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0]]])],
        "fid bigint, rings array<array<array<double>>>")
    other = spark.createDataFrame(
        [(1, [[[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0]]]),
         (5, [[[0.0, 0.0], [9.0, 0.0], [9.0, 9.0], [0.0, 9.0]]])],
        "fid bigint, rings array<array<array<double>>>")
    d = Difference(DataFrameSource(left, index_column="fid"),
                   DataFrameSource(other, index_column="fid"))
    got = {r["fid"]: r["area"] for r in d.plan(spark).withColumn(
        "area", F.round(rings_area_expr("rings"), 6)).collect()}
    assert got == {1: 3.0, 4: 1.0, 5: None}


def test_difference_block_box_left_engages(spark):
    """A bbox-only left side synthesizes its boundary ring and gets
    the exact (non-box) difference; unmatched rows keep their bbox."""
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.geom_operations import (
        rings_area_expr)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.geometry.set_operations import Difference
    bl = spark.createDataFrame(
        [(1, 0.0, 0.0, 2.0, 2.0), (2, 5.0, 5.0, 6.0, 6.0)],
        "fid bigint, xmin double, ymin double, xmax double, ymax double")
    tri = spark.createDataFrame(
        [(1, [[[0.0, 0.0], [2.0, 0.0], [0.0, 2.0]]])],
        "fid bigint, rings array<array<array<double>>>")
    d = Difference(DataFrameSource(bl, index_column="fid"),
                   DataFrameSource(tri, index_column="fid"))
    o = {r["fid"]: r for r in d.plan(spark).withColumn(
        "area", F.round(rings_area_expr("rings"), 6)).collect()}
    assert o[1]["area"] == 2.0
    assert o[2]["area"] is None and o[2]["xmin"] == 5.0


def test_intersection_polygon_request(spark):
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.geom_operations import (
        rings_area_expr)
    from dask_geomodeling_spark.geometry.set_operations import (
        Intersection)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    src = spark.createDataFrame(
        [(1, [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]]]),
         (2, [[[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0]]])],
        "fid bigint, rings array<array<array<double>>>")
    blk = Intersection(DataFrameSource(src, index_column="fid"))
    out = blk.plan(spark, geometry="POLYGON ((0 0, 4 0, 0 4, 0 0))")
    got = {r["fid"]: r["area"] for r in out.withColumn(
        "area", F.round(rings_area_expr("rings"), 6)).collect()}
    assert got == {1: 4.0, 2: 2.0}


def test_dissolve_exact_union(spark):
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.dissolve import Dissolve
    from dask_geomodeling_spark.geometry.geom_operations import (
        rings_area_expr)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    mem = spark.createDataFrame(
        [(1, "a", [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]]]),
         (2, "a", [[[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0]]]),
         (3, "b", [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]])],
        "fid bigint, grp string, rings array<array<array<double>>>")
    dis = Dissolve(DataFrameSource(mem, index_column="fid"), "grp",
                   union="exact")
    o = {r["grp"]: r for r in dis.plan(spark).withColumn(
        "area", F.round(rings_area_expr("rings"), 6)).collect()}
    assert o["a"]["area"] == 7.0 and o["a"]["n_parts"] == 2
    assert o["b"]["area"] == 1.0


def test_buffer_rings_kernel_reflex_and_hole():
    """Exact capsule-union buffer: L-shape (reflex corner — the case
    the closed-form convex fan cannot do): area = A + r*Perim +
    0.5*#convex_quarter_diamonds - r^2*#reflex = 3 + 8 + 2.5 - 1.
    Rect-with-hole: hole shrinks by r exactly."""
    from dask_geomodeling_spark.geometry.constructive import (
        _buffer_rings_kernel)
    from dask_geomodeling_spark.geometry.polyclip import (
        rings_signed_area)
    L = [[[0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2]]]
    out = _buffer_rings_kernel(L, 1.0, 4)
    assert len(out) == 1
    assert abs(rings_signed_area(out) - 12.5) < 1e-6
    holed = [[[0, 0], [8, 0], [8, 8], [0, 8]],
             [[2, 2], [2, 6], [6, 6], [6, 2]]]
    out2 = _buffer_rings_kernel(holed, 1.0, 4)
    # outer: 64 + 2*1*(8+8)... wait signed: outer area 64 grows to
    # 64 + 32 + 2; hole 16 shrinks to 2x2=4 -> net 98 - 4
    assert len(out2) == 2
    assert abs(rings_signed_area(out2) - (64 + 32 + 2 - 4)) < 1e-6


def test_buffer_block_rings_path(spark):
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.constructive import Buffer
    from dask_geomodeling_spark.geometry.geom_operations import (
        rings_area_expr)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame(
        [(1, 0.0, 0.0, 2.0, 2.0,
          [[[0.0, 0.0], [2.0, 0.0], [2.0, 1.0], [1.0, 1.0],
            [1.0, 2.0], [0.0, 2.0]]])],
        "fid bigint, xmin double, ymin double, xmax double, "
        "ymax double, rings array<array<array<double>>>")
    buf = Buffer(DataFrameSource(df, index_column="fid"),
                 1.0, resolution=1, shape="round")
    row = buf.plan(spark).withColumn(
        "area", F.round(rings_area_expr("rings"), 6)).first()
    assert row["area"] == 12.5
    assert row["xmin"] == -1.0 and row["ymax"] == 3.0


def test_overlay_intersection_and_erase(spark):
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.geom_operations import (
        rings_area_expr)
    from dask_geomodeling_spark.geometry.overlay import Overlay
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    S = "array<array<array<double>>>"
    L = spark.createDataFrame(
        [(1, [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]]),
         (2, [[[10.0, 10.0], [11.0, 10.0], [11.0, 11.0],
               [10.0, 11.0]]])],
        "fid bigint, rings " + S)
    R = spark.createDataFrame(
        [(100, [[[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0]]]),
         (101, [[[3.0, 3.0], [5.0, 3.0], [5.0, 5.0], [3.0, 5.0]]]),
         (102, [[[20.0, 20.0], [21.0, 20.0], [21.0, 21.0],
                 [20.0, 21.0]]])],
        "gid bigint, rings " + S)
    ov = Overlay(DataFrameSource(L, index_column="fid"),
                 DataFrameSource(R, index_column="gid"), cell_size=4.0)
    got = {(r["fid"], r["gid"]): r["area"]
           for r in ov.plan(spark).withColumn(
               "area", F.round(rings_area_expr("rings"), 6)).collect()}
    assert got == {(1, 100): 1.0, (1, 101): 1.0}
    er = Overlay(DataFrameSource(L, index_column="fid"),
                 DataFrameSource(R, index_column="gid"),
                 cell_size=4.0, how="difference")
    got = {r["fid"]: r["area"] for r in er.plan(spark).withColumn(
        "area", F.round(rings_area_expr("rings"), 6)).collect()}
    # 16 minus the hole (1) and the corner overlap (1); row 2 untouched
    assert got == {1: 14.0, 2: 1.0}


def test_linestring_path_support(spark):
    """LINESTRING (round 8): WKT parse -> path column, open-chain
    Length, exact capsule-union Buffer (corner case hand-derived:
    strip 8 + end half-diamonds 1+1 + corner quarter 0.5 - inner
    overlap 1 = 9.5), LINESTRING WKT egress round-trip."""
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.constructive import (
        Buffer, _buffer_path_kernel)
    from dask_geomodeling_spark.geometry.geom_operations import Length
    from dask_geomodeling_spark.geometry.polyclip import (
        rings_signed_area)
    from dask_geomodeling_spark.geometry.sources import (
        DataFrameSource, parse_point_or_box_wkt)
    from dask_geomodeling_spark.geometry.wkb import EncodeWKT
    f = parse_point_or_box_wkt("LINESTRING (0 0, 2 0, 2 2)")
    assert f["path"] == [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0]]
    assert (f["xmin"], f["ymax"]) == (0.0, 2.0)
    out = _buffer_path_kernel(f["path"], 1.0, 4)
    assert abs(rings_signed_area(out) - 9.5) < 1e-9
    df = spark.createDataFrame(
        [(1, f["path"], f["xmin"], f["ymin"], f["xmax"], f["ymax"])],
        "fid bigint, path array<array<double>>, xmin double, "
        "ymin double, xmax double, ymax double")
    src = DataFrameSource(df, index_column="fid")
    buf = Buffer(EncodeWKT(src), 1.0, resolution=1, shape="round")
    view = buf.set("length", Length(buf))
    row = view.plan(spark).first()
    assert row["length"] == 4.0
    assert row["wkt"] == "LINESTRING (0.0 0.0, 2.0 0.0, 2.0 2.0)"
    assert abs(sum(
        rings_signed_area([r]) for r in row["rings"]) - 9.5) < 1e-6
    back = parse_point_or_box_wkt(row["wkt"])
    assert back["path"] == f["path"]


def test_simplify_dp_on_paths(spark):
    """Simplify('dp') on open polylines: near-collinear interior
    vertices drop, endpoints always survive."""
    from dask_geomodeling_spark.geometry.constructive import Simplify
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame(
        [(1, [[0.0, 0.0], [1.0, 0.001], [2.0, 0.0], [2.0, 5.0]]),
         (2, [[0.0, 0.0], [1.0, 3.0], [2.0, 0.0]])],
        "fid bigint, path array<array<double>>")
    out = {r["fid"]: r["path"] for r in Simplify(
        DataFrameSource(df, index_column="fid"), tolerance=0.1,
        algorithm="dp").plan(spark).collect()}
    assert out[1] == [[0.0, 0.0], [2.0, 0.0], [2.0, 5.0]]
    assert out[2] == [[0.0, 0.0], [1.0, 3.0], [2.0, 0.0]]


def test_overlay_union_and_symdiff(spark):
    """Overlay union/symmetric_difference (round 8): planar
    decomposition under the synthesized 'oid' index — pair piece
    (hole overlap 1x1), both residuals, untouched features pass
    through on their own side; symdiff drops the pair pieces."""
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.geom_operations import (
        rings_area_expr)
    from dask_geomodeling_spark.geometry.overlay import Overlay
    from dask_geomodeling_spark.geometry.sources import DataFrameSource

    def sq(x, y, s):
        return [[[x, y], [x + s, y], [x + s, y + s], [x, y + s]]]
    L = spark.createDataFrame(
        [(1, sq(0.0, 0.0, 2.0)), (2, sq(10.0, 10.0, 2.0))],
        "lid bigint, rings array<array<array<double>>>")
    R = spark.createDataFrame(
        [(7, sq(1.0, 1.0, 2.0)), (8, sq(50.0, 50.0, 2.0))],
        "rid bigint, rings array<array<array<double>>>")
    ov = Overlay(DataFrameSource(L, index_column="lid"),
                 DataFrameSource(R, index_column="rid"),
                 cell_size=4.0, how="union")
    assert ov.index_column == "oid"
    rows = (ov.plan(spark)
            .withColumn("area", F.round(rings_area_expr("rings"), 6))
            .select("oid", "lid", "rid", "area").collect())
    got = {r["oid"]: (r["lid"], r["rid"], r["area"]) for r in rows}
    assert got == {
        "B:1:7": (1, 7, 1.0), "L:1": (1, None, 3.0),
        "L:2": (2, None, 4.0), "R:7": (None, 7, 3.0),
        "R:8": (None, 8, 4.0)}
    sd = Overlay(DataFrameSource(L, index_column="lid"),
                 DataFrameSource(R, index_column="rid"),
                 cell_size=4.0, how="symmetric_difference")
    got = {r["oid"]: r["area"] for r in sd.plan(spark).withColumn(
        "area", F.round(rings_area_expr("rings"), 6)).collect()}
    assert got == {"L:1": 3.0, "L:2": 4.0, "R:7": 3.0, "R:8": 4.0}
    idt = Overlay(DataFrameSource(L, index_column="lid"),
                  DataFrameSource(R, index_column="rid"),
                  cell_size=4.0, how="identity")
    got = {r["oid"]: r["area"] for r in idt.plan(spark).withColumn(
        "area", F.round(rings_area_expr("rings"), 6)).collect()}
    assert got == {"B:1:7": 1.0, "L:1": 3.0, "L:2": 4.0}


def test_path_boolean_kernel():
    """Open-chain clip/erase kernel: crossings split at exact
    parameters, boundary-riding pieces clip IN and erase OUT,
    corner touches vanish, holes erase their span, chains stitch
    across segment boundaries."""
    from dask_geomodeling_spark.geometry.polyclip import path_boolean
    sq = [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]]
    sq2 = [[[6.0, 0.0], [8.0, 0.0], [8.0, 4.0], [6.0, 4.0]]]
    assert path_boolean([[-2.0, 2.0], [6.0, 2.0]], [sq], True) == \
        [[[0.0, 2.0], [4.0, 2.0]]]
    assert path_boolean([[-2.0, 2.0], [6.0, 2.0]], [sq], False) == \
        [[[-2.0, 2.0], [0.0, 2.0]], [[4.0, 2.0], [6.0, 2.0]]]
    # boundary-riding piece is IN the closed region
    assert path_boolean([[0.0, -1.0], [0.0, 2.0]], [sq], True) == \
        [[[0.0, 0.0], [0.0, 2.0]]]
    # corner point touch: no zero-length piece
    assert path_boolean([[-1.0, -1.0], [0.0, 0.0]], [sq], True) == []
    # n-ary erase against two squares
    assert path_boolean([[-1.0, 2.0], [9.0, 2.0]], [sq, sq2],
                        False) == [
        [[-1.0, 2.0], [0.0, 2.0]], [[4.0, 2.0], [6.0, 2.0]],
        [[8.0, 2.0], [9.0, 2.0]]]
    # stitching: enter, bend twice inside, exit -> ONE chain
    assert path_boolean(
        [[-1.0, 1.0], [2.0, 1.0], [2.0, 3.0], [5.0, 3.0]],
        [sq], True) == [
        [[0.0, 1.0], [2.0, 1.0], [2.0, 3.0], [4.0, 3.0]]]
    # hole: the inner ring's span erases under clip
    hole = [[[0.0, 0.0], [8.0, 0.0], [8.0, 8.0], [0.0, 8.0]],
            [[3.0, 3.0], [5.0, 3.0], [5.0, 5.0], [3.0, 5.0]]]
    assert path_boolean([[-1.0, 4.0], [9.0, 4.0]], [hole], True) == \
        [[[0.0, 4.0], [3.0, 4.0]], [[5.0, 4.0], [8.0, 4.0]]]


def test_overlay_path_clip_and_erase(spark):
    """Overlay over a polyline left layer: per-pair clip pieces and
    n-ary erase pieces with passthrough for untouched lines."""
    from dask_geomodeling_spark.geometry.overlay import Overlay
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    L = spark.createDataFrame(
        [(1, [[-2.0, 2.0], [6.0, 2.0]]),
         (2, [[10.0, 10.0], [12.0, 10.0]])],
        "lid bigint, path array<array<double>>")
    R = spark.createDataFrame(
        [(7, [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]])],
        "rid bigint, rings array<array<array<double>>>")
    clip = Overlay(DataFrameSource(L, index_column="lid"),
                   DataFrameSource(R, index_column="rid"),
                   cell_size=4.0, how="intersection")
    rows = clip.plan(spark).collect()
    assert [(r["lid"], r["rid"], r["piece"], r["path"])
            for r in rows] == [(1, 7, 0, [[0.0, 2.0], [4.0, 2.0]])]
    erase = Overlay(DataFrameSource(L, index_column="lid"),
                    DataFrameSource(R, index_column="rid"),
                    cell_size=4.0, how="difference")
    got = {(r["lid"], r["piece"]): r["path"]
           for r in erase.plan(spark).collect()}
    assert got == {
        (1, 0): [[-2.0, 2.0], [0.0, 2.0]],
        (1, 1): [[4.0, 2.0], [6.0, 2.0]],
        (2, 0): [[10.0, 10.0], [12.0, 10.0]]}
    import pytest
    with pytest.raises(ValueError):
        Overlay(DataFrameSource(L, index_column="lid"),
                DataFrameSource(R, index_column="rid"),
                cell_size=4.0, how="union")


def test_path_boolean_partition_property():
    """Clip and erase PARTITION the polyline: for random polylines
    against random rectangle sets, total clip length + total erase
    length equals the path length (and piece midpoints classify
    correctly against the even-odd membership)."""
    import math

    from dask_geomodeling_spark.geometry.polyclip import path_boolean

    def plen(ch):
        return sum(math.hypot(ch[i + 1][0] - ch[i][0],
                              ch[i + 1][1] - ch[i][1])
                   for i in range(len(ch) - 1))

    rng = random.Random(23)
    for _ in range(30):
        path = [[rng.uniform(-2, 12), rng.uniform(-2, 12)]
                for _ in range(rng.randint(2, 6))]
        polys = []
        for _ in range(rng.randint(1, 3)):
            x1, y1 = rng.uniform(0, 8), rng.uniform(0, 8)
            polys.append(rect(x1, y1, x1 + rng.uniform(1, 4),
                              y1 + rng.uniform(1, 4)))
        total = plen(path)
        kept = sum(plen(c) for c in path_boolean(path, polys, True))
        cut = sum(plen(c) for c in path_boolean(path, polys, False))
        assert abs((kept + cut) - total) < 1e-6 * max(total, 1.0)


def test_mbc_and_oriented_envelope(spark):
    """MinimumBoundingCircle (Welzl) and OrientedEnvelope (rotating
    calipers): rectangle -> diametral circle / itself; rotated
    diamond -> edge-flush rectangle beating the bbox; obtuse
    triangle -> diametral 2-point circle; point rows -> r=0."""
    import math

    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.constructive import (
        MinimumBoundingCircle, OrientedEnvelope,
        _oriented_envelope_kernel, _welzl_circle)
    from dask_geomodeling_spark.geometry.geom_operations import (
        rings_area_expr)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    assert _welzl_circle([[[0.0, 0.0], [4.0, 0.0], [4.0, 3.0],
                           [0.0, 3.0]]]) == [2.0, 1.5, 2.5]
    # obtuse triangle: third vertex inside the diametral circle
    assert _welzl_circle([[[0.0, 0.0], [2.0, 0.0], [1.0, 0.5]]]) == \
        [1.0, 0.0, 1.0]
    env = _oriented_envelope_kernel(
        [[[3.0, 0.0], [0.0, 2.0], [-3.0, 0.0], [0.0, -2.0]]])
    area = 0.5 * abs(sum(
        env[0][i][0] * env[0][(i + 1) % 4][1]
        - env[0][(i + 1) % 4][0] * env[0][i][1] for i in range(4)))
    assert abs(area - 4 * 3 * 2 * 9 / 13) < 1e-9  # < bbox's 24
    df = spark.createDataFrame(
        [(1, [[[0.0, 0.0], [4.0, 0.0], [4.0, 3.0], [0.0, 3.0]]])],
        "fid bigint, rings array<array<array<double>>>")
    r = MinimumBoundingCircle(
        DataFrameSource(df, index_column="fid")).plan(spark).first()
    assert (r["center_x"], r["center_y"], r["radius"]) == \
        (2.0, 1.5, 2.5)
    e = (OrientedEnvelope(DataFrameSource(df, index_column="fid"))
         .plan(spark)
         .withColumn("area", F.round(rings_area_expr("rings"), 6))
         .first())
    assert e["area"] == 12.0
    pts = spark.createDataFrame([(1, 3.0, 4.0)],
                                "fid bigint, x double, y double")
    p = MinimumBoundingCircle(
        DataFrameSource(pts, index_column="fid")).plan(spark).first()
    assert (p["center_x"], p["center_y"], p["radius"]) == \
        (3.0, 4.0, 0.0)


def test_subdivide_grid_parts(spark):
    """Subdivide: exact per-cell S-H parts (column-bound clip
    windows), holes honored, zero-area edge-touch slivers dropped,
    parts sum back to the feature area."""
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.geom_operations import (
        rings_area_expr)
    from dask_geomodeling_spark.geometry.parallelize import Subdivide
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame(
        [(1, [[[1.0, 1.0], [7.0, 1.0], [7.0, 7.0], [1.0, 7.0]]]),
         (2, [[[0.0, 0.0], [8.0, 0.0], [8.0, 8.0], [0.0, 8.0]],
              [[2.0, 2.0], [2.0, 6.0], [6.0, 6.0], [6.0, 2.0]]]),
         (3, [[[10.0, 0.0], [12.0, 0.0], [12.0, 2.0], [10.0, 2.0]]])],
        "fid bigint, rings array<array<array<double>>>")
    out = (Subdivide(DataFrameSource(df, index_column="fid"), 4.0)
           .plan(spark)
           .withColumn("area", F.round(rings_area_expr("rings"), 6)))
    rows = sorted((r["fid"], r["cell_x"], r["cell_y"], r["area"])
                  for r in out.collect())
    assert rows == [
        (1, 0, 0, 9.0), (1, 0, 1, 9.0), (1, 1, 0, 9.0),
        (1, 1, 1, 9.0),
        (2, 0, 0, 12.0), (2, 0, 1, 12.0), (2, 1, 0, 12.0),
        (2, 1, 1, 12.0),
        (3, 2, 0, 4.0)]
    # pure column math: no Python map stage in the plan
    simple = out._jdf.queryExecution().simpleString()
    assert "InPandas" not in simple and "PythonUDF" not in simple


def test_overlay_reserved_column_collisions(spark):
    """Left layers carrying the synthesized output names ('piece' for
    polyline modes, 'oid' for planar-decomposition modes) fail FAST
    with a clear error instead of an ambiguous-reference analysis
    failure."""
    import pytest

    from dask_geomodeling_spark.geometry.overlay import Overlay
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    Lp = spark.createDataFrame(
        [(1, [[0.0, 0.0], [1.0, 0.0]], 9)],
        "lid bigint, path array<array<double>>, piece bigint")
    Lr = spark.createDataFrame(
        [(1, [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]], "x")],
        "lid bigint, rings array<array<array<double>>>, oid string")
    R = spark.createDataFrame(
        [(7, [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]])],
        "rid bigint, rings array<array<array<double>>>")
    with pytest.raises(ValueError, match="piece"):
        Overlay(DataFrameSource(Lp, index_column="lid"),
                DataFrameSource(R, index_column="rid"), cell_size=4.0)
    with pytest.raises(ValueError, match="oid"):
        Overlay(DataFrameSource(Lr, index_column="lid"),
                DataFrameSource(R, index_column="rid"),
                cell_size=4.0, how="union")


def test_snap_to_grid_and_explode_parts(spark):
    """SnapToGrid: coordinates quantize, collapsed rings NULL out;
    ExplodeParts: the orientation fold assigns holes to their
    preceding outer; part areas prove the assignment."""
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.constructive import (
        ExplodeParts, SnapToGrid)
    from dask_geomodeling_spark.geometry.geom_operations import (
        rings_area_expr)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    S = "array<array<array<double>>>"
    df = spark.createDataFrame(
        [(1, [[[0.1, 0.1], [3.9, 0.2], [4.1, 3.9], [0.2, 4.2]]]),
         (2, [[[0.1, 0.1], [0.4, 0.1], [0.4, 0.4], [0.1, 0.4]]]),
         (3, None)],
        "fid bigint, rings " + S)
    got = {r["fid"]: r["rings"] for r in SnapToGrid(
        DataFrameSource(df, index_column="fid"), 1.0)
        .plan(spark).collect()}
    assert got[1] == [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0],
                       [0.0, 4.0]]]
    assert got[2] is None and got[3] is None
    df2 = spark.createDataFrame(
        [(1, [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]],
              [[10.0, 0.0], [14.0, 0.0], [14.0, 4.0], [10.0, 4.0]],
              [[11.0, 1.0], [11.0, 3.0], [13.0, 3.0], [13.0, 1.0]]]),
         (2, None)],
        "fid bigint, rings " + S)
    rows = (ExplodeParts(DataFrameSource(df2, index_column="fid"))
            .plan(spark)
            .withColumn("area", F.round(rings_area_expr("rings"), 6))
            .collect())
    got = {(r["fid"], r["part"]): r["area"] for r in rows}
    assert got == {(1, 0): 4.0, (1, 1): 12.0, (2, None): None}


def test_points_along_path(spark):
    """PointsAlongPath: prefix-sum interpolation crosses segment
    corners exactly; degenerate and NULL paths emit nothing."""
    from dask_geomodeling_spark.geometry.constructive import (
        PointsAlongPath)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame(
        [(1, [[0.0, 0.0], [7.0, 0.0], [7.0, 6.0]]),
         (2, [[10.0, 10.0]]), (3, None)],
        "fid bigint, path array<array<double>>")
    rows = sorted(
        ((r["fid"], r["pt_idx"], r["dist"],
          round(r["x"], 6), round(r["y"], 6))
         for r in PointsAlongPath(
             DataFrameSource(df, index_column="fid"), 3.0)
         .plan(spark).collect()))
    assert rows == [
        (1, 0, 0.0, 0.0, 0.0), (1, 1, 3.0, 3.0, 0.0),
        (1, 2, 6.0, 6.0, 0.0), (1, 3, 9.0, 7.0, 2.0),
        (1, 4, 12.0, 7.0, 5.0)]


def test_affine_transform(spark):
    """AffineTransform: rotation preserves area; reflection (det<0)
    reverses rings so the orientation contract holds; bbox columns
    recompute from corner images; bad matrices rejected."""
    import pytest
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.constructive import (
        AffineTransform)
    from dask_geomodeling_spark.geometry.geom_operations import (
        rings_area_expr)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame(
        [(1, [[[0.0, 0.0], [2.0, 0.0], [2.0, 1.0], [0.0, 1.0]]],
          0.0, 0.0, 2.0, 1.0)],
        "fid bigint, rings array<array<array<double>>>, xmin double, "
        "ymin double, xmax double, ymax double")
    rot = AffineTransform(DataFrameSource(df, index_column="fid"),
                          (0.0, -1.0, 1.0, 0.0, 10.0, 0.0))
    r = rot.plan(spark).withColumn(
        "area", F.round(rings_area_expr("rings"), 6)).first()
    assert r["area"] == 2.0
    assert (r["xmin"], r["xmax"], r["ymin"], r["ymax"]) == \
        (9.0, 10.0, 0.0, 2.0)
    refl = AffineTransform(DataFrameSource(df, index_column="fid"),
                           (-1.0, 0.0, 0.0, 1.0, 0.0, 0.0))
    r2 = refl.plan(spark).withColumn(
        "area", F.round(rings_area_expr("rings"), 6)).first()
    assert r2["area"] == 2.0  # orientation preserved via reverse
    with pytest.raises(ValueError):
        AffineTransform(DataFrameSource(df, index_column="fid"),
                        (1.0, 0.0, 0.0))


def test_path_substring(spark):
    """PathSubstring: interpolated endpoints + interior vertices,
    exact-vertex landings dedupe, NULL passthrough, invalid
    fractions rejected."""
    import pytest

    from dask_geomodeling_spark.geometry.constructive import (
        PathSubstring)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame(
        [(1, [[0.0, 0.0], [7.0, 0.0], [7.0, 6.0]]), (3, None)],
        "fid bigint, path array<array<double>>")
    got = {r["fid"]: r["path"] for r in PathSubstring(
        DataFrameSource(df, index_column="fid"), 0.25, 0.75)
        .plan(spark).collect()}
    assert got[1] == [[3.25, 0.0], [7.0, 0.0], [7.0, 2.75]]
    assert got[3] is None
    corner = PathSubstring(
        DataFrameSource(df.where("fid=1"), index_column="fid"),
        7.0 / 13.0, 1.0).plan(spark).first()["path"]
    assert corner == [[7.0, 0.0], [7.0, 6.0]]
    with pytest.raises(ValueError):
        PathSubstring(DataFrameSource(df, index_column="fid"),
                      0.8, 0.2)


def test_simplify_vw(spark):
    """Simplify('vw'): zero-area collinear vertices always drop, a
    bump survives iff its effective area >= tolerance; open paths
    pin endpoints."""
    from dask_geomodeling_spark.geometry.constructive import (
        Simplify, _vw_chain)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource

    def ring(h):
        return [[0.0, 0.0], [2.0, 0.0], [4.0, 0.0], [4.0, 2.0],
                [4.0, 4.0], [2.0, 4.0 + h], [0.0, 4.0], [0.0, 2.0]]
    assert _vw_chain(ring(1.0), 3.0, True) == [
        [0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]
    assert len(_vw_chain(ring(2.0), 3.0, True)) == 5
    assert _vw_chain([[0.0, 0.0], [1.0, 0.05], [2.0, 0.0],
                      [2.0, 5.0]], 0.5, False) == [
        [0.0, 0.0], [2.0, 0.0], [2.0, 5.0]]
    df = spark.createDataFrame(
        [(1, [ring(0.0)]), (2, [ring(2.0)])],
        "fid bigint, rings array<array<array<double>>>")
    got = {r["fid"]: len(r["rings"][0]) for r in Simplify(
        DataFrameSource(df, index_column="fid"), tolerance=3.0,
        algorithm="vw").plan(spark).collect()}
    assert got == {1: 4, 2: 5}


def test_snap_to_grid_consecutive_only_dedupe(spark):
    """Round-9 ADVICE: SnapToGrid collapses only CONSECUTIVE
    duplicates — a closed-loop path keeps its closing revisit of the
    start, a self-touching ring keeps the revisited coordinate, and
    degenerate results NULL out (path < 2 points, vertices ring
    < 3 points or zero area)."""
    from dask_geomodeling_spark.geometry.constructive import SnapToGrid
    from dask_geomodeling_spark.geometry.sources import DataFrameSource

    # closed-loop path: first == last must SURVIVE snapping
    loop = [[0.1, 0.1], [4.1, 0.1], [4.1, 3.9], [0.1, 3.9], [0.1, 0.1]]
    # consecutive run: the two middle points snap to the same cell
    runny = [[0.0, 0.0], [1.9, 0.1], [2.1, -0.1], [5.0, 0.0]]
    # degenerate: both points snap to one cell -> NULL
    dead = [[0.2, 0.2], [-0.2, -0.2]]
    df = spark.createDataFrame(
        [(1, loop), (2, runny), (3, dead)],
        "fid bigint, path array<array<double>>")
    got = {r["fid"]: r["path"] for r in SnapToGrid(
        DataFrameSource(df, index_column="fid"), 1.0)
        .plan(spark).collect()}
    assert got[1] == [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0],
                      [0.0, 4.0], [0.0, 0.0]]
    assert got[2] == [[0.0, 0.0], [2.0, 0.0], [5.0, 0.0]]
    assert got[3] is None

    # self-touching ring (bowtie-ish revisit of a non-adjacent vertex):
    # array_distinct would have dropped the second visit
    touch = [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [2.0, 2.0],
             [0.0, 4.0], [2.0, 2.0]]
    df2 = spark.createDataFrame(
        [(1, [touch])], "fid bigint, rings array<array<array<double>>>")
    rings = SnapToGrid(DataFrameSource(df2, index_column="fid"),
                       1.0).plan(spark).collect()[0]["rings"]
    assert rings == [touch]

    # vertices ring: collapsed-to-degenerate -> NULL (not a 1-2 point
    # stub feeding the area/orientation folds)
    df3 = spark.createDataFrame(
        [(1, [[0.1, 0.1], [0.3, 0.2], [0.2, 0.4]]),
         (2, [[0.1, 0.1], [3.9, 0.1], [3.9, 3.9]])],
        "fid bigint, vertices array<array<double>>")
    got = {r["fid"]: r["vertices"] for r in SnapToGrid(
        DataFrameSource(df3, index_column="fid"), 1.0)
        .plan(spark).collect()}
    assert got[1] is None
    assert got[2] == [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0]]


def test_buffer_round_rejects_nonpositive_distance():
    """Round-9 ADVICE: shape='round' only dilates — distance <= 0 is
    rejected up front instead of silently shrinking the bbox while
    leaving rings unchanged."""
    import pytest

    from dask_geomodeling_spark.geometry.constructive import Buffer
    from dask_geomodeling_spark.geometry.sources import (
        LiteralGeometrySource)
    src = LiteralGeometrySource("POINT (1 1)")
    with pytest.raises(ValueError, match="distance > 0"):
        Buffer(src, -1.0, shape="round")
    with pytest.raises(ValueError, match="distance > 0"):
        Buffer(src, 0.0, shape="round")
    Buffer(src, -1.0, shape="box")  # box erosion still fine


def test_buffer_round_mixed_rings_vertices_rows(spark):
    """Round-9 ADVICE: in a frame carrying BOTH rings and vertices,
    rows with NULL rings but real vertices take the Minkowski vertices
    buffer instead of passing through unbuffered."""
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.constructive import Buffer
    from dask_geomodeling_spark.geometry.geom_operations import (
        rings_area_expr)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    sq = [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]
    df = spark.createDataFrame(
        [(1, [sq], sq, 0.0, 0.0, 4.0, 4.0),
         (2, None, sq, 0.0, 0.0, 4.0, 4.0)],
        "fid bigint, rings array<array<array<double>>>, "
        "vertices array<array<double>>, xmin double, ymin double, "
        "xmax double, ymax double")
    out = Buffer(DataFrameSource(df, index_column="fid"), 1.0,
                 shape="round", resolution=4).plan(spark)
    rows = {r["fid"]: r for r in out.collect()}
    # ring row: kernel capsule union, vertices mirrors rings[0]
    assert rows[1]["rings"] is not None
    assert rows[1]["vertices"] == rows[1]["rings"][0]
    # vertices-only row: promoted into the EXACT kernel (round-9
    # review fix — the convex Minkowski fan would self-intersect on
    # concave rings); rings now carries the true buffered stack and
    # vertices mirrors its exterior
    assert rows[2]["rings"] is not None
    assert rows[2]["vertices"] == rows[2]["rings"][0]
    area2 = out.filter("fid = 2").select(
        F.expr("aggregate(sequence(0, size(vertices) - 1), 0.0D, "
               "(acc, i) -> acc + vertices[i][0] * "
               "vertices[(i + 1) % size(vertices)][1] - "
               "vertices[(i + 1) % size(vertices)][0] * "
               "vertices[i][1]) / 2.0").alias("a")).collect()[0]["a"]
    assert area2 > 16.0 + 4 * 4  # square + edge capsules at least
    # both rows produced the SAME buffer (identical input geometry)
    assert abs(area2 - out.filter("fid = 1").select(
        F.expr("aggregate(sequence(0, size(vertices) - 1), 0.0D, "
               "(acc, i) -> acc + vertices[i][0] * "
               "vertices[(i + 1) % size(vertices)][1] - "
               "vertices[(i + 1) % size(vertices)][0] * "
               "vertices[i][1]) / 2.0").alias("a")
        ).collect()[0]["a"]) < 1e-9


def test_vw_chain_zero_area_closed_drops():
    """Round-9 ADVICE: a closed VW chain that bottoms out collinear
    (zero shoelace area) returns None like _dp_ring, instead of a
    degenerate ring that would read as an outer in orientation
    folds."""
    from dask_geomodeling_spark.geometry.constructive import _vw_chain
    # all collinear: survives as 3 points under the old code
    assert _vw_chain([[0.0, 0.0], [1.0, 0.0], [2.0, 0.0],
                      [3.0, 0.0]], 100.0, closed=True) is None
    # real triangle below threshold: keeps >= 3 but nonzero area
    assert _vw_chain([[0.0, 0.0], [4.0, 0.0], [2.0, 3.0]],
                     100.0, closed=True) is not None
    # open chains unaffected
    assert _vw_chain([[0.0, 0.0], [1.0, 0.0], [2.0, 0.0]],
                     100.0, closed=False) == [[0.0, 0.0], [2.0, 0.0]]


def test_overlay_erase_skew_guard_invariance(spark):
    """Round-9 verdict item: Overlay(max_group_rings=N) subdivides a
    hot left feature (one whose collected right payload exceeds N)
    into grid pieces, erases per piece, and reassembles — the guarded
    result must match whole-feature erase exactly in row set, erased
    area, and point-in-polygon classification on a probe grid."""
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.geom_operations import (
        rings_area_expr)
    from dask_geomodeling_spark.geometry.overlay import Overlay
    from dask_geomodeling_spark.geometry.sources import DataFrameSource

    # left: one 20x20 'continent' + one small cold square off to the
    # side; right: a 5x5 grid of disjoint 2x2 squares punched into the
    # continent (25 rights -> 25 collected ring stacks for lid=1)
    S = "array<array<array<double>>>"
    big = [[[0.0, 0.0], [20.0, 0.0], [20.0, 20.0], [0.0, 20.0]]]
    cold = [[[40.0, 0.0], [42.0, 0.0], [42.0, 2.0], [40.0, 2.0]]]
    L = spark.createDataFrame([(1, big), (2, cold)],
                              "lid bigint, rings " + S)
    rights = [(i * 5 + j,
               [[[1.0 + 4 * i, 1.0 + 4 * j], [3.0 + 4 * i, 1.0 + 4 * j],
                 [3.0 + 4 * i, 3.0 + 4 * j], [1.0 + 4 * i, 3.0 + 4 * j]]])
              for i in range(5) for j in range(5)]
    R = spark.createDataFrame(rights, "rid bigint, rings " + S)
    lsrc = DataFrameSource(L, index_column="lid")
    rsrc = DataFrameSource(R, index_column="rid")

    def run(**kw):
        out = Overlay(lsrc, rsrc, cell_size=6.0, how="difference",
                      **kw).plan(spark)
        return {r["lid"]: r["rings"] for r in out.collect()}

    whole = run()
    guarded = run(max_group_rings=4)   # 25 stacks >> 4 -> lid=1 is hot
    assert sorted(whole) == sorted(guarded) == [1, 2]
    # cold feature: bit-identical (it took the standard path)
    assert guarded[2] == whole[2]
    # hot feature: same erased area (400 - 25*4 = 300) ...
    def area(rings):
        df = spark.createDataFrame([(rings,)], "rings " + S)
        return df.select(
            F.round(rings_area_expr("rings"), 6).alias("a")
        ).collect()[0]["a"]
    assert area(whole[1]) == 300.0
    assert area(guarded[1]) == 300.0
    # ... and identical membership on a probe lattice (offset off the
    # cell seams), even though the ring decomposition differs
    from dask_geomodeling_spark.geometry.geom_operations import (
        point_in_rings_expr)
    probes = [(x + 0.31, y + 0.47) for x in range(-1, 21)
              for y in range(-1, 21)]
    pdf = spark.createDataFrame(probes, "px double, py double")
    def classify(rings):
        df = pdf.withColumn("rings", F.lit(None).cast(S))
        df = pdf.crossJoin(
            spark.createDataFrame([(rings,)], "rings " + S))
        return [r["h"] for r in df.select(
            point_in_rings_expr("px", "py").alias("h"))
            .collect()]
    assert classify(whole[1]) == classify(guarded[1])
    # guard threshold validation
    import pytest
    with pytest.raises(ValueError, match="max_group_rings"):
        Overlay(lsrc, rsrc, cell_size=6.0, how="difference",
                max_group_rings=0)


def test_spatial_join_within_holes_and_paths(spark):
    """Round 9: predicate='within' — exact kernel containment: a
    feature inside a donut's HOLE is not within it, one straddling the
    hole boundary is not within, one in the solid part is; polyline
    lefts work; how='left' null-extends."""
    from dask_geomodeling_spark.geometry.spatial_join import SpatialJoin
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    S = "array<array<array<double>>>"
    donut = [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]],
             [[4.0, 4.0], [4.0, 6.0], [6.0, 6.0], [6.0, 4.0]]]
    R = spark.createDataFrame([(1, donut)], "rid bigint, rings " + S)
    L = spark.createDataFrame(
        [(1, [[[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0]]]),  # solid
         (2, [[[4.5, 4.5], [5.5, 4.5], [5.5, 5.5], [4.5, 5.5]]]),  # hole
         (3, [[[3.0, 3.0], [5.0, 3.0], [5.0, 5.0], [3.0, 5.0]]]),  # straddles
         (4, [[[20.0, 20.0], [21.0, 20.0], [21.0, 21.0],
               [20.0, 21.0]]])],                                    # outside
        "lid bigint, rings " + S)
    sj = SpatialJoin(DataFrameSource(L, index_column="lid"),
                     DataFrameSource(R, index_column="rid"),
                     cell_size=8.0, predicate="within")
    got = sorted(r["lid"] for r in sj.plan(spark).collect())
    assert got == [1]
    out = SpatialJoin(DataFrameSource(L, index_column="lid"),
                      DataFrameSource(R, index_column="rid"),
                      cell_size=8.0, predicate="within",
                      how="left").plan(spark).collect()
    m = {r["lid"]: r["rid"] for r in out}
    assert m == {1: 1, 2: None, 3: None, 4: None}
    # polyline left: a path inside vs one leaving the polygon
    P = spark.createDataFrame(
        [(1, [[1.0, 1.0], [3.0, 1.0], [3.0, 3.0]]),
         (2, [[1.0, 1.0], [12.0, 1.0]])],
        "lid bigint, path array<array<double>>")
    sjp = SpatialJoin(DataFrameSource(P, index_column="lid"),
                      DataFrameSource(R, index_column="rid"),
                      cell_size=8.0, predicate="within")
    assert sorted(r["lid"] for r in sjp.plan(spark).collect()) == [1]


# --------------------------------------------------------------------------
# round 12: validity predicate + even-odd repair
# --------------------------------------------------------------------------

def test_rings_is_valid_cases():
    """The predicate's contract, case by case (polyclip.rings_is_valid
    docstring): per-ring simplicity + arrangement simplicity, with
    cross-ring VERTEX touches allowed and T-touches flagged."""
    from dask_geomodeling_spark.geometry.polyclip import rings_is_valid
    assert rings_is_valid([]) and rings_is_valid(None)
    assert rings_is_valid([[[0.0, 0.0], [4.0, 0.0], [4.0, 3.0],
                            [0.0, 3.0]]])
    # CW winding is NOT invalid (even-odd is orientation-free)
    assert rings_is_valid([[[0.0, 0.0], [0.0, 3.0], [4.0, 3.0],
                            [4.0, 0.0]]])
    # bowtie (edge crossing)
    assert not rings_is_valid([[[0, 0], [2, 2], [2, 0], [0, 2]]])
    # figure-eight (within-ring vertex revisit)
    assert not rings_is_valid(
        [[[0, 0], [1, 1], [2, 0], [2, 2], [1, 1], [0, 2]]])
    # degenerate / zero-area rings
    assert not rings_is_valid([[[0, 0], [1, 1]]])
    assert not rings_is_valid([[[0, 0], [1, 0], [2, 0]]])
    # shell + hole: valid; hole touching shell AT A VERTEX: still valid
    shell = [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]]
    assert rings_is_valid([shell, [[2, 2], [2, 4], [4, 4], [4, 2]]])
    assert rings_is_valid([shell, [[0, 0], [2, 4], [4, 2]]])
    # hole vertex in the INTERIOR of a shell edge (T-touch): flagged
    assert not rings_is_valid([shell, [[5, 0], [7, 4], [3, 4]]])
    # hole crossing the shell
    assert not rings_is_valid([shell, [[8, 8], [12, 8], [12, 12],
                                       [8, 12]]])
    # duplicate ring (edge overlap)
    sq = [[0, 0], [2, 0], [2, 2], [0, 2]]
    assert not rings_is_valid([sq, sq])


def test_make_valid_bowtie_two_triangles():
    """The verdict's closed-form case: the bowtie quad's even-odd
    interior is two triangles of known area; valid input passes
    through UNCHANGED (coordinates, order, winding)."""
    from dask_geomodeling_spark.geometry.polyclip import (
        polygon_make_valid, rings_is_valid, rings_signed_area)
    rep = polygon_make_valid([[[0, 0], [2, 2], [2, 0], [0, 2]]])
    assert len(rep) == 2
    areas = sorted(round(rings_signed_area([r]), 9) for r in rep)
    assert areas == [1.0, 1.0]  # both CCW outers
    assert rings_is_valid(rep)
    tri = [[[0.0, 0.0], [4.0, 0.0], [0.0, 3.0]]]
    assert polygon_make_valid(tri) == tri
    # valid CW input keeps its winding (GEOS no-op contract)
    cw = [[[0.0, 0.0], [0.0, 3.0], [4.0, 3.0], [4.0, 0.0]]]
    assert polygon_make_valid(cw) == cw


def test_make_valid_output_always_valid_and_idempotent():
    """MakeValid's self-consistency contract: the repair is valid
    under rings_is_valid and a fixed point of itself — incl. the
    pinch cases the stitcher traverses as one ring (T-touch, fig-8)
    and overlapping holes whose even-odd parity flips back inside."""
    from dask_geomodeling_spark.geometry.polyclip import (
        polygon_make_valid, rings_is_valid, rings_signed_area)
    shell = [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]]
    cases = {
        "fig8": ([[[0, 0], [1, 1], [2, 0], [2, 2], [1, 1], [0, 2]]],
                 2.0),
        "t_touch": ([shell, [[5, 0], [7, 4], [3, 4]]], 92.0),
        "overlapping_holes": (
            [shell, [[2, 2], [2, 6], [6, 6], [6, 2]],
             [[4, 4], [4, 8], [8, 8], [8, 4]]], 76.0),
        "duplicate_ring": ([[[0, 0], [2, 0], [2, 2], [0, 2]]] * 2,
                           0.0),
    }
    for name, (g, want_area) in cases.items():
        rep = polygon_make_valid(g)
        assert rings_is_valid(rep), name
        assert polygon_make_valid(rep) == rep, name
        assert abs(rings_signed_area(rep) - want_area) < 1e-9, (
            name, rings_signed_area(rep))


def test_is_valid_make_valid_blocks(spark):
    """Block plumbing: IsValid adds the flag (NULL geometry -> NULL;
    point frames short-circuit to true), MakeValid repairs rings and
    tracks the single-ring vertices view."""
    from dask_geomodeling_spark.geometry.constructive import (
        IsValid, MakeValid)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    S = "array<array<array<double>>>"
    df = spark.createDataFrame(
        [(1, [[[0.0, 0.0], [2.0, 2.0], [2.0, 0.0], [0.0, 2.0]]]),
         (2, [[[0.0, 0.0], [4.0, 0.0], [4.0, 3.0], [0.0, 3.0]]]),
         (3, None)],
        "fid bigint, rings " + S)
    src = DataFrameSource(df, index_column="fid")
    got = {r["fid"]: r["valid"]
           for r in IsValid(src).plan(spark).collect()}
    assert got == {1: False, 2: True, 3: None}
    rep = {r["fid"]: r["rings"]
           for r in MakeValid(src).plan(spark).collect()}
    assert len(rep[1]) == 2 and len(rep[2]) == 1 and rep[3] is None
    # vertices-only frame: repair promotes to rings; multi-part
    # repair NULLs the single-ring view, single-part tracks it
    V = "array<array<double>>"
    dfv = spark.createDataFrame(
        [(1, [[0.0, 0.0], [2.0, 2.0], [2.0, 0.0], [0.0, 2.0]]),
         (2, [[0.0, 0.0], [4.0, 0.0], [4.0, 3.0], [0.0, 3.0]])],
        "fid bigint, vertices " + V)
    out = {r["fid"]: r for r in MakeValid(
        DataFrameSource(dfv, index_column="fid"))
        .plan(spark).collect()}
    assert len(out[1]["rings"]) == 2 and out[1]["vertices"] is None
    assert out[2]["vertices"] == out[2]["rings"][0]
    # point frame: IsValid is a pure literal (no Python stage)
    dfp = spark.createDataFrame([(1, 0.5, 0.5)],
                                "fid bigint, x double, y double")
    rows = IsValid(DataFrameSource(dfp, index_column="fid")) \
        .plan(spark).collect()
    assert rows[0]["valid"] is True


def test_make_valid_partial_edge_overlap_and_vertex_crossing():
    """Round-12 review + property falsifiers, pinned as explicit
    regressions: (a) a ring sharing a PARTIAL edge with the shell is
    INVALID (the old piece-COUNT check let the +1 split cancel the
    -1 duplicate collapse) and repairs to the even-odd area; (b) an
    edge crossing another ring's VERTEX must snap the split node to
    the vertex's exact coordinates — the quantized crossing point can
    land in the neighboring grid cell, forking the node and silently
    dropping a whole ring from the stitch."""
    from dask_geomodeling_spark.geometry.polyclip import (
        polygon_make_valid, rings_is_valid, rings_signed_area)
    # (a) partial-edge overlap: shell 4x4, triangle reusing half of
    # the shell's bottom edge — even-odd = 16 - 2 = 14
    g = [[[0, 0], [4, 0], [4, 4], [0, 4]], [[0, 0], [2, 0], [2, 2]]]
    assert not rings_is_valid(g)
    rep = polygon_make_valid(g)
    assert abs(rings_signed_area(rep) - 14.0) < 1e-9
    assert rings_is_valid(rep) and polygon_make_valid(rep) == rep
    # (b) hypothesis falsifier: quad whose edge passes exactly
    # through its own vertex (collinear spike) + a disjoint small
    # ring; the repair must keep BOTH regions (area 1.5 + 0.25)
    a = [[1.5, 0.0], [1.5, 0.5], [1.5, 1.0], [2.0, 0.0]]
    b = [[6.5, 0.0], [9.5, 3.0], [5.0, 7.5], [10.0, 2.5]]
    rep = polygon_make_valid([a, b])
    assert abs(rings_signed_area(rep) - 1.75) < 1e-9
    assert rings_is_valid(rep) and polygon_make_valid(rep) == rep
    # (c) second-pass review falsifier: a bowtie SELF-crossing that
    # coincides with ANOTHER ring's vertex — the snap must consult a
    # GLOBAL node registry, not just the crossing pair's endpoints,
    # or the node forks into two grid cells and rings drop
    g = [[[0, 0], [4, 4], [4, 0], [0, 4]],
         [[2, 2], [6, 2], [6, 6], [2, 6]]]
    rep = polygon_make_valid(g)
    assert abs(rings_signed_area(rep) - 20.0) < 1e-6
    assert rings_is_valid(rep) and polygon_make_valid(rep) == rep
    # (d) kernel-hunt falsifier (pre-existing since round 8): a
    # 5-gon whose vertex (4, 2.5) lies exactly ON its own non-adjacent
    # edge — the crossing parameter lands a few q/len beyond [0, 1],
    # so a fixed 1e-12 parameter slack split only ONE side of the
    # node and the repair lost a 1.25-area lobe (1.0 instead of the
    # even-odd 2.25); coordinate-based slack + the 8q snap window fix
    # it
    g = [[[2.0, 3.5], [2.0, 4.5], [6.5, 0.0], [3.0, 4.5], [4.0, 2.5]]]
    rep = polygon_make_valid(g)
    assert abs(rings_signed_area(rep) - 2.25) < 1e-6
    assert rings_is_valid(rep) and polygon_make_valid(rep) == rep


def test_is_valid_null_geometry_on_scalar_frames(spark):
    """Round-13 ADVICE fix: point/box/path frames honor the 'NULL
    geometry -> NULL' contract — the short-circuit literal True only
    covers rows that actually carry geometry."""
    from dask_geomodeling_spark.geometry.constructive import IsValid
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    dfp = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, None, 0.5), (3, None, None)],
        "fid bigint, x double, y double")
    got = {r["fid"]: r["valid"] for r in IsValid(
        DataFrameSource(dfp, index_column="fid")).plan(spark)
        .collect()}
    assert got == {1: True, 2: None, 3: None}
    dfb = spark.createDataFrame(
        [(1, 0.0, 0.0, 1.0, 1.0), (2, 0.0, 0.0, None, 1.0)],
        "fid bigint, xmin double, ymin double, xmax double, "
        "ymax double")
    got = {r["fid"]: r["valid"] for r in IsValid(
        DataFrameSource(dfb, index_column="fid")).plan(spark)
        .collect()}
    assert got == {1: True, 2: None}
    dfl = spark.createDataFrame(
        [(1, [[0.0, 0.0], [1.0, 1.0]]), (2, None)],
        "fid bigint, path array<array<double>>")
    got = {r["fid"]: r["valid"] for r in IsValid(
        DataFrameSource(dfl, index_column="fid")).plan(spark)
        .collect()}
    assert got == {1: True, 2: None}


def _bits(v):
    """``v`` with every double replaced by its IEEE-754 bytes, so NaN,
    -0.0 and the infinities compare exactly."""
    if isinstance(v, list):
        return [_bits(x) for x in v]
    return v if v is None else struct.pack("<d", v)


def test_to_pylist_matches_pyarrow_on_sliced_nested_nulls():
    """The offsets-based list conversion equals ``to_pylist`` bit for
    bit, with NULL at every nesting level and on sliced arrays."""
    import pyarrow as pa

    from dask_geomodeling_spark.geometry.polyclip import _to_pylist
    rows = [None, [], [None, [], [None, [1.0, None]]],
            [[[math.nan, -0.0], [math.inf, 5e-324]]], [[[]]], None,
            [[[2.0, 3.0]], None]]
    arr = pa.array(rows, type=pa.list_(pa.list_(pa.list_(pa.float64()))))
    for lo in range(len(rows)):
        for hi in range(lo, len(rows) + 1):
            part = arr.slice(lo, hi - lo)
            assert _bits(_to_pylist(part)) == _bits(part.to_pylist())


def test_ring_columns_cross_arrow_boundary_as_nested_lists(spark):
    """The ring-map helpers hand the kernel plain nested lists and
    return its result bit-identical; every other column (a second
    nested column, a timestamp, a struct) passes through unchanged
    with its own type.  ``map_rings_unary``/``map_rings_binary`` turn
    an empty result into NULL; ``_map_rings`` keeps it raw (``[]``
    stays ``[]``, a scalar ``False`` stays ``False``); several kernels
    share one pass.  An Overlay plan carries no JSON staging and no
    pandas map, and Simplify maps every geometry column in one pass."""
    from dask_geomodeling_spark.geometry.overlay import Overlay
    from dask_geomodeling_spark.geometry.polyclip import (
        RINGS_TYPE, _map_rings, map_rings_binary, map_rings_unary)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    a = [[[0.0, -0.0], [math.inf, -math.inf], [math.nan, None],
          [5e-324, -1.5]]]
    b = [[[1.0, 2.0]], [], None]
    t = datetime.datetime(2020, 2, 29, 12, 30, 0, 123456)
    rows = [(1, a, b, t, (7, "x")), (2, None, None, None, None),
            (3, [], b, t, (8, None))]
    df = spark.createDataFrame(
        rows, "id bigint, a {0}, b {0}, t timestamp, "
              "s struct<k:int,v:string>".format(RINGS_TYPE))

    def got(out):
        return {r["id"]: {k: _bits(v) if k in ("a", "b") else v
                          for k, v in r.asDict().items()}
                for r in out.collect()}

    want = got(df)
    assert want[1]["a"] == _bits(a) and want[3]["a"] == []
    out = _map_rings(df, {"a": (["a"], lambda g: g, RINGS_TYPE)})
    assert out.schema == df.schema
    assert got(out) == want
    # two kernels in one pass: each reads the input batch
    both = _map_rings(df, {"a": (["b"], lambda g: g, RINGS_TYPE),
                           "b": (["a"], lambda g: g, RINGS_TYPE)})
    assert both.schema == df.schema
    assert both._jdf.queryExecution().optimizedPlan().toString() \
        .count("MapInArrow") == 1
    assert got(both) == {i: {**w, "a": w["b"], "b": w["a"]}
                         for i, w in want.items()}

    out = got(map_rings_unary(df, "a", lambda g: g))
    assert {i: r["a"] for i, r in out.items()} == {
        1: _bits(a), 2: None, 3: None}
    assert {i: r["b"] for i, r in out.items()} == {
        i: w["b"] for i, w in want.items()}

    binary = map_rings_binary(df, "a", "b", lambda x, y: x and y,
                              drop_b=True)
    assert binary.columns == ["id", "a", "t", "s"]
    assert {i: r["a"] for i, r in got(binary).items()} == {
        1: _bits(b), 2: None, 3: None}

    flag = _map_rings(
        df, {"flag": (["a"], lambda g: None if g is None else bool(g),
                      "boolean")}, drop=["a"])
    assert flag.columns == ["id", "b", "t", "s", "flag"]
    assert flag.schema["b"] == df.schema["b"]
    assert {i: r["flag"] for i, r in got(flag).items()} == {
        1: True, 2: None, 3: False}

    sq = [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]]]
    L = spark.createDataFrame([(1, sq)], "lid bigint, rings " + RINGS_TYPE)
    R = spark.createDataFrame([(7, sq)], "rid bigint, rings " + RINGS_TYPE)
    ov = Overlay(DataFrameSource(L, index_column="lid"),
                 DataFrameSource(R, index_column="rid"),
                 cell_size=4.0).plan(spark)
    plan = ov._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInArrow" in plan
    assert "from_json" not in plan
    assert "MapInPandas" not in plan

    # a decoded frame carries vertices, rings and path: Simplify maps
    # all three in one Python pass
    from dask_geomodeling_spark.geometry.constructive import Simplify
    line = [[0.0, 0.0], [1.0, 0.01], [2.0, 0.0]]
    G = spark.createDataFrame(
        [(1, line, sq, line)],
        "gid bigint, vertices array<array<double>>, rings {}, "
        "path array<array<double>>".format(RINGS_TYPE))
    simp = Simplify(DataFrameSource(G, index_column="gid"),
                    tolerance=0.1, algorithm="dp").plan(spark)
    plan = simp._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("MapInArrow") == 1
    got_row = simp.collect()[0]
    assert got_row["path"] == [[0.0, 0.0], [2.0, 0.0]]
    assert got_row["rings"] == sq
