"""WKB geometry columns: GeoParquet-style ingestion and egress.

The reference reads any fiona/OGR container (GeometryFileSource,
geometry/sources.py:18); the cloud-native equivalent ships features as
parquet with a WKB ``binary`` geometry column (the GeoParquet layout).
WKB Point / LineString / Polygon / MultiPolygon (2-D, either byte
order, optional EWKB SRID header) is pure-spec parseable — no GDAL — so the codec here
is plain ``struct`` arithmetic run as an **Arrow-batched mapInPandas**,
the same contract as the multimodal codecs (pipeline/multimodal.py):
Python executes at batch granularity only, never per row via a scalar
UDF, and the exchange rides Arrow both ways.

Scale shape: property/time request filters apply BEFORE the decode on
the raw columnar scan (Catalyst pushes them into parquet; a Python map
operator would fence them off), geometry predicates after.  The decode
itself is embarrassingly parallel — it distributes with the scan
partitions and adds no shuffle.

Decoded geometry lands in the engine's typed columns: ``x``/``y`` for
points (degenerate bbox), ``xmin``/``ymin``/``xmax``/``ymax`` plus the
orientation-normalized flat ``rings`` list (outer CCW, holes CW — the
multi-ring contract of geom_operations) and the compat ``vertices``
exterior ring for polygons.  ``EncodeWKB`` is the exact inverse: ring
orientation signs regroup the flat list into polygons (a positive ring
opens a new polygon, negative rings are its holes).
"""

from __future__ import annotations

import struct

from pyspark.sql import functions as F
from pyspark.sql import types as T

from dask_geomodeling_spark.config import read_parquet
from dask_geomodeling_spark.geometry.base import (BaseSingle,
                                                  GeometryBlock,
                                                  apply_feature_request)
from dask_geomodeling_spark.geometry.sources import (_oriented,
                                                     _ring_signed_area)

__all__ = ["decode_wkb", "encode_wkb", "DecodeWKB", "EncodeWKB",
           "EncodeWKT",
           "WKBGeometrySource"]

_EWKB_SRID = 0x20000000
_GEOM_SCHEMA = [
    ("x", T.DoubleType()), ("y", T.DoubleType()),
    ("xmin", T.DoubleType()), ("ymin", T.DoubleType()),
    ("xmax", T.DoubleType()), ("ymax", T.DoubleType()),
    ("vertices", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ("rings", T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))),
    ("path", T.ArrayType(T.ArrayType(T.DoubleType()))),
]
_GEOM_FIELDS = tuple(n for n, _ in _GEOM_SCHEMA)


def _read_ring(buf, pos, fmt):
    (n,) = struct.unpack_from(fmt + "I", buf, pos)
    pos += 4
    flat = struct.unpack_from(fmt + "{}d".format(2 * n), buf, pos)
    pos += 16 * n
    ring = [[flat[2 * i], flat[2 * i + 1]] for i in range(n)]
    if len(ring) > 1 and ring[0] == ring[-1]:
        ring.pop()
    return ring, pos


def _read_geometry(buf, pos):
    """One geometry record → (kind, payload, next_pos); recurses for
    MultiPolygon members (each carries its own byte-order header)."""
    fmt = "<" if buf[pos] == 1 else ">"
    pos += 1
    (typ,) = struct.unpack_from(fmt + "I", buf, pos)
    pos += 4
    if typ & _EWKB_SRID:
        typ &= ~_EWKB_SRID
        pos += 4  # skip the EWKB SRID word
    if typ == 1:
        x, y = struct.unpack_from(fmt + "2d", buf, pos)
        return "point", (x, y), pos + 16
    if typ == 3:
        (nrings,) = struct.unpack_from(fmt + "I", buf, pos)
        pos += 4
        rings = []
        for _ in range(nrings):
            ring, pos = _read_ring(buf, pos, fmt)
            rings.append(ring)
        return "polygon", rings, pos
    if typ == 2:
        # LINESTRING (round-12 codec-hunt addition): an open point
        # chain, no closure convention — lands in the ``path`` column
        (npts,) = struct.unpack_from(fmt + "I", buf, pos)
        pos += 4
        pts = []
        for _ in range(npts):
            x, y = struct.unpack_from(fmt + "2d", buf, pos)
            pts.append([x, y])
            pos += 16
        if len(pts) < 2:
            raise ValueError("WKB LINESTRING with fewer than 2 points")
        return "linestring", pts, pos
    if typ == 6:
        (npolys,) = struct.unpack_from(fmt + "I", buf, pos)
        pos += 4
        polys = []
        for _ in range(npolys):
            kind, payload, pos = _read_geometry(buf, pos)
            if kind != "polygon":
                raise ValueError("MULTIPOLYGON member of WKB type "
                                 "{!r}".format(kind))
            polys.append(payload)
        return "multipolygon", polys, pos
    raise NotImplementedError(
        "WKB geometry type {} unsupported (Point/LineString/Polygon/"
        "MultiPolygon 2-D only; Z/M and other types need GDAL — "
        "reference geometry/sources.py:18)".format(typ))


def decode_wkb(buf):
    """bytes → typed-field dict (the ``_GEOM_FIELDS`` layout), or None
    for NULL input."""
    if buf is None:
        return None
    kind, payload, _ = _read_geometry(bytes(buf), 0)
    out = dict.fromkeys(_GEOM_FIELDS)
    if kind == "point":
        x, y = payload
        out.update(x=x, y=y, xmin=x, ymin=y, xmax=x, ymax=y)
        return out
    if kind == "linestring":
        out.update(path=payload,
                   xmin=min(p[0] for p in payload),
                   ymin=min(p[1] for p in payload),
                   xmax=max(p[0] for p in payload),
                   ymax=max(p[1] for p in payload))
        return out
    polygons = [payload] if kind == "polygon" else payload
    rings = []
    for poly in polygons:
        rings.append(_oriented(poly[0], ccw=True))
        rings.extend(_oriented(h, ccw=False) for h in poly[1:])
    pts = [p for r in rings for p in r]
    out.update(xmin=min(p[0] for p in pts), ymin=min(p[1] for p in pts),
               xmax=max(p[0] for p in pts), ymax=max(p[1] for p in pts),
               vertices=rings[0], rings=rings)
    return out


def _pack_ring(ring):
    closed = list(ring) + [ring[0]]
    flat = [c for p in closed for c in p]
    return struct.pack("<I", len(closed)) + struct.pack(
        "<{}d".format(len(flat)), *flat)


def _pack_polygon_body(rings):
    return struct.pack("<I", len(rings)) + b"".join(
        _pack_ring(r) for r in rings)


def encode_wkb(fields):
    """Typed-field dict → little-endian WKB bytes.  Precedence mirrors
    the operators (EncodeWKT's order): ``rings`` (sign-regrouped into
    polygons) > ``vertices`` (single-ring polygon) > ``path``
    (LINESTRING, round 12) > point > bbox (box polygon).
    Point outranks bbox (round-11 property-test fix): ``decode_wkb``
    itself emits x/y WITH the derived bbox for a point, so bbox-first
    re-encoded decoded points as degenerate box polygons —
    ``encode ∘ decode`` must be the identity on its own output."""
    rings = fields.get("rings")
    if rings:
        polys, current = [], None
        for ring in rings:
            if _ring_signed_area(ring) >= 0 or current is None:
                current = [ring]
                polys.append(current)
            else:
                current.append(ring)
        if len(polys) == 1:
            return (b"\x01" + struct.pack("<I", 3)
                    + _pack_polygon_body(polys[0]))
        return (b"\x01" + struct.pack("<I", 6)
                + struct.pack("<I", len(polys))
                + b"".join(b"\x01" + struct.pack("<I", 3)
                           + _pack_polygon_body(p) for p in polys))
    verts = fields.get("vertices")
    if verts:
        return b"\x01" + struct.pack("<I", 3) + _pack_polygon_body(
            [list(verts)])
    path = fields.get("path")
    if path and len(path) >= 2:
        # LINESTRING (round-12): open chain, no closure — matches
        # EncodeWKT's rings > vertices > path > point > bbox order.
        # A degenerate < 2-point path falls through to point/bbox
        # (round-13 ADVICE fix: _read_geometry rejects sub-2-point
        # LINESTRINGs, so emitting one broke encode∘decode)
        flat = [c for pnt in path for c in pnt]
        return (b"\x01" + struct.pack("<I", 2)
                + struct.pack("<I", len(path))
                + struct.pack("<{}d".format(len(flat)), *flat))
    # BOTH coordinates must be set (round-11 review): a stray x with a
    # NULL y next to a real bbox must fall through to the box branch —
    # the SQL twin EncodeWKT's concat-NULL/coalesce does exactly that
    if fields.get("x") is not None and fields.get("y") is not None:
        return b"\x01" + struct.pack("<Idd", 1, fields["x"], fields["y"])
    if all(fields.get(k) is not None
           for k in ("xmin", "ymin", "xmax", "ymax")):
        # ALL four corners required (round-11 second-pass review): a
        # partial bbox falls through to None exactly like EncodeWKT's
        # concat-NULL/coalesce, instead of crashing struct.pack
        x1, y1 = fields["xmin"], fields["ymin"]
        x2, y2 = fields["xmax"], fields["ymax"]
        box = [[x1, y1], [x2, y1], [x2, y2], [x1, y2]]
        return b"\x01" + struct.pack("<I", 3) + _pack_polygon_body([box])
    return None


def _tolist(v):
    """Arrow hands list columns to pandas as numpy arrays (and DECIMAL
    literals as decimal.Decimal) — normalize any nesting to plain
    float lists for the struct codec."""
    if v is None:
        return None
    if hasattr(v, "__len__"):
        return [_tolist(e) for e in v]
    return float(v)


def decode_wkb_frame(df, column, drop=True):
    """DataFrame + WKB column → DataFrame with the typed geometry
    columns appended (Arrow-batched mapInPandas; scan-partition
    parallel, no shuffle)."""
    keep = [f for f in df.schema.fields if f.name != column or not drop]
    out_schema = T.StructType(
        [f for f in keep if f.name not in _GEOM_FIELDS]
        + [T.StructField(n, t) for n, t in _GEOM_SCHEMA])
    keep_names = [f.name for f in out_schema.fields
                  if f.name not in _GEOM_FIELDS]

    def fn(batches):
        import pandas as pd
        for pdf in batches:
            decoded = [decode_wkb(b) for b in pdf[column]]
            data = {n: pdf[n] for n in keep_names}
            for name in _GEOM_FIELDS:
                data[name] = pd.Series(
                    [d[name] if d else None for d in decoded],
                    dtype="object", index=pdf.index)
            yield pd.DataFrame(data)

    return df.mapInPandas(fn, out_schema)


def encode_wkb_frame(df, column="wkb"):
    """DataFrame with typed geometry columns → same frame + a WKB
    binary column (Arrow-batched mapInPandas)."""
    present = [c for c in _GEOM_FIELDS if c in df.columns]
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(column, T.BinaryType())])

    def fn(batches):
        import pandas as pd
        for pdf in batches:
            n = len(pdf)
            encoded = []
            for i in range(n):
                fields = {}
                for c in present:
                    v = pdf[c].iloc[i]
                    if c in ("vertices", "rings", "path"):
                        v = _tolist(v)
                    elif v is not None and v != v:  # NaN → NULL
                        v = None
                    fields[c] = v
                encoded.append(encode_wkb(fields))
            pdf = pdf.copy()
            pdf[column] = pd.Series(encoded, dtype="object",
                                    index=pdf.index)
            yield pdf

    return df.mapInPandas(fn, out_schema)


class DecodeWKB(BaseSingle):
    """Decode a WKB binary column into the typed geometry columns
    (replacing any same-named existing ones)."""

    def __init__(self, source, column="geometry", drop=True):
        super().__init__(source, column, bool(drop))

    @property
    def columns(self):
        base = set(self.source.columns) - ({self.args[1]}
                                           if self.args[2] else set())
        return base | set(_GEOM_FIELDS)

    def _build(self, ctx):
        df = self.source._build(ctx)
        return decode_wkb_frame(df, self.args[1], drop=self.args[2])


class EncodeWKB(BaseSingle):
    """Append a WKB binary column built from the typed geometry
    columns — the write-side of GeoParquet-style interchange."""

    def __init__(self, source, column="wkb"):
        super().__init__(source, column)

    @property
    def columns(self):
        return set(self.source.columns) | {self.args[1]}

    def _build(self, ctx):
        df = self.source._build(ctx)
        return encode_wkb_frame(df, self.args[1])


class WKBGeometrySource(GeometryBlock):
    """Read features from parquet whose geometry is a WKB binary
    column (reference: GeometryFileSource via fiona/OGR,
    geometry/sources.py:18 — this is the cloud-native GeoParquet
    equivalent).

    Property/time filters of the request apply to the RAW scan (they
    reach the parquet reader as pushed predicates); the Arrow-batched
    decode then adds the typed geometry columns; geometry/mode/limit
    request handling runs on the decoded frame.
    """

    def __init__(self, url, wkb_column="geometry", id_field="id",
                 time_column=None, projection="EPSG:4326"):
        if not isinstance(url, str):
            raise TypeError("'{}' object is not allowed".format(type(url)))
        super().__init__(url, wkb_column, id_field, time_column,
                         str(projection).upper())

    @property
    def index_column(self):
        return self.args[2]

    @property
    def time_column(self):
        return self.args[3]

    @property
    def projection(self):
        return self.args[4]

    @property
    def columns(self):
        return set()

    def _build(self, ctx):
        url, wkb_column, _, time_column, _ = self.args
        df = read_parquet(ctx.spark, url)
        pre = {k: ctx.request[k] for k in ("filters", "start", "stop")
               if k in ctx.request}
        df = apply_feature_request(df, pre, time_column=time_column)
        df = decode_wkb_frame(df, wkb_column)
        post = {k: v for k, v in ctx.request.items()
                if k not in ("filters", "start", "stop")}
        return apply_feature_request(df, post, time_column=time_column)


class EncodeWKT(BaseSingle):
    """Serialize geometry to a WKT string column — egress interop
    (the reference writes geometry through OGR sinks; WKT is the
    portable text form every geo system reads).  PURE column math
    (round 8): ring stacks fold to MULTIPOLYGON via
    ``geom_operations.rings_wkt_sql`` (the orientation contract does
    the outer/hole grouping, so ``encode(parse(wkt))`` round-trips);
    vertices-only rows wrap their exterior ring; box rows emit the
    CCW boundary POLYGON; point rows emit POINT.  No Python, no
    shuffle."""

    def __init__(self, source, column_name="wkt"):
        super().__init__(source, str(column_name))

    @property
    def columns(self):
        return set(self.source.columns) | {self.args[1]}

    def _build(self, ctx):
        from pyspark.sql import functions as F

        from dask_geomodeling_spark.geometry.geom_operations import (
            rings_wkt_sql)
        df = self.source._build(ctx)
        cols = set(df.columns)
        parts = []
        if "rings" in cols:
            parts.append(F.when(
                F.col("rings").isNotNull(),
                F.expr(rings_wkt_sql("rings"))))
        if "vertices" in cols:
            parts.append(F.when(
                F.col("vertices").isNotNull(),
                F.expr(rings_wkt_sql("array(vertices)"))))
        if "path" in cols:
            # >= 2 points, the encode_wkb rule (round-13 review fix:
            # the repo's own parsers reject a 1-point LINESTRING, so
            # a degenerate path must fall through to point/bbox here
            # too or engine-written WKT could not re-ingest)
            parts.append(F.when(
                F.col("path").isNotNull() & (F.size("path") >= 2),
                F.expr("concat('LINESTRING (', array_join("
                       "transform(path, p -> concat("
                       "CAST(p[0] AS STRING), ' ', "
                       "CAST(p[1] AS STRING))), ', '), ')')")))
        # point OUTRANKS bbox (round-11 property-test fix, the
        # encode_wkb rule): ParseWKT emits x/y WITH the derived bbox
        # for a POINT row, so bbox-first turned encode∘parse∘encode
        # into a degenerate one-point POLYGON instead of a fixpoint
        if {"x", "y"} <= cols:
            parts.append(F.when(
                F.col("x").isNotNull(),
                F.expr("concat('POINT (', CAST(x AS STRING), ' ', "
                       "CAST(y AS STRING), ')')")))
        if {"xmin", "ymin", "xmax", "ymax"} <= cols:
            s = "CAST({} AS STRING)"
            box = ("concat('POLYGON ((', {x1}, ' ', {y1}, ', ', "
                   "{x2}, ' ', {y1}, ', ', {x2}, ' ', {y2}, ', ', "
                   "{x1}, ' ', {y2}, ', ', {x1}, ' ', {y1}, '))')"
                   ).format(x1=s.format("xmin"), y1=s.format("ymin"),
                            x2=s.format("xmax"), y2=s.format("ymax"))
            parts.append(F.when(F.col("xmin").isNotNull(),
                                F.expr(box)))
        if not parts:
            raise ValueError("EncodeWKT needs geometry columns")
        wkt = F.coalesce(*parts) if len(parts) > 1 else parts[0]
        return df.withColumn(self.args[1], wkt)


class ParseWKT(BaseSingle):
    """Decode a WKT STRING COLUMN into the engine's typed geometry
    columns (round 9) — the per-row ingest mirror of
    :class:`EncodeWKT` and the column form of the reference's
    ``GeometryWKTSource`` literal (reference geometry/sources.py:162):
    CSV/TSV interchange files routinely carry geometry as a WKT
    column, and until now only literal WKT could enter the engine.

    Supported per row: ``POINT`` → ``x``/``y``; ``LINESTRING`` →
    ``path``; ``POLYGON``/``MULTIPOLYGON`` → the flat
    orientation-normalized ``rings`` (outers CCW, holes CW, explicit
    closing vertices dropped) plus ``vertices`` = first ring; every
    geometry row gets the bbox columns.  Unparseable/NULL text leaves
    all geometry columns NULL (the tolerant-ingest convention —
    filter ``xmin IS NULL`` for strictness).

    Pure regexp + HOF column math (JVM regex, no Python, map-side):
    coordinate groups come from one ``regexp_extract_all`` per
    nesting level, pairs from ``split``.  Output column collisions
    with existing geometry columns are rejected."""

    def __init__(self, source, column="wkt"):
        clash = ({"x", "y", "path", "rings", "vertices",
                  "xmin", "ymin", "xmax", "ymax"}
                 & set(source.columns))
        if clash:
            raise ValueError(
                "geometry output column(s) {} already exist on the "
                "source; drop or rename them upstream"
                .format(sorted(clash)))
        super().__init__(source, str(column))

    @property
    def columns(self):
        return set(self.source.columns) | {
            "x", "y", "path", "rings", "vertices",
            "xmin", "ymin", "xmax", "ymax"}

    def _build(self, ctx):
        from dask_geomodeling_spark.geometry.geom_operations import (
            _ring_cross_sum_sql)
        df = self.source._build(ctx)
        col = self.args[1]
        if col not in df.columns:
            raise ValueError("no column {!r}".format(col))
        up = "upper(trim(`{c}`))".format(c=col)
        df = df.withColumn("_w", F.expr(up))

        num = r"-?[0-9]+(?:\\.[0-9]+)?(?:[Ee][+-]?[0-9]+)?"
        # POINT (x y)
        pt = ("regexp_extract_all(_w, '({n})', 1)".format(n=num))
        df = df.withColumn("_pt", F.expr(
            "CASE WHEN _w LIKE 'POINT%' THEN "
            "transform({pt}, t -> CAST(t AS DOUBLE)) END"
            .format(pt=pt)))
        # coordinate text -> array<array<double>>
        chain = ("transform(split({t}, ','), p -> "
                 "transform(filter(split(trim(p), '\\\\s+'), "
                 "s -> s != ''), v -> CAST(v AS DOUBLE)))")
        # LINESTRING (x y, x y, ...)
        ls_body = "regexp_extract(_w, 'LINESTRING\\\\s*\\\\(([^)]*)\\\\)', 1)"
        df = df.withColumn("_path", F.expr(
            "CASE WHEN _w LIKE 'LINESTRING%' THEN {chain} END"
            .format(chain=chain.format(t=ls_body))))
        # POLYGON ((..), (..))  /  MULTIPOLYGON (((..)), ((..),(..)))
        # one regexp per nesting level: ring bodies are the innermost
        # parenthesis groups, in document order; polygon GROUPS are
        # the one-level-up spans, whose ring counts give the outer
        # ring positions as a prefix sum — so ONE formulation covers
        # both POLYGON (one group) and MULTIPOLYGON
        ring_bodies = "regexp_extract_all(_w, '\\\\(([^()]*)\\\\)', 1)"
        rings_raw = (
            "transform(transform({rb}, b -> {chain}), rg0 -> "
            "CASE WHEN size(rg0) > 1 "
            "AND rg0[0][0] = rg0[size(rg0) - 1][0] "
            "AND rg0[0][1] = rg0[size(rg0) - 1][1] "
            "THEN slice(rg0, 1, size(rg0) - 1) ELSE rg0 END)"
        ).format(rb=ring_bodies, chain=chain.format(t="b"))
        grp_bodies = ("regexp_extract_all(_w, "
                      "'(\\\\((?:[^()]|\\\\([^()]*\\\\))*\\\\))', 1)")
        # rings per group = '(' count minus the group's own opener
        per_group = ("transform({g}, b -> size(split(b, '\\\\(')) - 2)"
                     .format(g=grp_bodies))
        starts = ("aggregate({pg}, array(CAST(0 AS INT)), "
                  "(acc, n) -> array_append(acc, "
                  "element_at(acc, -1) + CAST(n AS INT)))"
                  .format(pg=per_group))
        norm = ("transform(array({rr}), rr -> transform(rr, (rg, i) -> "
                "CASE WHEN array_contains({starts}, CAST(i AS INT)) = "
                "(({cross}) >= 0) THEN rg ELSE reverse(rg) END))[0]"
                ).format(rr=rings_raw, starts=starts,
                         cross=_ring_cross_sum_sql("rg"))
        df = df.withColumn("_rings", F.expr(
            "CASE WHEN _w LIKE 'POLYGON%' "
            "OR _w LIKE 'MULTIPOLYGON%' THEN {norm} END"
            .format(norm=norm)))
        # the source applied the request BEFORE geometry existed (its
        # frame has no geometry columns) — re-apply so bbox/mode/
        # min_size predicates hit the decoded geometry
        from dask_geomodeling_spark.geometry.base import (
            apply_feature_request)
        return apply_feature_request(self._finish(df), ctx.request)

    @staticmethod
    def _finish(df):
        flat = ("coalesce(flatten(_rings), _path, "
                "CASE WHEN _pt IS NOT NULL THEN array(_pt) END)")
        xs = "transform({f}, c -> c[0])".format(f=flat)
        ys = "transform({f}, c -> c[1])".format(f=flat)
        out = df.withColumns({
            "x": F.expr("_pt[0]"),
            "y": F.expr("_pt[1]"),
            "path": F.col("_path"),
            "rings": F.col("_rings"),
            "vertices": F.expr("try_element_at(_rings, 1)"),
            "xmin": F.expr("array_min({})".format(xs)),
            "ymin": F.expr("array_min({})".format(ys)),
            "xmax": F.expr("array_max({})".format(xs)),
            "ymax": F.expr("array_max({})".format(ys)),
        })
        return out.drop("_w", "_pt", "_path", "_rings")
