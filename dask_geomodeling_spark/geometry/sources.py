"""Feature-plane sources (reference: geometry/sources.py).

``GeometryFileSource`` (sources.py:18) reads geospatial files via GDAL/
fiona; the Spark-first equivalent is a parquet scan — columnar, splittable,
predicate-pushdown-capable.  Request filters become WHERE clauses that
Catalyst pushes into the scan (check ``PushedFilters`` in the plan).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from dask_geomodeling_spark.config import read_parquet
from dask_geomodeling_spark.geometry.base import (GeometryBlock,
                                                  apply_feature_request)

__all__ = ["ParquetGeometrySource", "FileGeometrySource",
           "LiteralGeometrySource", "TableSource", "TableGeometrySource",
           "DataFrameSource", "parse_point_or_box_wkt"]

_POINT_RE = re.compile(r"^\s*POINT\s*\(\s*([-\d.eE+]+)\s+([-\d.eE+]+)\s*\)\s*$")


def _split_top_groups(s):
    """Contents of each top-level ``(...)`` group in ``s`` — the one
    structural primitive WKT nesting needs (rings within polygons
    within multipolygons)."""
    groups, depth, start = [], 0, None
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
            if depth == 1:
                start = i + 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                groups.append(s[start:i])
    if depth != 0:
        raise ValueError("Unbalanced parentheses in WKT")
    return groups


def _parse_ring(text):
    """'x y, x y, …' → [[x, y], …] with the closing vertex dropped."""
    pts = [tuple(float(v) for v in p.split()) for p in text.split(",")]
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    return [[float(px), float(py)] for px, py in pts]


def _ring_signed_area(ring):
    s = 0.0
    for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
        s += x1 * y2 - x2 * y1
    return s / 2.0


def _oriented(ring, ccw):
    """Force counter-clockwise (ccw=True) or clockwise orientation."""
    return (ring if (_ring_signed_area(ring) >= 0) == ccw
            else ring[::-1])


def parse_point_or_box_wkt(wkt):
    """Parse POINT / POLYGON / MULTIPOLYGON WKT into typed geometry
    fields.

    No GDAL/shapely in this environment (reference links GDAL at import,
    __init__.py:1).  Points and axis-aligned boxes map to the engine's
    native typed columns; a GENERAL single-ring polygon additionally
    carries its ring as a ``vertices`` column (``array<array<double>>``,
    closing vertex dropped) — the input of the exact shoelace/ray-cast
    column expressions (geom_operations.point_in_polygon_expr).

    Polygons with interior rings (holes) and MULTIPOLYGONs (reference
    operates on arbitrary GEOS geometry — geom_operations.py:15,
    misc.py:518) additionally carry ``rings``: a FLAT
    orientation-normalized ring list (outer rings counter-clockwise →
    positive shoelace, holes clockwise → negative), so total area is
    one signed fold and even-odd containment iterates all rings
    (geom_operations.rings_area_expr / point_in_rings_expr)."""
    m = _POINT_RE.match(wkt)
    if m:
        return {"x": float(m.group(1)), "y": float(m.group(2))}
    s = wkt.strip()
    u = s.upper()
    if u.startswith("LINESTRING"):
        # open polyline (round 8): carried as a ``path`` column
        # (array<array<double>>, closing vertex NOT dropped — paths
        # may legitimately revisit their start); Length measures it,
        # Buffer(shape='round') produces its exact capsule union,
        # EncodeWKT round-trips it
        groups = _split_top_groups(s[len("LINESTRING"):])
        if len(groups) != 1:
            raise ValueError("Malformed LINESTRING WKT")
        pts = [[float(v) for v in p.split()]
               for p in groups[0].split(",")]
        if len(pts) < 2 or any(len(p) != 2 for p in pts):
            raise ValueError("LINESTRING needs >= 2 x/y points")
        xs, ys = [p[0] for p in pts], [p[1] for p in pts]
        return {"path": pts, "xmin": min(xs), "ymin": min(ys),
                "xmax": max(xs), "ymax": max(ys)}
    if u.startswith("MULTIPOLYGON"):
        outer = _split_top_groups(s[len("MULTIPOLYGON"):])
        if len(outer) != 1:
            raise ValueError("Malformed MULTIPOLYGON WKT")
        polygons = [[_parse_ring(r) for r in _split_top_groups(p)]
                    for p in _split_top_groups(outer[0])]
    elif u.startswith("POLYGON"):
        outer = _split_top_groups(s[len("POLYGON"):])
        if len(outer) != 1:
            raise ValueError("Malformed POLYGON WKT")
        polygons = [[_parse_ring(r) for r in _split_top_groups(outer[0])]]
    else:
        raise ValueError(
            "Only POINT, POLYGON and MULTIPOLYGON WKT are supported")
    if not polygons or not all(p and all(p) for p in polygons):
        raise ValueError("Empty polygon in WKT")
    allpts = [pt for poly in polygons for ring in poly for pt in ring]
    xs = [p[0] for p in allpts]
    ys = [p[1] for p in allpts]
    fields = {"xmin": min(xs), "ymin": min(ys),
              "xmax": max(xs), "ymax": max(ys)}
    if len(polygons) == 1 and len(polygons[0]) == 1:
        pts = [tuple(p) for p in polygons[0][0]]
        # axis-aligned box (the native algebra) keeps bbox-only parity;
        # anything else is a true polygon -> carry the ring
        is_box = len(pts) == 4 and sorted(pts) == sorted(
            [(fields["xmin"], fields["ymin"]),
             (fields["xmin"], fields["ymax"]),
             (fields["xmax"], fields["ymin"]),
             (fields["xmax"], fields["ymax"])])
        if not is_box:
            fields["vertices"] = polygons[0][0]
        return fields
    rings = []
    for poly in polygons:
        rings.append(_oriented(poly[0], ccw=True))
        rings.extend(_oriented(hole, ccw=False) for hole in poly[1:])
    fields["vertices"] = rings[0]
    fields["rings"] = rings
    return fields


class ParquetGeometrySource(GeometryBlock):
    """Read features from parquet (reference: GeometryFileSource,
    geometry/sources.py:18).

    The read goes through :func:`~dask_geomodeling_spark.config.read_parquet`:
    for a local path the file listing and inferred schema of the first
    build are reused by later builds, which launch no Spark job before
    the plan exists, until a file under the path is added, removed or
    rewritten (size or mtime changes); then the path is read anew.
    Other schemes (``hdfs:``, ``s3a:`` …) are read anew on every build.

    Args:
      url: parquet path (file/dir; any Hadoop-compatible FS at scale).
      id_field: index column for cross-lineage alignment (reference uses
        the GDAL feature id; default "id").
      time_column: optional event-time column the request's start/stop
        bind to.  TIMESTAMP/DATE columns compare as UTC instants; a
        STRING column must hold zero-padded UTC ISO text
        ``YYYY-MM-DD[ HH:MM:SS[.ffffff]]`` — 'T' separators, a
        trailing 'Z', bare dates (read as midnight) and short
        fractional parts are normalized before the compare; numeric
        UTC offsets are NOT parsed.
      columns: optional projection (column pruning at the scan).
      projection: CRS the stored geometry columns are in (the
        reference reads it from the file's spatial reference).
      min_partitions: "auto" repartitions the scan up to the session's
        cores when it produces fewer partitions (parquet splits are
        row-group-granular, so a small file otherwise feeds CPU-heavy
        downstream operators single-core); an int sets the floor
        explicitly; None (default) leaves the scan partitioning alone.
        A no-op at cluster scale, where inputs carry many row groups.
    """

    def __init__(self, url, id_field="id", time_column=None, columns=None,
                 projection="EPSG:4326", min_partitions=None):
        if not isinstance(url, str):
            raise TypeError("'{}' object is not allowed".format(type(url)))
        if min_partitions is not None and min_partitions != "auto":
            min_partitions = int(min_partitions)
        super().__init__(url, id_field, time_column, columns,
                         str(projection).upper(), min_partitions)

    @property
    def projection(self):
        return self.args[4]

    @property
    def url(self):
        return self.args[0]

    @property
    def id_field(self):
        return self.args[1]

    @property
    def index_column(self):
        return self.args[1]

    @property
    def time_column(self):
        return self.args[2]

    @property
    def columns(self):
        return set(self.args[3]) if self.args[3] else set()

    def _build(self, ctx):
        df = read_parquet(ctx.spark, self.url)
        if self.args[3]:
            df = df.select(*self.args[3])
        minp = self.args[5]
        if minp is not None:
            from dask_geomodeling_spark.config import (
                ensure_min_partitions)
            df = ensure_min_partitions(
                df, ctx.spark,
                None if minp == "auto" else minp)
        return apply_feature_request(df, ctx.request,
                                     time_column=self.time_column)


class FileGeometrySource(GeometryBlock):
    """Format-aware feature source: parquet | csv | json | geojson
    (reference: GeometryFileSource, geometry/sources.py:18, which reads
    any fiona-supported format — here the cluster-native text/columnar
    trio plus GeoJSON FeatureCollection files, the read side of
    ``GeometryFileSink``).

    CSV/JSON require an explicit DDL ``schema`` string: schema
    inference would add a full extra pass over the data and lets types
    drift between runs — at 100 TB the schema is part of the dataset
    contract, not something to sniff.  CSV expects the header line
    ``GeometryFileSink`` writes.

    ``geojson`` reads FeatureCollection files (the fiona interchange
    format, NOT json-lines) Spark-natively: each file loads as one text
    row (files parallelize across tasks), ``parse_json`` turns it into
    a VARIANT, and the features array explodes into rows — no Python in
    the scan.  ``geojsonseq`` (round 9) reads newline-delimited GeoJSON
    (RFC 8142 / OGR 'GeoJSONSeq', optional RS prefixes stripped): one
    Feature per LINE through the splittable line reader — a single
    multi-TB file fans out across tasks, which wholetext
    FeatureCollections cannot; this is the geo text format that
    actually scales.  ``schema`` describes the ``properties`` members; the
    geometry contributes typed columns ``x``/``y`` (Point coordinates,
    NULL otherwise) and ``xmin``/``ymin``/``xmax``/``ymax`` (the bbox of
    any Polygon/MultiLine ring set, degenerate point bbox for Points) —
    exactly the typed-column geometry model the rest of the plane uses.
    """

    formats = ("parquet", "csv", "json", "geojson", "geojsonseq")

    def __init__(self, url, format="parquet", id_field="id",
                 time_column=None, schema=None, projection="EPSG:4326"):
        if format not in self.formats:
            raise ValueError("Format '{}' is unsupported".format(format))
        if format in ("csv", "json") and not schema:
            raise ValueError("csv/json sources need an explicit "
                             "DDL schema (or schema='infer' for the "
                             "compat/interactive json path)")
        super().__init__(url, format, id_field, time_column, schema,
                         str(projection).upper())

    @property
    def index_column(self):
        return self.args[2]

    @property
    def time_column(self):
        return self.args[3]

    @property
    def projection(self):
        return self.args[5]

    @property
    def columns(self):
        return set()

    @staticmethod
    def infer_geojson_schema(spark, url, sample=100, lines=False):
        """Derive the ``properties`` DDL schema from the VARIANT itself
        (reference reads GeoJSON through fiona, which sniffs property
        types — geometry/sources.py:18): ``schema_of_variant_agg``
        merges the property schemas of a BOUNDED feature sample in one
        tiny job — no full inference pass.  Fractional DECIMALs coerce
        to DOUBLE and integral ones to BIGINT (the fiona float/int
        mapping).  An explicit schema stays the 100 TB contract; this
        is the interactive/compat path."""
        import re
        if lines:
            raw = spark.read.text(url)
            feats = (raw.filter(F.length(F.trim("value")) > 0)
                     .select(F.parse_json(F.expr(
                         "regexp_replace(value, '^\\\\x1e', '')"))
                         .alias("_f")))
        else:
            raw = spark.read.option("wholetext", True).text(url)
            feats = (raw.select(F.parse_json(F.col("value")).alias("_v"))
                     .select(F.explode(F.expr(
                         "variant_get(_v, '$.features', "
                         "'array<variant>')"))
                         .alias("_f")))
        row = (feats.limit(int(sample))
               .select(F.expr("try_variant_get(_f, '$.properties', "
                              "'variant')").alias("_p"))
               .agg(F.expr("schema_of_variant_agg(_p)").alias("s"))
               .first())
        s = row.s if row is not None else None
        if not s or not s.startswith("OBJECT<"):
            raise ValueError(
                "could not infer GeoJSON properties schema from {!r} "
                "(schema_of_variant_agg returned {!r}); pass an "
                "explicit DDL schema".format(url, s))
        inner = "STRUCT<" + s[len("OBJECT<"):]
        inner = re.sub(r"DECIMAL\(\d+,\s*0\)", "BIGINT", inner)
        inner = re.sub(r"DECIMAL\(\d+,\s*\d+\)", "DOUBLE", inner)
        return inner

    @classmethod
    def _geojson_frame(cls, spark, url, schema, lines=False):
        from pyspark.sql import types as T
        if not schema:
            schema = cls.infer_geojson_schema(spark, url, lines=lines)
        fields = T._parse_datatype_string(schema).fields
        if lines:
            # GeoJSONSeq / newline-delimited GeoJSON (RFC 8142): one
            # Feature per text LINE — the line reader splits a single
            # huge file across tasks (wholetext FeatureCollections
            # cannot), which is what makes this the geo text format
            # that scales; no explode, one parse_json per line
            raw = spark.read.text(url)
            feats = (raw.filter(F.length(F.trim("value")) > 0)
                     .select(F.parse_json(F.expr(
                         "regexp_replace(value, '^\\\\x1e', '')"))
                         .alias("_f")))
        else:
            raw = spark.read.option("wholetext", True).text(url)
            feats = (raw.select(F.parse_json(F.col("value")).alias("_v"))
                     .select(F.explode(F.expr(
                         "variant_get(_v, '$.features', "
                         "'array<variant>')"))
                         .alias("_f")))
        props = [
            F.expr("try_variant_get(_f, '$.properties.{}', '{}')".format(
                f.name, f.dataType.simpleString())).alias(f.name)
            for f in fields]
        px = F.expr("try_variant_get(_f, '$.geometry.coordinates[0]', "
                    "'double')")
        py = F.expr("try_variant_get(_f, '$.geometry.coordinates[1]', "
                    "'double')")
        # TRUE ring geometry (round 8): Polygon/MultiPolygon
        # coordinates become the engine's flat orientation-normalized
        # ``rings`` column — GeoJSON's explicit closing vertex drops,
        # the first ring of each polygon forces counter-clockwise and
        # the holes clockwise (files in the wild predate RFC 7946's
        # winding rule), multipolygon parts flatten.  Previously ring
        # geometry degraded to its bbox on read.
        from dask_geomodeling_spark.geometry.geom_operations import (
            _ring_cross_sum_sql)

        def norm(poly):
            drop = ("transform({p}, rg0 -> CASE WHEN size(rg0) > 1 "
                    "AND rg0[0][0] = rg0[size(rg0) - 1][0] "
                    "AND rg0[0][1] = rg0[size(rg0) - 1][1] "
                    "THEN slice(rg0, 1, size(rg0) - 1) "
                    "ELSE rg0 END)").format(p=poly)
            return ("transform({d}, (rg, i) -> CASE WHEN (i = 0) = "
                    "(({c}) >= 0) THEN rg ELSE reverse(rg) END)"
                    ).format(d=drop, c=_ring_cross_sum_sql("rg"))

        r3 = ("try_variant_get(_f, '$.geometry.coordinates', "
              "'array<array<array<double>>>')")
        r4 = ("try_variant_get(_f, '$.geometry.coordinates', "
              "'array<array<array<array<double>>>>')")
        gtype = ("try_variant_get(_f, '$.geometry.type', 'string')")
        rings = F.expr(
            "CASE WHEN {t} = 'Polygon' THEN "
            "transform(array({r3}), p3 -> {n3})[0] "
            "WHEN {t} = 'MultiPolygon' THEN "
            "flatten(transform({r4}, pp -> {n4})) END"
            .format(t=gtype, r3=r3, r4=r4, n3=norm("p3"),
                    n4=norm("pp")))
        legacy = F.expr(r3)
        out = feats.select(*props, px.alias("x"), py.alias("y"),
                           rings.alias("rings"),
                           F.coalesce(
                               F.flatten(rings),
                               F.flatten(legacy)).alias("_flat"))
        xs = F.expr("transform(_flat, c -> c[0])")
        ys = F.expr("transform(_flat, c -> c[1])")
        return out.select(
            *[f.name for f in fields], "x", "y", "rings",
            F.coalesce(F.array_min(xs), F.col("x")).alias("xmin"),
            F.coalesce(F.array_min(ys), F.col("y")).alias("ymin"),
            F.coalesce(F.array_max(xs), F.col("x")).alias("xmax"),
            F.coalesce(F.array_max(ys), F.col("y")).alias("ymax"))

    def _build(self, ctx):
        url, fmt, _, time_column, schema = self.args[:5]
        reader = ctx.spark.read
        if fmt == "parquet":
            df = read_parquet(ctx.spark, url)
        elif fmt == "csv":
            df = reader.schema(schema).option("header", True).csv(url)
        elif fmt == "geojson":
            df = self._geojson_frame(ctx.spark, url, schema)
        elif fmt == "geojsonseq":
            df = self._geojson_frame(ctx.spark, url, schema,
                                     lines=True)
        elif schema == "infer":
            # the fiona-parity sniffing path (compat/interactive):
            # Spark's native json inference pass — an explicit DDL
            # schema stays the 100 TB contract
            df = reader.json(url)
        else:
            df = reader.schema(schema).json(url)
        return apply_feature_request(df, ctx.request,
                                     time_column=time_column)


class TableSource(GeometryBlock):
    """Feature source over a registered Spark table/view — lets any
    DataFrame participate as a GeometryBlock lineage."""

    def __init__(self, table, id_field="id", time_column=None,
                 projection="EPSG:4326"):
        super().__init__(table, id_field, time_column,
                         str(projection).upper())

    @property
    def index_column(self):
        return self.args[1]

    @property
    def projection(self):
        return self.args[3]

    @property
    def columns(self):
        return set()

    def _build(self, ctx):
        df = ctx.spark.table(self.args[0])
        return apply_feature_request(df, ctx.request,
                                     time_column=self.args[2])


class DataFrameSource(GeometryBlock):
    """Wrap an existing Spark DataFrame as a GeometryBlock lineage —
    the escape hatch that lets arbitrary DataFrame pipelines feed block
    views.  Not serializable to a JSON graph (the frame is live state);
    use ParquetGeometrySource/TableSource for persistent views."""

    def __init__(self, df, index_column="id", projection="EPSG:4326"):
        self._df = df
        super().__init__("dataframe-{}".format(id(df)), index_column,
                         str(projection).upper())

    @property
    def index_column(self):
        return self.args[1]

    @property
    def projection(self):
        return self.args[2]

    @property
    def columns(self):
        return set(self._df.columns)

    def _build(self, ctx):
        return apply_feature_request(self._df, ctx.request)


class LiteralGeometrySource(GeometryBlock):
    """Inline features (reference: GeometryWKTSource, geometry/sources.py:162
    — a single WKT geometry with an id).  Accepts a WKT string + id, or a
    list of dict rows."""

    def __init__(self, wkt_or_rows, id=1, projection="EPSG:4326"):
        super().__init__(wkt_or_rows, id, str(projection).upper())

    @property
    def projection(self):
        return self.args[2]

    @property
    def columns(self):
        if isinstance(self.args[0], str):
            return {"id", "x", "y", "xmin", "ymin", "xmax", "ymax"}
        return set(self.args[0][0].keys()) if self.args[0] else set()

    def _build(self, ctx):
        spec = self.args[0]
        if isinstance(spec, str):
            fields = parse_point_or_box_wkt(spec)
            rows = [dict({"id": self.args[1]}, **fields)]
        else:
            rows = [dict(r) for r in spec]
        df = ctx.spark.createDataFrame(rows)
        return apply_feature_request(df, ctx.request)


class TableGeometrySource(GeometryBlock):
    """Features from a saved/registered table or SQL over one — the
    read side of ``GeometryTableSink``: a table bucketed on the index
    column joins other same-spec tables with no Exchange.

    Args:
      sql: table name or full SELECT over registered tables.
      id_field: index column.
      time_column: optional event-time column for start/stop requests
        (string columns follow the zero-padded UTC ISO contract — see
        ``ParquetGeometrySource``).
    """

    def __init__(self, sql, id_field="id", time_column=None,
                 projection="EPSG:4326"):
        if not isinstance(sql, str):
            raise TypeError("'{}' object is not allowed".format(type(sql)))
        super().__init__(sql, id_field, time_column,
                         str(projection).upper())

    @property
    def index_column(self):
        return self.args[1]

    @property
    def projection(self):
        return self.args[3]

    @property
    def columns(self):
        return set()

    def _build(self, ctx):
        sql = self.args[0]
        if not sql.lstrip().lower().startswith(("select", "with")):
            sql = "SELECT * FROM {}".format(sql)
        df = ctx.spark.sql(sql)
        return apply_feature_request(df, ctx.request,
                                     time_column=self.args[2])
