"""ST_* scalar function surface — vectorized pandas UDFs over WKB columns.

Mirrors the reference's Spark SQL module function-for-function
(geomesa-spark-jts udf/GeometricConstructorFunctions.scala, *Accessor*,
*Cast*, *Output*, *Processing*, SpatialRelationFunctions.scala; Python
bindings geomesa_pyspark/scala/functions.py). Names and argument shapes are
kept identical so SQL written for the reference runs unchanged.

Implementation notes:
* Every UDF is an Arrow-batched pandas UDF (no per-row Python UDFs).
* Geometry literals arrive as repeated byte values; a per-batch parse cache
  makes the constant-argument case O(1) parses per batch.
* Point-vs-constant-geometry predicates take a fully vectorized numpy path
  (no per-row geometry objects at all).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, BooleanType, DoubleType, IntegerType,
                               StringType)

from geomesa_spark.functions import geohash
from geomesa_spark.geom import algos, model, wkb, wkt
from geomesa_spark.geom.wkb import wkb_dumps, wkb_loads

_POINT_LEN = 21


def _parse_series(s: pd.Series) -> list:
    """Parse a WKB byte column with per-batch caching of repeated values."""
    cache: dict[bytes, model.Geometry] = {}
    out = []
    for v in s:
        if v is None:
            out.append(None)
            continue
        b = bytes(v)
        g = cache.get(b)
        if g is None:
            g = wkb_loads(b)
            cache[b] = g
        out.append(g)
    return out


def _all_points(s: pd.Series) -> bool:
    return all(v is not None and len(v) == _POINT_LEN and v[1] == 1 for v in s)


def _point_arrays(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    raw = np.frombuffer(b"".join(s), dtype=np.uint8).reshape(len(s), _POINT_LEN)
    x = raw[:, 5:13].copy().view("<f8").ravel()
    y = raw[:, 13:21].copy().view("<f8").ravel()
    return x, y


def _binary_predicate(scalar_fn, points_fn=None):
    """Build a (wkb, wkb) -> bool pandas function with a vectorized
    points-vs-constant fast path."""

    def fn(a: pd.Series, b: pd.Series) -> pd.Series:
        n = len(a)
        if n == 0:
            return pd.Series([], dtype=bool)
        # fast path: left all points, right constant
        if points_fn is not None and _all_points(a) and b.nunique() == 1 and b.iloc[0] is not None:
            geom = wkb_loads(bytes(b.iloc[0]))
            x, y = _point_arrays(a)
            return pd.Series(points_fn(x, y, geom))
        if points_fn is not None and _all_points(b) and a.nunique() == 1 and a.iloc[0] is not None:
            geom = wkb_loads(bytes(a.iloc[0]))
            x, y = _point_arrays(b)
            return pd.Series(points_fn(x, y, geom))
        ga, gb = _parse_series(a), _parse_series(b)
        return pd.Series([bool(scalar_fn(x, y)) if x is not None and y is not None else None
                          for x, y in zip(ga, gb)])

    return fn


# ---------------------------------------------------------------------------
# function bodies (plain pandas functions; registered as pandas UDFs below)
# ---------------------------------------------------------------------------

def _geom_from_wkt(s: pd.Series) -> pd.Series:
    cache: dict[str, bytes] = {}
    out = []
    for v in s:
        if v is None:
            out.append(None)
            continue
        b = cache.get(v)
        if b is None:
            b = wkb_dumps(wkt.wkt_loads(v))
            cache[v] = b
        out.append(b)
    return pd.Series(out)


def _as_text(s: pd.Series) -> pd.Series:
    return pd.Series([wkt.wkt_dumps(g) if g is not None else None for g in _parse_series(s)])


def _make_point(x: pd.Series, y: pd.Series) -> pd.Series:
    return pd.Series(wkb.points_to_wkb(x.to_numpy(np.float64), y.to_numpy(np.float64)))


def _make_bbox(xmin, ymin, xmax, ymax) -> pd.Series:
    out = []
    for a, b, c, d in zip(xmin, ymin, xmax, ymax):
        out.append(wkb_dumps(model.box(a, b, c, d)))
    return pd.Series(out)


def _measure(fn, dtype=np.float64):
    def wrapped(s: pd.Series) -> pd.Series:
        return pd.Series([fn(g) if g is not None else None for g in _parse_series(s)],
                         dtype=dtype)
    return wrapped


def _geom_transform(fn):
    def wrapped(s: pd.Series) -> pd.Series:
        out = []
        for g in _parse_series(s):
            r = fn(g) if g is not None else None
            out.append(wkb_dumps(r) if r is not None else None)
        return pd.Series(out)
    return wrapped


def _boundary(g: model.Geometry):
    if isinstance(g, model.Polygon):
        rings = [model.LineString(r) for r in [g.shell] + g.holes]
        return rings[0] if len(rings) == 1 else model.MultiLineString(rings)
    if isinstance(g, model.LineString):
        if g.is_closed or len(g.coords) == 0:
            return model.MultiPoint([])
        return model.MultiPoint([model.Point(*g.coords[0]), model.Point(*g.coords[-1])])
    return model.GeometryCollection([])


def _dimension(g: model.Geometry) -> int:
    t = g.geom_type
    if "Polygon" in t:
        return 2
    if "LineString" in t:
        return 1
    if t == "GeometryCollection":
        return max((_dimension(c) for c in g.geoms), default=0)
    return 0


def _num_points(g: model.Geometry) -> int:
    return len(g._all_coords())


def _num_geometries(g: model.Geometry) -> int:
    return len(g._components()) if g.geom_type.startswith(("Multi", "Geometry")) else 1


def _geometry_n(s: pd.Series, n: pd.Series) -> pd.Series:
    """ONE-based like the reference (GeometricAccessorFunctions.scala:
    29-31: n in [1, numGeometries], out-of-range -> null)."""
    out = []
    for g, i in zip(_parse_series(s), n):
        if g is None or i is None:
            out.append(None)
            continue
        comps = g._components()
        out.append(wkb_dumps(comps[int(i) - 1])
                   if 0 < int(i) <= len(comps) else None)
    return pd.Series(out)


def _point_n(s: pd.Series, n: pd.Series) -> pd.Series:
    out = []
    for g, i in zip(_parse_series(s), n):
        if g is None or i is None or not isinstance(g, model.LineString):
            out.append(None)
            continue
        k = int(i)
        k = k - 1 if k > 0 else len(g.coords) + k  # 1-based like JTS/postgis
        if 0 <= k < len(g.coords):
            out.append(wkb_dumps(model.Point(*g.coords[k])))
        else:
            out.append(None)
    return pd.Series(out)


def _buffer_point(s: pd.Series, dist_m: pd.Series) -> pd.Series:
    """Geodesic point buffer: 60-vertex polygon at great-circle distance d
    meters (reference: GeometricProcessingFunctions.ST_BufferPoint)."""
    out = []
    n_vert = 60
    az = np.linspace(0, 2 * np.pi, n_vert, endpoint=False)
    for g, d in zip(_parse_series(s), dist_m):
        if g is None or d is None or not isinstance(g, model.Point):
            out.append(None)
            continue
        lat1 = np.radians(g.y)
        lon1 = np.radians(g.x)
        ang = float(d) / algos.EARTH_RADIUS_M
        lat2 = np.arcsin(np.sin(lat1) * np.cos(ang) + np.cos(lat1) * np.sin(ang) * np.cos(az))
        lon2 = lon1 + np.arctan2(np.sin(az) * np.sin(ang) * np.cos(lat1),
                                 np.cos(ang) - np.sin(lat1) * np.sin(lat2))
        ring = np.column_stack([np.degrees(lon2), np.degrees(lat2)])
        out.append(wkb_dumps(model.Polygon(ring)))
    return pd.Series(out)


def _antimeridian_safe(g: model.Geometry):
    """Normalize geometries whose longitudes leak past ±180 by splitting into
    a multipolygon inside the world bounds (reference:
    GeometricProcessingFunctions.ST_antimeridianSafeGeom)."""
    xmin, _, xmax, _ = g.bounds
    if xmin >= -180.0 and xmax <= 180.0:
        return g
    if not isinstance(g, model.Polygon):
        return g
    parts = []
    for lo, hi, shift in [(-540.0, -180.0, 360.0), (-180.0, 180.0, 0.0), (180.0, 540.0, -360.0)]:
        clipped = algos.clip_polygon_convex(g.shell, model.box(lo, -90, hi, 90).shell)
        if len(clipped):
            clipped = clipped.copy()
            clipped[:, 0] += shift
            parts.append(model.Polygon(clipped))
    if not parts:
        return g
    return parts[0] if len(parts) == 1 else model.MultiPolygon(parts)


def _distance_fn(kind: str):
    def fn(a: pd.Series, b: pd.Series) -> pd.Series:
        # points fast path
        if _all_points(a) and _all_points(b):
            ax, ay = _point_arrays(a)
            bx, by = _point_arrays(b)
            if kind == "planar":
                return pd.Series(np.sqrt((ax - bx) ** 2 + (ay - by) ** 2))
            return pd.Series(algos.haversine_m(ax, ay, bx, by))
        ga, gb = _parse_series(a), _parse_series(b)
        vals = []
        for x, y in zip(ga, gb):
            if x is None or y is None:
                vals.append(None)
            elif kind == "planar":
                vals.append(algos.distance(x, y))
            else:
                vals.append(algos.distance_sphere(x, y))
        return pd.Series(vals, dtype=np.float64)
    return fn


def _closest_point(a: pd.Series, b: pd.Series) -> pd.Series:
    """Point on geometry a closest to geometry b (PostGIS/JTS convention)."""
    out = []
    for x, y in zip(_parse_series(a), _parse_series(b)):
        if x is None or y is None:
            out.append(None)
            continue
        if isinstance(x, model.Point):
            out.append(wkb_dumps(x))
            continue
        # candidate anchor points on b: vertices + nearest-on-b from x's vertices
        anchors = [tuple(p) for p in y._all_coords()]
        best = (np.inf, None)
        for px, py in anchors:
            qx, qy = algos._nearest_on(x, px, py)
            d = (qx - px) ** 2 + (qy - py) ** 2
            if d < best[0]:
                best = (d, (qx, qy))
        out.append(wkb_dumps(model.Point(*best[1])) if best[1] else None)
    return pd.Series(out)


def _intersection(a: pd.Series, b: pd.Series) -> pd.Series:
    """Geometry intersection via the difference identity
    a n b = a - (a - b) (geom/relate.intersection): exact across the
    difference machinery's domain — points, lines, convex AND concave
    polygons, holes included (the reference delegates to JTS overlay,
    SpatialRelationFunctions.scala:59)."""
    from geomesa_spark.geom import relate
    out = []
    for x, y in zip(_parse_series(a), _parse_series(b)):
        if x is None or y is None:
            out.append(None)
            continue
        if not algos.intersects(x, y):
            out.append(wkb_dumps(model.GeometryCollection([])))
            continue
        if isinstance(x, model.Point):
            out.append(wkb_dumps(x))
            continue
        if isinstance(y, model.Point):
            out.append(wkb_dumps(y))
            continue
        out.append(wkb_dumps(relate.intersection(x, y)))
    return pd.Series(out)


def _translate(s: pd.Series, dx: pd.Series, dy: pd.Series) -> pd.Series:
    out = []
    for g, ddx, ddy in zip(_parse_series(s), dx, dy):
        if g is None:
            out.append(None)
            continue
        out.append(wkb_dumps(_shift(g, float(ddx), float(ddy))))
    return pd.Series(out)


def _shift(g: model.Geometry, dx: float, dy: float) -> model.Geometry:
    if isinstance(g, model.Point):
        return model.Point(g.x + dx, g.y + dy)
    if isinstance(g, model.LineString):
        return model.LineString(g.coords + [dx, dy])
    if isinstance(g, model.Polygon):
        return model.Polygon(g.shell + [dx, dy], [h + [dx, dy] for h in g.holes])
    if isinstance(g, model.MultiPoint):
        return model.MultiPoint([_shift(p, dx, dy) for p in g.points])
    if isinstance(g, model.MultiLineString):
        return model.MultiLineString([_shift(l, dx, dy) for l in g.lines])
    if isinstance(g, model.MultiPolygon):
        return model.MultiPolygon([_shift(p, dx, dy) for p in g.polygons])
    return model.GeometryCollection([_shift(c, dx, dy) for c in g.geoms])


def _make_valid(g: model.Geometry):
    """ST_MakeValid (GeometricProcessingFunctions.scala:64-67, JTS
    GeometryFixer): the deterministic subset — drop repeated consecutive
    vertices, drop degenerate rings (< 3 distinct points, which collapse
    to nothing per GeometryFixer), orient shells CCW / holes CW, and
    collapse degenerate linestrings to points.  Self-intersection
    node-splitting (the full fixer) is out of scope and documented."""
    from geomesa_spark.geom.algos import _ring_area

    def dedupe(c: np.ndarray) -> np.ndarray:
        if len(c) < 2:
            return c
        keep = np.ones(len(c), dtype=bool)
        keep[1:] = np.any(c[1:] != c[:-1], axis=1)
        return c[keep]

    if isinstance(g, model.Point):
        return g
    if isinstance(g, model.LineString):
        c = dedupe(g.coords)
        if len(c) == 1:
            return model.Point(c[0, 0], c[0, 1])
        return model.LineString(c)
    if isinstance(g, model.Polygon):
        def fix_ring(r, ccw: bool):
            r = dedupe(r[:-1]) if len(r) > 1 else r
            if len(np.unique(r, axis=0)) < 3:
                return None
            ring = np.vstack([r, r[:1]])
            if (_ring_area(ring) > 0) != ccw:
                ring = ring[::-1]
            return ring
        shell = fix_ring(g.shell, ccw=True)
        if shell is None:
            return None
        holes = [h for h in (fix_ring(h, ccw=False) for h in g.holes)
                 if h is not None]
        return model.Polygon(shell, holes)
    if isinstance(g, model.MultiPoint):
        return g
    if isinstance(g, model.MultiLineString):
        return model.MultiLineString(
            [v for v in (_make_valid(l) for l in g.lines)
             if isinstance(v, model.LineString)])
    if isinstance(g, model.MultiPolygon):
        polys = [v for v in (_make_valid(p) for p in g.polygons)
                 if v is not None]
        return model.MultiPolygon(polys) if polys else None
    return model.GeometryCollection(
        [v for v in (_make_valid(c) for c in g.geoms) if v is not None])


def _map_coords(g: model.Geometry, fn) -> model.Geometry:
    """Apply ``fn(x_array, y_array) -> (x', y')`` to every vertex."""
    if isinstance(g, model.Point):
        x, y = fn(np.array([g.x]), np.array([g.y]))
        return model.Point(float(x[0]), float(y[0]))
    if isinstance(g, model.LineString):
        x, y = fn(g.coords[:, 0], g.coords[:, 1])
        return model.LineString(np.column_stack([x, y]))
    if isinstance(g, model.Polygon):
        def ring(r):
            x, y = fn(r[:, 0], r[:, 1])
            return np.column_stack([x, y])
        return model.Polygon(ring(g.shell), [ring(h) for h in g.holes])
    if isinstance(g, model.MultiPoint):
        return model.MultiPoint([_map_coords(p, fn) for p in g.points])
    if isinstance(g, model.MultiLineString):
        return model.MultiLineString([_map_coords(l, fn) for l in g.lines])
    if isinstance(g, model.MultiPolygon):
        return model.MultiPolygon([_map_coords(p, fn) for p in g.polygons])
    return model.GeometryCollection([_map_coords(c, fn) for c in g.geoms])


def _transform(s: pd.Series, src: pd.Series, dst: pd.Series) -> pd.Series:
    """ST_Transform (sql/GeometricDistanceFunctions.scala:31-37): per-row
    CRS codes like the reference ('EPSG:4326'); the per-vertex math is the
    SAME formula code the native reproject() runs, evaluated on numpy
    (functions/crs.transform_points_np)."""
    from geomesa_spark.functions.crs import transform_points_np
    out = [None] * len(s)
    # group rows by (src, dst) so each unique code pair dispatches once
    codes = pd.DataFrame({"f": src.values, "t": dst.values})
    for (fc, tc), idx in codes.groupby(["f", "t"]).groups.items():
        def fn(x, y, _fc=fc, _tc=tc):
            return transform_points_np(x, y, _fc, _tc)
        for i in idx:
            v = s.iloc[i]
            if v is None or fc is None or tc is None:
                continue
            g = wkb_loads(bytes(v))
            out[i] = wkb_dumps(_map_coords(g, fn))
    return pd.Series(out)


def _geojson_coords(g: model.Geometry):
    if isinstance(g, model.Point):
        return [g.x, g.y]
    if isinstance(g, model.LineString):
        return g.coords.tolist()
    if isinstance(g, model.Polygon):
        return [r.tolist() for r in [g.shell] + g.holes]
    if isinstance(g, model.MultiPoint):
        return [[p.x, p.y] for p in g.points]
    if isinstance(g, model.MultiLineString):
        return [l.coords.tolist() for l in g.lines]
    if isinstance(g, model.MultiPolygon):
        return [[r.tolist() for r in [p.shell] + p.holes] for p in g.polygons]
    raise ValueError(g.geom_type)


def _as_geojson(s: pd.Series) -> pd.Series:
    out = []
    for g in _parse_series(s):
        if g is None:
            out.append(None)
        elif isinstance(g, model.GeometryCollection):
            out.append(json.dumps({"type": "GeometryCollection",
                                   "geometries": [json.loads(_as_geojson(pd.Series([wkb_dumps(c)])).iloc[0])
                                                  for c in g.geoms]}))
        else:
            out.append(json.dumps({"type": g.geom_type, "coordinates": _geojson_coords(g)}))
    return pd.Series(out)


def _geom_from_geojson(s: pd.Series) -> pd.Series:
    out = []
    for v in s:
        if v is None:
            out.append(None)
            continue
        out.append(wkb_dumps(_from_geojson_obj(json.loads(v))))
    return pd.Series(out)


def _from_geojson_obj(o: dict) -> model.Geometry:
    t = o["type"]
    c = o.get("coordinates")
    if t == "Point":
        return model.Point(c[0], c[1])
    if t == "LineString":
        return model.LineString(np.array(c))
    if t == "Polygon":
        return model.Polygon(np.array(c[0]), [np.array(r) for r in c[1:]])
    if t == "MultiPoint":
        return model.MultiPoint([model.Point(p[0], p[1]) for p in c])
    if t == "MultiLineString":
        return model.MultiLineString([model.LineString(np.array(l)) for l in c])
    if t == "MultiPolygon":
        return model.MultiPolygon([model.Polygon(np.array(p[0]), [np.array(r) for r in p[1:]]) for p in c])
    if t == "GeometryCollection":
        return model.GeometryCollection([_from_geojson_obj(g) for g in o["geometries"]])
    raise ValueError(t)


def _geohash_encode(s: pd.Series, prec: pd.Series) -> pd.Series:
    out = []
    for g, p in zip(_parse_series(s), prec):
        if g is None or p is None:
            out.append(None)
            continue
        c = g if isinstance(g, model.Point) else g.centroid()
        out.append(geohash.encode(c.x, c.y, int(p)))
    return pd.Series(out)


def _geom_from_geohash(s: pd.Series, prec: pd.Series) -> pd.Series:
    # prec is BITS and may be sub-character (GeoHash(hash, prec) semantics,
    # GeoHashTest.scala:105-119) — bits past it are ignored
    out = []
    for v, p in zip(s, prec):
        if v is None:
            out.append(None)
            continue
        bits = None if p is None or pd.isna(p) else int(p)
        xmin, ymin, xmax, ymax = geohash.decode_bounds(v, bits)
        out.append(wkb_dumps(model.box(xmin, ymin, xmax, ymax)))
    return pd.Series(out)


def _point_from_geohash(s: pd.Series, prec: pd.Series) -> pd.Series:
    out = []
    for v, p in zip(s, prec):
        if v is None:
            out.append(None)
            continue
        bits = None if p is None or pd.isna(p) else int(p)
        x, y = geohash.decode(v, bits)
        out.append(wkb_dumps(model.Point(x, y)))
    return pd.Series(out)


def _as_lat_lon_text(s: pd.Series) -> pd.Series:
    out = []
    for g in _parse_series(s):
        if g is None or not isinstance(g, model.Point):
            out.append(None)
            continue
        ns = "N" if g.y >= 0 else "S"
        ew = "E" if g.x >= 0 else "W"
        out.append(f"{abs(g.y):.6f}{ns} {abs(g.x):.6f}{ew}")
    return pd.Series(out)


def _cast_to(typ: str):
    def fn(s: pd.Series) -> pd.Series:
        out = []
        for g in _parse_series(s):
            if g is None or (typ != "Geometry" and g.geom_type != typ):
                out.append(None)
            else:
                out.append(wkb_dumps(g))
        return pd.Series(out)
    return fn


def _is_valid(g: model.Geometry) -> bool:
    for c in g._components():
        if isinstance(c, model.Polygon):
            for ring in [c.shell] + c.holes:
                if len(ring) < 4:
                    return False
        elif isinstance(c, model.LineString) and 0 < len(c.coords) < 2:
            return False
    return True


def _dwithin(a: pd.Series, b: pd.Series, d: pd.Series) -> pd.Series:
    dist = _distance_fn("planar")(a, b)
    return pd.Series(dist.to_numpy(np.float64) <= np.asarray(d, dtype=np.float64))


def _relate(a: pd.Series, b: pd.Series) -> pd.Series:
    """DE-9IM matrix string (SpatialRelationFunctions.scala:38).

    Vectorized fast path for the hot shape — many points against one
    constant polygon: one ray-cast classifies the whole batch, and the
    matrix is one of three constants by location class."""
    from geomesa_spark.geom import relate as rel
    if (len(a) and _all_points(a) and b.nunique() == 1
            and b.iloc[0] is not None):
        geom = wkb_loads(bytes(b.iloc[0]))
        if isinstance(geom, model.Polygon):
            x, y = _point_arrays(a)
            loc = algos.points_in_polygon(x, y, geom)
            lut = {algos.IN: "0FFFFF212", algos.BOUNDARY: "F0FFFF212",
                   algos.OUT: "FF0FFF212"}
            return pd.Series([lut[int(v)] for v in loc])
    return pd.Series([rel.relate(x, y) if x is not None and y is not None else None
                      for x, y in zip(_parse_series(a), _parse_series(b))])


def _relate_bool(a: pd.Series, b: pd.Series, pat: pd.Series) -> pd.Series:
    """DE-9IM pattern match (SpatialRelationFunctions.scala:39)."""
    from geomesa_spark.geom import relate as rel
    return pd.Series([rel.relate_bool(x, y, p)
                      if x is not None and y is not None and p is not None else None
                      for x, y, p in zip(_parse_series(a), _parse_series(b), pat)])


def _difference(a: pd.Series, b: pd.Series) -> pd.Series:
    """Geometry difference (SpatialRelationFunctions.scala:59); exact for
    point/line minuends and convex polygonal subtrahends (geom/relate.py)."""
    from geomesa_spark.geom import relate as rel
    out = []
    for x, y in zip(_parse_series(a), _parse_series(b)):
        out.append(wkb_dumps(rel.difference(x, y))
                   if x is not None and y is not None else None)
    return pd.Series(out)


def _aggregate_distance_sphere(arr: pd.Series) -> pd.Series:
    """Great-circle distance between the first two geometries of an array —
    the collect_list/window companion (SpatialRelationFunctions.scala:52)."""
    out = []
    for v in arr:
        if v is None or len(v) < 2 or v[0] is None or v[1] is None:
            out.append(None)
            continue
        g0, g1 = wkb_loads(bytes(v[0])), wkb_loads(bytes(v[1]))
        out.append(algos.distance_sphere(g0, g1))
    return pd.Series(out, dtype=np.float64)


def _distance_spheroid(a: pd.Series, b: pd.Series) -> pd.Series:
    """WGS84-ellipsoid geodesic (Vincenty) distance, first-coordinate
    semantics like the reference's GeodeticCalculator path
    (GeometricDistanceFunctions.scala:22-23)."""
    if _all_points(a) and _all_points(b):
        ax, ay = _point_arrays(a)
        bx, by = _point_arrays(b)
        return pd.Series(algos.vincenty_m(ax, ay, bx, by))
    vals = []
    for x, y in zip(_parse_series(a), _parse_series(b)):
        vals.append(None if x is None or y is None
                    else algos.distance_spheroid(x, y))
    return pd.Series(vals, dtype=np.float64)


def _aggregate_distance_spheroid(arr: pd.Series) -> pd.Series:
    """Spheroid companion of _aggregate_distance_sphere
    (GeometricDistanceFunctions.scala:26)."""
    out = []
    for v in arr:
        if v is None or len(v) < 2 or v[0] is None or v[1] is None:
            out.append(None)
            continue
        g0, g1 = wkb_loads(bytes(v[0])), wkb_loads(bytes(v[1]))
        out.append(algos.distance_spheroid(g0, g1))
    return pd.Series(out, dtype=np.float64)


# ---------------------------------------------------------------------------
# registration table
# ---------------------------------------------------------------------------

_B, _S, _D, _I, _BOOL = BinaryType(), StringType(), DoubleType(), IntegerType(), BooleanType()


def _make_line(points: pd.Series) -> pd.Series:
    out = []
    for arr in points:
        if arr is None:
            out.append(None)
            continue
        coords = [wkb_loads(bytes(p))._all_coords()[0] for p in arr]
        out.append(wkb_dumps(model.LineString(np.array(coords))))
    return pd.Series(out)


def _make_polygon(s: pd.Series) -> pd.Series:
    out = []
    for g in _parse_series(s):
        if g is None or not isinstance(g, model.LineString):
            out.append(None)
        else:
            out.append(wkb_dumps(model.Polygon(g.coords)))
    return pd.Series(out)


FUNCTIONS: dict[str, tuple] = {
    # constructors (GeometricConstructorFunctions.scala)
    "st_geomFromWKT": (_geom_from_wkt, _B),
    "st_geomFromText": (_geom_from_wkt, _B),
    "st_pointFromText": (_geom_from_wkt, _B),
    "st_lineFromText": (_geom_from_wkt, _B),
    "st_polygonFromText": (_geom_from_wkt, _B),
    "st_mLineFromText": (_geom_from_wkt, _B),
    "st_mPointFromText": (_geom_from_wkt, _B),
    "st_mPolyFromText": (_geom_from_wkt, _B),
    "st_geomFromGeoJSON": (_geom_from_geojson, _B),
    "st_geomFromWKB": (lambda s: s, _B),
    "st_pointFromWKB": (lambda s: s, _B),
    "st_makePoint": (_make_point, _B),
    "st_point": (_make_point, _B),
    "st_makePointM": (lambda x, y, m: _make_point(x, y), _B),
    "st_makeBBOX": (_make_bbox, _B),
    "st_makeBox2D": (lambda a, b: pd.Series(
        [wkb_dumps(model.box(p.x, p.y, q.x, q.y)) if p is not None and q is not None else None
         for p, q in zip(_parse_series(a), _parse_series(b))]), _B),
    "st_makeLine": (_make_line, _B),
    "st_makePolygon": (_make_polygon, _B),
    "st_polygon": (_make_polygon, _B),
    "st_geomFromGeoHash": (_geom_from_geohash, _B),
    "st_pointFromGeoHash": (_point_from_geohash, _B),
    # accessors (GeometricAccessorFunctions.scala)
    "st_boundary": (_geom_transform(_boundary), _B),
    "st_coordDim": (_measure(lambda g: 2, dtype="Int32"), _I),
    "st_dimension": (_measure(_dimension, dtype="Int32"), _I),
    "st_envelope": (_geom_transform(lambda g: g.envelope()), _B),
    "st_exteriorRing": (_geom_transform(
        lambda g: model.LineString(g.shell) if isinstance(g, model.Polygon) else None), _B),
    "st_geometryN": (_geometry_n, _B),
    "st_geometryType": (_measure(lambda g: g.geom_type, dtype=object), _S),
    # ONE-based like the reference (GeometricAccessorFunctions.scala:33-43)
    "st_interiorRingN": (lambda s, n: pd.Series(
        [wkb_dumps(model.LineString(g.holes[int(i) - 1]))
         if g is not None and isinstance(g, model.Polygon) and i is not None
         and 0 < int(i) <= len(g.holes) else None
         for g, i in zip(_parse_series(s), n)]), _B),
    "st_isClosed": (_measure(lambda g: bool(g.is_closed) if isinstance(g, model.LineString) else True,
                             dtype=object), _BOOL),
    "st_isCollection": (_measure(lambda g: g.geom_type.startswith(("Multi", "Geometry")),
                                 dtype=object), _BOOL),
    "st_isEmpty": (_measure(lambda g: g.is_empty, dtype=object), _BOOL),
    "st_isRing": (_measure(lambda g: bool(g.is_closed) if isinstance(g, model.LineString) else False,
                           dtype=object), _BOOL),
    "st_isSimple": (_measure(lambda g: True, dtype=object), _BOOL),
    "st_isValid": (_measure(_is_valid, dtype=object), _BOOL),
    "st_numGeometries": (_measure(_num_geometries, dtype="Int32"), _I),
    "st_numPoints": (_measure(_num_points, dtype="Int32"), _I),
    "st_pointN": (_point_n, _B),
    "st_x": (_measure(lambda g: g.x if isinstance(g, model.Point) else None), _D),
    "st_y": (_measure(lambda g: g.y if isinstance(g, model.Point) else None), _D),
    # casts (GeometricCastFunctions.scala)
    "st_castToPoint": (_cast_to("Point"), _B),
    "st_castToPolygon": (_cast_to("Polygon"), _B),
    "st_castToLineString": (_cast_to("LineString"), _B),
    "st_castToGeometry": (_cast_to("Geometry"), _B),
    "st_byteArray": (lambda s: pd.Series([v.encode("utf-8") if v is not None else None for v in s]), _B),
    # outputs (GeometricOutputFunctions.scala)
    "st_asBinary": (lambda s: s, _B),
    "st_asText": (_as_text, _S),
    "st_asGeoJSON": (_as_geojson, _S),
    "st_asLatLonText": (_as_lat_lon_text, _S),
    "st_geoHash": (_geohash_encode, _S),
    # processing (GeometricProcessingFunctions.scala)
    "st_bufferPoint": (_buffer_point, _B),
    "st_makeValid": (_geom_transform(_make_valid), _B),
    "st_antimeridianSafeGeom": (_geom_transform(_antimeridian_safe), _B),
    # relations + measures (SpatialRelationFunctions.scala)
    "st_contains": (_binary_predicate(algos.contains, points_fn=None), _BOOL),
    "st_covers": (_binary_predicate(algos.covers, points_fn=None), _BOOL),
    "st_crosses": (_binary_predicate(algos.crosses), _BOOL),
    "st_disjoint": (_binary_predicate(lambda a, b: not algos.intersects(a, b),
                                      points_fn=lambda x, y, g: ~algos.points_intersect(x, y, g)), _BOOL),
    "st_equals": (_binary_predicate(algos.geom_equals), _BOOL),
    "st_intersects": (_binary_predicate(algos.intersects, points_fn=algos.points_intersect), _BOOL),
    "st_overlaps": (_binary_predicate(algos.overlaps), _BOOL),
    "st_touches": (_binary_predicate(algos.touches), _BOOL),
    "st_within": (_binary_predicate(lambda a, b: algos.contains(b, a),
                                    points_fn=lambda x, y, g: np.asarray(
                                        algos.points_in_polygon(x, y, g) == algos.IN)
                                    if isinstance(g, model.Polygon) else algos.points_intersect(x, y, g)), _BOOL),
    "st_dwithin": (_dwithin, _BOOL),
    "st_relate": (_relate, _S),
    "st_relateBool": (_relate_bool, _BOOL),
    "st_area": (_measure(algos.area), _D),
    "st_length": (_measure(algos.length), _D),
    "st_lengthSphere": (_measure(algos.length_sphere_m), _D),
    "st_centroid": (_geom_transform(lambda g: g.centroid()), _B),
    "st_distance": (_distance_fn("planar"), _D),
    "st_distanceSphere": (_distance_fn("sphere"), _D),
    "st_distanceSpheroid": (_distance_spheroid, _D),
    "st_lengthSpheroid": (_measure(algos.length_spheroid_m), _D),
    "st_aggregateDistanceSpheroid": (_aggregate_distance_spheroid, _D),
    "st_closestPoint": (_closest_point, _B),
    "st_intersection": (_intersection, _B),
    "st_difference": (_difference, _B),
    "st_translate": (_translate, _B),
    "st_transform": (_transform, _B),
    "st_aggregateDistanceSphere": (_aggregate_distance_sphere, _D),
}

# registered aliases (the reference registers several functions under two
# names: SpatialRelationFunctions.scala:78 st_idlSafeGeom,
# GeometricConstructorFunctions st_geometryFromText,
# GeometricCastFunctions st_box2DFromGeoHash)
FUNCTIONS["st_geometryFromText"] = FUNCTIONS["st_geomFromWKT"]
FUNCTIONS["st_idlSafeGeom"] = FUNCTIONS["st_antimeridianSafeGeom"]
FUNCTIONS["st_box2DFromGeoHash"] = FUNCTIONS["st_geomFromGeoHash"]


def _convex_hull_geom(pts: np.ndarray):
    """Hull points -> JTS-shaped result: Point / LineString / Polygon."""
    hull = algos.convex_hull_points(pts)
    if len(hull) == 0:
        return None
    if len(hull) == 1:
        return model.Point(hull[0, 0], hull[0, 1])
    if len(hull) == 2:
        return model.LineString(hull)
    return model.Polygon(np.vstack([hull, hull[:1]]))


def _convex_hull_agg_fn(geoms: pd.Series):
    """st_convexhull UDAF (udaf/ConvexHull.scala:16-50): hull of every
    vertex of every geometry in the group.  Grouped-agg pandas UDF — the
    partial/merge fold the reference implements by hand is Spark's
    grouped aggregation here."""
    pts = []
    for v in geoms:
        if v is None:
            continue
        g = wkb_loads(bytes(v))
        for comp in g._components():
            c = comp._all_coords()
            if len(c):
                pts.append(c)
    if not pts:
        return None
    g = _convex_hull_geom(np.vstack(pts))
    return None if g is None else wkb_dumps(g)


def register(spark) -> None:
    """Register every ST_* function for SQL + DataFrame use."""
    import inspect

    for name, (fn, rtype) in FUNCTIONS.items():
        # pandas_udf requires pd.Series type hints on every parameter; the
        # table uses plain functions/lambdas, so annotate them here.
        params = inspect.signature(fn).parameters
        fn.__annotations__ = {p: pd.Series for p in params}
        fn.__annotations__["return"] = pd.Series
        spark.udf.register(name, F.pandas_udf(fn, rtype))

    # st_convexhull is an AGGREGATE (SpatialRelationFunctions.scala:119)
    _convex_hull_agg_fn.__annotations__ = {"geoms": pd.Series,
                                           "return": bytes}
    spark.udf.register("st_convexhull",
                       F.pandas_udf(_convex_hull_agg_fn, "binary"))
