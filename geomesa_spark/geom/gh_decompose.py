"""GeoHash geometry decomposition — GeohashUtils.decomposeGeometry parity.

Re-implements the reference's geohash decomposer
(geomesa-utils/src/main/.../geohash/GeohashUtils.scala:241-409): a geometry
is covered by DISJOINT geohash cells of mixed precision by repeatedly
splitting the candidate with the most area OUTSIDE the target into its
2^inc children, until the cell budget or the max resolution is reached.
This is the planner-side "polygon decomposition" primitive (SURVEY §2 row:
Z3IndexKeySpace.scala:122-126 / QueryProperties.scala:26-27 delegate to
GeohashUtils) — the geohash twin of the Z-space `cells.zn.zranges` BFS.

Bug-for-bug parity notes (all verified against the reference's OWN test
expectations, GeohashUtilsTest.scala `testData` — counts AND first hash):

* children enumerate in BIT-REVERSED block order: child i appends the
  inc-bit block bitreverse(i) (GeohashUtils.getNextChildren places char j
  of i.toBinaryString at bit ``oldPrec + len - 1 - j``) — the order feeds
  the STABLE sort, so ties make it observable;
* the decomposition STOPS ENTIRELY when the worst candidate reaches max
  resolution, even if finer candidates could still split;
* the candidate ordering is ``areaOutside`` DESC then cell area ASC
  (DecompositionCandidate.isLT), stable;
* a line candidate's areaOutside mixes units on purpose:
  ``cellArea * (1 - clippedLength / targetLength)``;
* a point candidate inside a cell counts 0.75 * cellArea outside, so
  smaller cells still win;
* Multi*/GeometryCollection inputs decompose per component (JTS Multi* IS
  a GeometryCollection, so the collection branch catches them first) and
  concatenate with order-preserving dedupe;
* ring areas use JTS's translated shoelace (Area.ofRingSigned: triangles
  fanned from x0) so float ties agree with the reference.

Everything here is driver-side query planning (bounded by cell budget,
never per-row); the emitted cells become prefix predicates / range scans
on a geohash-indexed column via :func:`cover_predicate`.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from geomesa_spark.geom import model
from geomesa_spark.geom.wkt import wkt_loads

# width of the geohash-STRING key a cell='geohash' layout stores
# (functions.cell_functions.geohash_col); cover_predicate matches that width
GEOHASH_KEY_CHARS = 7

_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


# ---------------------------------------------------------------------------
# bit-level geohash cells: (bits, prec) with bit 0 = most significant
# ---------------------------------------------------------------------------

def encode_cell(lon: float, lat: float, prec: int) -> tuple[int, int]:
    lo_x, hi_x, lo_y, hi_y = -180.0, 180.0, -90.0, 90.0
    bits = 0
    for i in range(prec):
        bits <<= 1
        if i % 2 == 0:
            mid = (lo_x + hi_x) / 2
            if lon >= mid:
                bits |= 1
                lo_x = mid
            else:
                hi_x = mid
        else:
            mid = (lo_y + hi_y) / 2
            if lat >= mid:
                bits |= 1
                lo_y = mid
            else:
                hi_y = mid
    return bits, prec


def cell_bounds(bits: int, prec: int) -> tuple[float, float, float, float]:
    lo_x, hi_x, lo_y, hi_y = -180.0, 180.0, -90.0, 90.0
    for i in range(prec):
        b = (bits >> (prec - 1 - i)) & 1
        if i % 2 == 0:
            mid = (lo_x + hi_x) / 2
            if b:
                lo_x = mid
            else:
                hi_x = mid
        else:
            mid = (lo_y + hi_y) / 2
            if b:
                lo_y = mid
            else:
                hi_y = mid
    return lo_x, lo_y, hi_x, hi_y


def cell_hash(bits: int, prec: int) -> str:
    n_chars = (prec + 4) // 5
    padded = bits << (n_chars * 5 - prec)
    return "".join(_BASE32[(padded >> (5 * (n_chars - 1 - i))) & 31]
                   for i in range(n_chars))


def _bitrev(i: int, n: int) -> int:
    out = 0
    for _ in range(n):
        out = (out << 1) | (i & 1)
        i >>= 1
    return out


def cell_children(bits: int, prec: int, inc: int) -> list[tuple[int, int]]:
    """All 2^inc children, in the reference's bit-reversed block order."""
    return [((bits << inc) | _bitrev(i, inc), prec + inc)
            for i in range(1 << inc)]


# ---------------------------------------------------------------------------
# JTS-matching numerics
# ---------------------------------------------------------------------------

def _ring_area_signed(ring) -> float:
    """JTS Area.ofRingSigned: triangles fanned from x0 (translated
    shoelace) — bit-compatible float sums matter for sort ties."""
    n = len(ring)
    if n < 3:
        return 0.0
    x0 = float(ring[0][0])
    total = 0.0
    for i in range(1, n - 1):
        x = float(ring[i][0]) - x0
        y1 = float(ring[i + 1][1])
        y2 = float(ring[i - 1][1])
        total += x * (y2 - y1)
    return total / 2.0


def _clip_ring_rect(ring, xmin, ymin, xmax, ymax) -> list:
    """Sutherland–Hodgman ring clip by an axis-aligned rect (valid for
    non-convex subjects when the clip region is convex; degenerate
    bridge edges cancel in the shoelace sum)."""
    def clip(pts, inside, intersect):
        out = []
        n = len(pts)
        for i in range(n):
            cur, prev = pts[i], pts[i - 1]
            cur_in, prev_in = inside(cur), inside(prev)
            if cur_in:
                if not prev_in:
                    out.append(intersect(prev, cur))
                out.append(cur)
            elif prev_in:
                out.append(intersect(prev, cur))
        return out

    def x_at(p, q, x):
        t = (x - p[0]) / (q[0] - p[0])
        return (x, p[1] + t * (q[1] - p[1]))

    def y_at(p, q, y):
        t = (y - p[1]) / (q[1] - p[1])
        return (p[0] + t * (q[0] - p[0]), y)

    pts = [(float(p[0]), float(p[1])) for p in ring]
    if pts and pts[0] == pts[-1]:
        pts = pts[:-1]
    for inside, inter in (
            (lambda p: p[0] >= xmin, lambda p, q: x_at(p, q, xmin)),
            (lambda p: p[0] <= xmax, lambda p, q: x_at(p, q, xmax)),
            (lambda p: p[1] >= ymin, lambda p, q: y_at(p, q, ymin)),
            (lambda p: p[1] <= ymax, lambda p, q: y_at(p, q, ymax))):
        pts = clip(pts, inside, inter)
        if not pts:
            return []
    return pts + pts[:1]


def _poly_rings(geom):
    """[(ring, is_hole)] over a (Multi)Polygon."""
    polys = geom.polygons if isinstance(geom, model.MultiPolygon) else [geom]
    out = []
    for p in polys:
        out.append((p.shell, False))
        for h in p.holes:
            out.append((h, True))
    return out


def _poly_area(geom) -> float:
    total = 0.0
    for ring, is_hole in _poly_rings(geom):
        a = abs(_ring_area_signed(ring))
        total += -a if is_hole else a
    return total


def _clip_area(geom, bounds) -> float:
    xmin, ymin, xmax, ymax = bounds
    total = 0.0
    for ring, is_hole in _poly_rings(geom):
        clipped = _clip_ring_rect(ring, xmin, ymin, xmax, ymax)
        a = abs(_ring_area_signed(clipped)) if clipped else 0.0
        total += -a if is_hole else a
    return total


def _clip_segment(p, q, bounds):
    """Liang–Barsky, boundary-inclusive; returns (t0, t1) or None."""
    xmin, ymin, xmax, ymax = bounds
    dx, dy = q[0] - p[0], q[1] - p[1]
    t0, t1 = 0.0, 1.0
    for d, lo, hi, o in ((dx, xmin, xmax, p[0]), (dy, ymin, ymax, p[1])):
        if d == 0.0:
            if o < lo or o > hi:
                return None
            continue
        ta, tb = (lo - o) / d, (hi - o) / d
        if ta > tb:
            ta, tb = tb, ta
        t0, t1 = max(t0, ta), min(t1, tb)
        if t0 > t1:
            return None
    return t0, t1


def _lines(geom) -> list:
    return geom.lines if isinstance(geom, model.MultiLineString) else [geom]


def _clip_length(geom, bounds) -> float:
    total = 0.0
    for line in _lines(geom):
        c = line.coords
        for i in range(len(c) - 1):
            p, q = (float(c[i][0]), float(c[i][1])), \
                   (float(c[i + 1][0]), float(c[i + 1][1]))
            t = _clip_segment(p, q, bounds)
            if t is None:
                continue
            t0, t1 = t
            x0, y0 = p[0] + t0 * (q[0] - p[0]), p[1] + t0 * (q[1] - p[1])
            x1, y1 = p[0] + t1 * (q[0] - p[0]), p[1] + t1 * (q[1] - p[1])
            total += math.hypot(x1 - x0, y1 - y0)
    return total


def _line_intersects(geom, bounds) -> bool:
    for line in _lines(geom):
        c = line.coords
        for i in range(len(c) - 1):
            if _clip_segment((float(c[i][0]), float(c[i][1])),
                             (float(c[i + 1][0]), float(c[i + 1][1])),
                             bounds) is not None:
                return True
    return False


def _point_in_poly(x: float, y: float, geom) -> bool:
    """Boundary-inclusive point-in-(Multi)Polygon."""
    def in_ring(ring):
        inside = False
        n = len(ring)
        for i in range(n - 1):
            x1, y1 = float(ring[i][0]), float(ring[i][1])
            x2, y2 = float(ring[i + 1][0]), float(ring[i + 1][1])
            # on-segment check (inclusive boundary)
            cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
            if (cross == 0.0 and min(x1, x2) <= x <= max(x1, x2)
                    and min(y1, y2) <= y <= max(y1, y2)):
                return None   # on boundary
            if (y1 > y) != (y2 > y):
                xi = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
                if x < xi:
                    inside = not inside
        return inside

    for poly in (geom.polygons if isinstance(geom, model.MultiPolygon)
                 else [geom]):
        r = in_ring(poly.shell)
        if r is None:
            return True
        if r:
            for h in poly.holes:
                hr = in_ring(h)
                if hr is None:
                    return True
                if hr:
                    break
            else:
                return True
    return False


def _poly_intersects(geom, bounds) -> bool:
    xmin, ymin, xmax, ymax = bounds
    for ring, _ in _poly_rings(geom):
        c = ring
        for i in range(len(c) - 1):
            if _clip_segment((float(c[i][0]), float(c[i][1])),
                             (float(c[i + 1][0]), float(c[i + 1][1])),
                             bounds) is not None:
                return True
    # rect fully inside (or fully inside a hole -> False)
    return _point_in_poly(xmin, ymin, geom)


# ---------------------------------------------------------------------------
# centroid (JTS Centroid semantics: areal fan from the first shell point;
# lineal length-weighted midpoints)
# ---------------------------------------------------------------------------

def _centroid(geom) -> tuple[float, float]:
    if isinstance(geom, model.Point):
        return geom.x, geom.y
    if isinstance(geom, (model.LineString, model.MultiLineString)):
        sx = sy = total = 0.0
        for line in _lines(geom):
            c = line.coords
            for i in range(len(c) - 1):
                x1, y1 = float(c[i][0]), float(c[i][1])
                x2, y2 = float(c[i + 1][0]), float(c[i + 1][1])
                ln = math.hypot(x2 - x1, y2 - y1)
                sx += ln * (x1 + x2) / 2
                sy += ln * (y1 + y2) / 2
                total += ln
        if total == 0.0:
            c = geom._all_coords()
            return float(c[0][0]), float(c[0][1])
        return sx / total, sy / total
    # areal: signed triangle fan from the first shell coordinate
    rings = _poly_rings(geom)
    bx, by = float(rings[0][0][0][0]), float(rings[0][0][0][1])
    sx = sy = a2 = 0.0
    for ring, is_hole in rings:
        sign = -1.0 if is_hole else 1.0
        # ring orientation is normalized by the signed cross product itself;
        # holes subtract via the sign flip
        for i in range(len(ring) - 1):
            x1, y1 = float(ring[i][0]) - bx, float(ring[i][1]) - by
            x2, y2 = float(ring[i + 1][0]) - bx, float(ring[i + 1][1]) - by
            cross = sign * (x1 * y2 - x2 * y1)
            a2 += cross
            sx += cross * (x1 + x2)
            sy += cross * (y1 + y2)
    if a2 == 0.0:
        c = geom._all_coords()
        return float(c[0][0]), float(c[0][1])
    return bx + sx / (3.0 * a2), by + sy / (3.0 * a2)


# ---------------------------------------------------------------------------
# decomposition candidates (GeohashUtils DecompositionCandidate family)
# ---------------------------------------------------------------------------

@dataclass
class _Cand:
    bits: int
    prec: int
    area: float
    area_outside: float

    def is_lt(self, other: "_Cand") -> bool:
        if self.area_outside > other.area_outside:
            return True
        if self.area_outside == other.area_outside:
            return self.area < other.area
        return False


def _cell_area(bounds) -> tuple[float, float, float, float]:
    xmin, ymin, xmax, ymax = bounds
    ring = [(xmin, ymin), (xmin, ymax), (xmax, ymax), (xmax, ymin),
            (xmin, ymin)]
    return abs(_ring_area_signed(ring))


def _make_candidate(bits, prec, geom, target_measure, kind) -> "_Cand | None":
    """None when the cell does not intersect the target (filtered)."""
    bounds = cell_bounds(bits, prec)
    area = _cell_area(bounds)
    if kind == "poly":
        if not _poly_intersects(geom, bounds):
            return None
        outside = area - _clip_area(geom, bounds)
    elif kind == "line":
        if not _line_intersects(geom, bounds):
            return None
        outside = area * (1.0 - _clip_length(geom, bounds) / target_measure)
    else:  # point
        xmin, ymin, xmax, ymax = bounds
        hit = xmin <= geom.x <= xmax and ymin <= geom.y <= ymax
        if not hit:
            return None
        outside = area * 0.75
    return _Cand(bits, prec, area, outside)


def _sort(cands: list) -> list:
    import functools

    def cmp(a, b):
        if a.is_lt(b):
            return -1
        if b.is_lt(a):
            return 1
        return 0

    return sorted(cands, key=functools.cmp_to_key(cmp))


def _mbr_cell(geom, resolutions) -> tuple[int, int]:
    """Finest centroid cell (over the resolution range) containing the
    geometry's envelope (getMinimumBoundingGeohash)."""
    lo, hi, inc = resolutions
    cx, cy = _centroid(geom)
    coords = geom._all_coords()
    exmin, eymin = float(coords[:, 0].min()), float(coords[:, 1].min())
    exmax, eymax = float(coords[:, 0].max()), float(coords[:, 1].max())
    for bits_res in range(hi, lo - 1, -inc):
        if bits_res < lo:
            break
        cell = encode_cell(cx, cy, bits_res)
        xmin, ymin, xmax, ymax = cell_bounds(*cell)
        if xmin <= exmin and exmax <= xmax and ymin <= eymin and eymax <= ymax:
            return cell
    return encode_cell(cx, cy, lo)


def _decompose_single(geom, max_size: int, resolutions) -> list[tuple[int, int]]:
    lo, hi, inc = resolutions
    if isinstance(geom, (model.Polygon, model.MultiPolygon)):
        kind, measure = "poly", _poly_area(geom)
    elif isinstance(geom, (model.LineString, model.MultiLineString)):
        kind, measure = "line", sum(
            math.hypot(float(l.coords[i + 1][0]) - float(l.coords[i][0]),
                       float(l.coords[i + 1][1]) - float(l.coords[i][1]))
            for l in _lines(geom) for i in range(len(l.coords) - 1))
    else:
        kind, measure = "point", 0.0

    mbr = _mbr_cell(geom, resolutions)
    first = _make_candidate(*mbr, geom, measure, kind)
    if first is None:   # MBR always intersects; defensive
        first = _Cand(*mbr, _cell_area(cell_bounds(*mbr)), 0.0)
    cands = [first]
    while True:
        worst = cands[0]
        child_prec = worst.prec + inc
        children = [c for c in (
            _make_candidate(b, p, geom, measure, kind)
            for b, p in cell_children(worst.bits, worst.prec, inc))
            if c is not None]
        new = _sort(cands[1:] + children)
        if len(new) <= max_size and child_prec <= hi:
            cands = new
        else:
            return [(c.bits, c.prec) for c in cands]


def decompose_geometry(geom, max_size: int = 100,
                       resolutions: tuple[int, int, int] = (0, 40, 5),
                       relax_fit: bool = True) -> list[tuple[int, int]]:
    """GeohashUtils.decomposeGeometry: list of (bits, prec) cells.

    ``geom`` is a WKT string or a geom.model Geometry; ``resolutions`` is
    (minBits, maxBits, bitsIncrement).  Points shortcut to their max-
    resolution cell; collections (incl. JTS Multi*) decompose per part
    with order-preserving dedupe; relax_fit swaps geometries with >= 100
    points (other than polygons) for their convex hull."""
    if isinstance(geom, str):
        geom = wkt_loads(geom)
    lo, hi, inc = resolutions
    if isinstance(geom, model.Point):
        return [encode_cell(geom.x, geom.y, hi)]
    if isinstance(geom, (model.GeometryCollection, model.MultiPolygon,
                         model.MultiPoint, model.MultiLineString)):
        parts = (geom.geoms if isinstance(geom, model.GeometryCollection)
                 else geom._components())
        seen, out = set(), []
        for part in parts:
            for cell in decompose_geometry(part, max_size, resolutions,
                                           relax_fit):
                if cell not in seen:
                    seen.add(cell)
                    out.append(cell)
        return out
    target = geom
    if relax_fit and isinstance(geom, model.LineString) \
            and len(geom.coords) >= 100:
        from geomesa_spark.geom.algos import convex_hull_points
        hull = convex_hull_points(geom.coords)
        target = model.Polygon(hull)
    return _decompose_single(target, max_size, resolutions)


def decompose_hashes(geom, max_size: int = 100,
                     resolutions: tuple[int, int, int] = (0, 40, 5),
                     relax_fit: bool = True) -> list[str]:
    """Base-32 hash strings (zero-padded to whole characters, like
    GeoHash.hash) for :func:`decompose_geometry`'s cells."""
    return [cell_hash(b, p)
            for b, p in decompose_geometry(geom, max_size, resolutions,
                                           relax_fit)]


# ---------------------------------------------------------------------------
# unique geohash substrings (GeohashUtils.getUniqueGeohashSubstringsInPolygon
# :494-646) — the planner primitive behind "%offset,length#gh" index-schema
# key enumeration
# ---------------------------------------------------------------------------

def _covers(geom, bounds) -> bool:
    """JTS ``polygon.covers(rect)``: all rect corners inside-or-on the
    polygon AND no polygon-boundary edge passing through the rect's open
    interior (an edge along the rect boundary is fine)."""
    xmin, ymin, xmax, ymax = bounds
    for cx, cy in ((xmin, ymin), (xmin, ymax), (xmax, ymax), (xmax, ymin)):
        if not _point_in_poly(cx, cy, geom):
            return False
    for ring, _ in _poly_rings(geom):
        for i in range(len(ring) - 1):
            p = (float(ring[i][0]), float(ring[i][1]))
            q = (float(ring[i + 1][0]), float(ring[i + 1][1]))
            t = _clip_segment(p, q, bounds)
            if t is None or t[0] == t[1]:
                continue
            tm = (t[0] + t[1]) / 2.0
            mx, my = p[0] + tm * (q[0] - p[0]), p[1] + tm * (q[1] - p[1])
            if xmin < mx < xmax and ymin < my < ymax:
                return False
    return True


def _promote_to_region(geom):
    """promoteToRegion: degenerate geometries become a tiny disc around
    their centroid (JTS buffer(1e-6) approximated by a 16-gon); proper
    polygons pass through; everything else becomes its envelope."""
    def disc(x, y, r=1e-6, n=16):
        pts = [(x + r * math.cos(2 * math.pi * i / n),
                y + r * math.sin(2 * math.pi * i / n)) for i in range(n)]
        return model.Polygon(pts + pts[:1])

    if isinstance(geom, model.Point):
        return disc(geom.x, geom.y)
    if isinstance(geom, model.Polygon):
        if _poly_area(geom) > 0.0:
            return geom
        cx, cy = _centroid(geom)
        return disc(cx, cy)
    c = geom._all_coords()
    xmin, ymin = float(c[:, 0].min()), float(c[:, 1].min())
    xmax, ymax = float(c[:, 0].max()), float(c[:, 1].max())
    if (xmax - xmin) * (ymax - ymin) > 0.0:
        return model.box(xmin, ymin, xmax, ymax)
    cx, cy = _centroid(geom)
    return disc(cx, cy)


def unique_geohash_substrings(geom, offset: int, length: int,
                              max_keys_in_list: int = (1 << 31) - 2,
                              include_dots: bool = True) -> list[str]:
    """getUniqueGeohashSubstringsInPolygon parity: the distinct
    ``length``-character substrings (after skipping ``offset`` characters)
    of all 35-bit geohashes intersecting ``geom`` — enumerated WITHOUT
    visiting every fine cell, by keeping covered prefixes coarse (a
    covered 13-bit prefix entails all of its children) and stopping
    entirely once a prefix of <= 5*offset bits is covered (every substring
    combination is then present).  With ``include_dots``, the result is
    the reference's dotting expansion (every distinct prefix of every
    substring, dot-padded) REPLACING the plain list — matching decomposed
    geohashes stored below full precision.  Raises ValueError on overflow
    (the reference's Failure)."""
    if isinstance(geom, str):
        geom = wkt_loads(geom)
    cover = _promote_to_region(geom)
    max_bits = (offset + length) * 5
    min_bits = offset * 5
    used_bits = length * 5
    hi = min(35, max_bits)
    max_keys = min(2 << min(used_bits, 29), max_keys_in_list)
    cx, cy = _centroid(cover)

    # all geometry tests run against the PROMOTED region: points/lines/
    # zero-area inputs become discs/envelopes (the ring-based intersection
    # kernel assumes areal geometry — the raw geom would crash on Point)
    mbr_bits, mbr_prec = _mbr_cell(cover, (0, hi, 1))

    def bitstr(bits, prec):
        return format(bits, f"0{prec}b") if prec else ""

    def consider(bits, prec):
        bounds = cell_bounds(bits, prec)
        if not _poly_intersects(cover, bounds):
            return []
        if _covers(cover, bounds) or prec == max_bits:
            return [bitstr(bits, prec)]
        if prec >= max_bits:
            return []
        b0, b1 = (bits << 1, prec + 1), ((bits << 1) | 1, prec + 1)
        def dist(cell):
            x0, y0, x1, y1 = cell_bounds(*cell)
            return math.hypot((x0 + x1) / 2 - cx, (y0 + y1) / 2 - cy)
        first, second = (b0, b1) if dist(b0) <= dist(b1) else (b1, b0)
        out = consider(*first)
        if out and len(out[0]) <= min_bits:
            return out
        return out + consider(*second)

    if mbr_prec <= max_bits:
        prefixes = consider(mbr_bits, mbr_prec)
    else:
        prefixes = [bitstr(mbr_bits, mbr_prec)[min_bits:min_bits + used_bits]]

    has_everything = any(len(p) <= min_bits for p in prefixes)
    if has_everything:
        entailed = max_keys
    else:
        entailed = min(1 << used_bits,
                       sum(1 << min(used_bits, max_bits - len(p))
                           for p in prefixes))
    uses_all = has_everything or entailed == max_keys
    overflowed = ((1 << used_bits) > max_keys) if uses_all \
        else entailed > max_keys
    if overflowed:
        raise ValueError("bit prefixes overflowed enumerating unique "
                         f"geohash substrings (offset={offset}, "
                         f"length={length})")

    def generate_all(prefix: str) -> list[str]:
        # prefix length is a whole number of characters here
        h = cell_hash(int(prefix, 2), len(prefix)) if prefix else ""
        if len(h) < length:
            import itertools
            pads = itertools.product(_BASE32, repeat=length - len(h))
            return [h + "".join(p) for p in pads]
        return [h]

    if uses_all:
        undotted = generate_all("")
    else:
        acc = set()
        for prefix in prefixes:
            to_boundary = (65 - len(prefix)) % 5
            if to_boundary:
                import itertools
                bases = [prefix + "".join(b)
                         for b in itertools.product("01", repeat=to_boundary)]
            else:
                bases = [prefix]
            for base in bases:
                acc.update(generate_all(base[min_bits:]))
        undotted = sorted(acc)

    if not include_dots:
        return undotted
    if len(undotted) >= max_keys:
        return []
    # dotting expansion: all distinct i-prefixes, dot-padded, i = 0..length
    keepers, n = [], 0
    for i in range(length + 1):
        seen = set()
        for h in undotted:
            p = h[:i]
            if p not in seen:
                seen.add(p)
                keepers.append(p + "." * (length - i))
                n += 1
                if n > max_keys_in_list:
                    return []
    return keepers


def cover_predicate(col, cells: list[tuple[int, int]]):
    """Catalyst predicate matching a geohash-STRING key column against a
    decomposition: per cell, a prefix match on the whole characters plus a
    range check on the partial character — equivalent to the range scans a
    geohash-keyed index would issue, expressed so the optimizer can push
    it to the scan.  Cells finer than the GEOHASH_KEY_CHARS-character key
    (decompose_geometry goes to 40 bits) are coarsened to their ancestor at
    the key's width: a longer prefix never matches a shorter key, and the
    ancestor keeps the predicate a superset of the cells.  Bounded by the
    decomposition budget (<= max_size terms), never per-row Python."""
    from pyspark.sql import functions as F

    key_bits = 5 * GEOHASH_KEY_CHARS
    coarse = dict.fromkeys(
        (bits >> (prec - key_bits), key_bits) if prec > key_bits
        else (bits, prec) for bits, prec in cells)
    pred = None
    for bits, prec in coarse:
        full, rem = divmod(prec, 5)
        prefix = cell_hash(bits, prec)[:full] if full else ""
        term = F.col(col).startswith(prefix) if prefix else F.lit(True)
        if rem:
            # the partial char covers 2^(5-rem) base32 values
            first = (bits << (5 - rem)) & 31
            chars = _BASE32[first:first + (1 << (5 - rem))]
            term = term & F.substring(F.col(col), full + 1, 1).isin(list(chars))
        pred = term if pred is None else (pred | term)
    return pred if pred is not None else None
