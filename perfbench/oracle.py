"""Independent numpy recomputation of every workload's expected output.

Inputs are rebuilt from the generator's closed-form formulas
(``sources.images``: PHASH_EXPR, LON_FROM_PHASH, LAT_FROM_PHASH, TS_EXPR),
never read back from the engine.  Geometry tests are a plain even-odd ray
cast; points within ``BOUNDARY_EPS`` of a polygon edge are reported as
ambiguous and may fall either way, so a check allows at most that many
differences.
"""

from __future__ import annotations

import datetime as dt

import numpy as np

EARTH_RADIUS_M = 6371008.8
BOUNDARY_EPS = 1e-9          # degrees
WEEK_S = 7 * 86400
TS0, TS_SPAN = 1514764800, 189216000    # TS_EXPR: 2018-01-01 + (id*997) % span


def image_rows(ids: np.ndarray) -> dict[str, np.ndarray]:
    """lon, lat, ts (epoch seconds) of synthetic image rows ``ids``."""
    ids = np.asarray(ids, dtype=np.int64)
    phash = (ids * 2654435761) % (1 << 40)
    lon = (phash % 1048576).astype(np.float64) / 1048576.0 * 360.0 - 180.0
    lat = ((phash // 1048576) % 1048576).astype(np.float64) / 1048576.0 \
        * 180.0 - 90.0
    ts = TS0 + (ids * 997) % TS_SPAN
    return {"id": ids, "lon": lon, "lat": lat, "ts": ts}


def epoch_s(text: str) -> int:
    return int(dt.datetime.fromisoformat(text)
               .replace(tzinfo=dt.timezone.utc).timestamp())


def in_polygon(lon: np.ndarray, lat: np.ndarray, ring: np.ndarray
               ) -> tuple[np.ndarray, np.ndarray]:
    """(inside, ambiguous) masks for a closed ring (first == last vertex).

    inside: even-odd ray cast; ambiguous: within BOUNDARY_EPS of an edge."""
    inside = np.zeros(len(lon), dtype=bool)
    near = np.zeros(len(lon), dtype=bool)
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        crosses = (ay > lat) != (by > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = ax + (lat - ay) * (bx - ax) / (by - ay)
        inside ^= crosses & (lon < xint)
        ex, ey = bx - ax, by - ay
        t = np.clip(((lon - ax) * ex + (lat - ay) * ey) / (ex * ex + ey * ey),
                    0.0, 1.0)
        near |= np.hypot(lon - (ax + t * ex), lat - (ay + t * ey)) \
            <= BOUNDARY_EPS
    return inside, near


def pip_pairs(lon, lat, rings) -> tuple[np.ndarray, np.ndarray, int]:
    """Row indices and polygon indices of every (point, polygon) match,
    plus the number of ambiguous pairs."""
    rows, polys, ambiguous = [], [], 0
    for k, ring in enumerate(rings):
        x0, y0 = ring.min(axis=0)
        x1, y1 = ring.max(axis=0)
        cand = np.nonzero((lon >= x0 - 1e-6) & (lon <= x1 + 1e-6)
                          & (lat >= y0 - 1e-6) & (lat <= y1 + 1e-6))[0]
        inside, near = in_polygon(lon[cand], lat[cand], ring)
        rows.append(cand[inside])
        polys.append(np.full(int(inside.sum()), k))
        ambiguous += int(near.sum())
    return np.concatenate(rows), np.concatenate(polys), ambiguous


def pyramid_summary(lon, lat, zooms, tile_px: int) -> dict[int, tuple[int, int]]:
    """zoom -> (distinct pixels, total count) of the tile pyramid over the
    given point rows (one row per join match)."""
    finest = max(zooms)
    n = (1 << finest) * tile_px
    gx = np.minimum(np.floor((lon + 180.0) / 360.0 * n), n - 1).astype(np.int64)
    gy = np.minimum(np.floor((lat + 90.0) / 180.0 * n), n - 1).astype(np.int64)
    out = {}
    for z in zooms:
        shift = finest - z
        key = (gx >> shift) * ((1 << z) * tile_px) + (gy >> shift)
        out[z] = (int(np.unique(key).size), int(len(key)))
    return out


def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    r1lon, r1lat, r2lon, r2lat = map(np.radians, (lon1, lat1, lon2, lat2))
    a = (np.sin((r2lat - r1lat) / 2) ** 2
         + np.cos(r1lat) * np.cos(r2lat) * np.sin((r2lon - r1lon) / 2) ** 2)
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def knn_mismatches(rows: dict[str, np.ndarray], qlon: float, qlat: float,
                   k: int, got_ids: list[int], tol_m: float = 1e-3) -> int:
    """Neighbours in ``got_ids`` that brute force disagrees with.  Ties
    within ``tol_m`` of the k-th distance may resolve either way."""
    d = haversine_m(rows["lon"], rows["lat"], qlon, qlat)
    order = np.argsort(d, kind="stable")
    dk = d[order[k - 1]]
    dist = dict(zip(rows["id"].tolist(), d.tolist()))
    must = set(rows["id"][d < dk - tol_m].tolist())
    got = set(got_ids)
    bad = len(got_ids) != k or len(got) != k
    bad_ids = sum(1 for i in got if i not in dist or dist[i] > dk + tol_m)
    return int(bad) + bad_ids + len(must - got)


def ambiguous_set_diff(want: set, got: set, ambiguous: set) -> int:
    """Rows that differ between two result sets, ignoring ambiguous ids."""
    return len((want ^ got) - ambiguous)
