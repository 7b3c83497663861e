"""Point-in-polygon / spatial joins.

The engine's core operator, replacing the reference's grid-partitioned
sweepline join (GeoMesaJoinRelation.scala:41-91, RelationUtils.grid:30-70):

* both sides get a grid ``cell`` key (points: exactly ONE cell each — no
  boundary duplication on the point side, which eliminates the reference's
  dedupe TODO at RelationUtils.scala:38; polygons: their cell cover),
* small polygon sets take the **broadcast** path (cover computed driver-side,
  broadcast hash join on cell — the north rule's small-side strategy),
* large polygon sets take the **salted sort-merge** path: polygon cover rows
  are replicated to every salt value, points hash-salted by id, join key =
  (cell, salt) — GeoMesa's shard-prefix skew handling (ShardStrategy.scala:
  75-83) expressed as explicit salt columns,
* an Arrow-batched numpy refine applies the exact predicate; rectangles skip
  the refine (exact cover shortcut).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from geomesa_spark.functions.cell_functions import salt_col
from geomesa_spark.geom import algos, model, wkt
from geomesa_spark.geom.wkb import wkb_loads
from geomesa_spark.plans.cover import geometry_cell_cover, pick_cover_resolution
from geomesa_spark.sources.arrow_io import local_frame

DEFAULT_SALTS = 4  # geomesa.z.splits default (Conversions.scala:307-318)


def _convex_ccw(g) -> "np.ndarray | None":
    """CCW vertex array if ``g`` is a convex simple polygon, else None."""
    if not isinstance(g, model.Polygon) or g.holes:
        return None
    v = np.asarray(g.shell[:-1], dtype=np.float64)
    if len(v) < 3:
        return None
    e1 = np.roll(v, -1, axis=0) - v
    e2 = np.roll(v, -2, axis=0) - np.roll(v, -1, axis=0)
    cross = e1[:, 0] * e2[:, 1] - e1[:, 1] * e2[:, 0]
    if np.all(cross >= 0):
        return v
    if np.all(cross <= 0):
        return v[::-1]
    return None


def _edges(g) -> tuple[bool, list]:
    """(convex, edges) input of :func:`_refine_sql` for one polygonal
    geometry: a convex polygon's CCW ring, else every shell and hole ring
    of its polygon components, as (ax, ay, bx, by) tuples."""
    ccw = _convex_ccw(g)
    if ccw is not None:
        rings = [np.vstack([ccw, ccw[:1]])]
    else:
        rings = []
        for comp in g._components():
            if isinstance(comp, model.Polygon):
                rings.append(np.asarray(comp.shell, dtype=np.float64))
                rings.extend(np.asarray(h, dtype=np.float64)
                             for h in comp.holes)
    edges = []
    for arr in rings:
        for i in range(len(arr) - 1):
            edges.append((float(arr[i][0]), float(arr[i][1]),
                          float(arr[i + 1][0]), float(arr[i + 1][1])))
    return ccw is not None, edges


def _refine_sql(lon: str, lat: str, edges: str = "__edges",
                convex: str = "__convex") -> str:
    """Exact boundary-inclusive intersects over the ``convex`` / ``edges``
    expressions built from :func:`_edges` (the ``__convex`` / ``__edges``
    columns of a join, or literals for one geometry).  Convex: half-plane
    conjunction (cheap forall); general: even-odd ray cast replicating
    algos.points_in_ring term-for-term, one aggregate() — bit-identical to
    the pandas kernel."""
    return f"""
            IF({convex},
              forall({edges}, e -> (e.bx - e.ax) * ({lat} - e.ay)
                                   - (e.by - e.ay) * ({lon} - e.ax) >= 0.0),
              aggregate({edges},
                named_struct('i', false, 'b', false),
                (acc, e) -> named_struct(
                  'i', acc.i != (((e.ay > {lat}) != (e.by > {lat})) AND
                          ({lon} < e.ax + ({lat} - e.ay) * (e.bx - e.ax) / (e.by - e.ay))),
                  'b', acc.b OR ((e.bx - e.ax) * ({lat} - e.ay)
                                 - (e.by - e.ay) * ({lon} - e.ax) = 0.0
                          AND {lon} >= least(e.ax, e.bx) AND {lon} <= greatest(e.ax, e.bx)
                          AND {lat} >= least(e.ay, e.by) AND {lat} <= greatest(e.ay, e.by))),
                acc -> acc.b OR acc.i))"""


def polygon_refine_col(g, lon: str, lat: str):
    """Exact intersects of the (lon, lat) columns with ONE polygonal
    geometry: :func:`_refine_sql` over its edges as an ``array<struct>``
    literal — a native predicate, no Python worker."""
    convex, edges = _edges(g)
    lit = "array(" + ", ".join(
        f"named_struct('ax', {ax!r}D, 'ay', {ay!r}D, 'bx', {bx!r}D, 'by', {by!r}D)"
        for ax, ay, bx, by in edges) + ")"
    return F.expr(_refine_sql(lon, lat, edges=lit,
                              convex="true" if convex else "false"))


def _polygons_to_local(polygons) -> list[tuple]:
    """Normalize a small polygon collection to [(id, Geometry, wkb)]."""
    from geomesa_spark.geom.wkb import wkb_dumps
    out = []
    for pid, g in polygons:
        geom = wkt.wkt_loads(g) if isinstance(g, str) else g
        out.append((pid, geom, wkb_dumps(geom)))
    return out


def _refine_indexed_udf(geoms: list, predicate: str = "intersects"):
    """(lon, lat, poly_index) -> bool with the polygon list captured in the
    UDF closure: only a small int travels per row (the WKB-per-row variant
    pushed gigabytes of duplicated polygon bytes through Arrow at scale)."""

    def refine(lon: pd.Series, lat: pd.Series, pidx: pd.Series) -> pd.Series:
        x = lon.to_numpy(np.float64)
        y = lat.to_numpy(np.float64)
        # null pidx = contained-cell rows; the filter passes them regardless
        # but Arrow still evaluates the UDF on them
        pi = pidx.fillna(-1).to_numpy(np.int64)
        out = np.zeros(len(x), dtype=bool)
        # one argsort + contiguous slices beats a full boolean scan per
        # polygon (O(batch) vs O(batch * n_polys))
        order = np.argsort(pi, kind="stable")
        spi = pi[order]
        ks, starts = np.unique(spi, return_index=True)
        starts = np.append(starts, len(spi))
        for j, k in enumerate(ks):
            if k < 0:
                continue
            ii = order[starts[j]:starts[j + 1]]
            g = geoms[k]
            if predicate == "intersects":
                m = algos.points_intersect(x[ii], y[ii], g)
            elif predicate == "contains":
                m = np.zeros(len(ii), dtype=bool)
                for comp in g._components():
                    if isinstance(comp, model.Polygon):
                        m |= algos.points_in_polygon(x[ii], y[ii], comp) == algos.IN
            else:
                raise ValueError(predicate)
            out[ii] = m
        return pd.Series(out)

    return F.pandas_udf(refine, BooleanType())


def pip_join_broadcast(points: DataFrame, polygons, *, res: int | None = None,
                       lon_col: str = "lon", lat_col: str = "lat",
                       poly_id_col: str = "poly_id",
                       predicate: str = "intersects",
                       keep_geom: bool = False) -> DataFrame:
    """Broadcast PIP join: ``polygons`` is a small driver-side collection
    [(id, wkt-or-Geometry)]. Returns points rows + ``poly_id``.

    Plan shape: points -> native cell assignment -> broadcast hash join on
    cell -> vectorized refine (skipped for rectangles and for cover cells
    fully inside the polygon). One shuffle-free pass over the fact table;
    the polygon geometries ride in the refine UDF's closure, so the join
    only materializes (poly_id, cell, poly_index) rows.
    """
    spark = points.sparkSession
    polys = _polygons_to_local(polygons)

    from geomesa_spark.cells.grid import cell_xy
    from geomesa_spark.plans.cover import (classify_cell_cover_xy,
                                           cover_spans, pick_span_resolution)

    id_type = "string" if polys and isinstance(polys[0][0], str) else "long"
    all_polygonal = all(isinstance(g, (model.Polygon, model.MultiPolygon))
                        for _pid, g, _b in polys)

    if all_polygonal:
        # SPAN cover: the broadcast side is O(perimeter) scanline spans
        # (iy, x0, x1, pidx, interior), not O(area) cells — a circle D cells
        # across broadcasts O(D) rows instead of O(D^2).  That keeps ALL
        # per-query serial work (driver numpy build, Arrow createDataFrame,
        # broadcast exchange collect + hash-relation build) small enough to
        # stay out of the Amdahl term at cluster sizes, and lets the cover
        # resolution go ~8x finer for free, shrinking the boundary fraction
        # that must pay the exact refine to a few percent.  The join is a
        # broadcast HASH join on the grid row __iy with the x-range check as
        # a native join filter (whole-stage codegen; a handful of long
        # compares per probed span).
        if res is None:
            res = pick_span_resolution([g.bounds for _, g, _ in polys])
        iy_parts, x0_parts, x1_parts, pidx_parts, interior_parts = \
            [], [], [], [], []
        for k, (_pid, g, _b) in enumerate(polys):
            iy, x0, x1, interior = cover_spans(g, res)
            if len(iy) == 0:
                continue
            iy_parts.append(iy)
            x0_parts.append(x0)
            x1_parts.append(x1)
            pidx_parts.append(np.full(len(iy), k, dtype=np.int32))
            interior_parts.append(interior)
        cover_pdf = pd.DataFrame({
            "__siy": np.concatenate(iy_parts) if iy_parts
            else np.empty(0, dtype=np.int64),
            "__x0": np.concatenate(x0_parts) if x0_parts
            else np.empty(0, dtype=np.int64),
            "__x1": np.concatenate(x1_parts) if x1_parts
            else np.empty(0, dtype=np.int64),
            "__pidx": np.concatenate(pidx_parts) if pidx_parts
            else np.empty(0, dtype=np.int32),
            "__interior": np.concatenate(interior_parts) if interior_parts
            else np.empty(0, dtype=bool),
        })
        spans_df = spark.createDataFrame(cover_pdf)
        n = 1 << res
        ix_expr = (f"least(greatest(cast(floor(({lon_col} + 180.0) / 360.0 "
                   f"* {n}) as bigint), 0), {n - 1})")
        iy_expr = (f"least(greatest(cast(floor(({lat_col} + 90.0) / 180.0 "
                   f"* {n}) as bigint), 0), {n - 1})")
        pts = (points
               .withColumn("__ix", F.expr(ix_expr))
               .withColumn("__iy", F.expr(iy_expr)))
        joined = (pts.join(F.broadcast(spans_df),
                           (pts["__iy"] == spans_df["__siy"])
                           & (pts["__ix"] >= spans_df["__x0"])
                           & (pts["__ix"] <= spans_df["__x1"]),
                           "inner")
                  .drop("__ix", "__iy", "__siy", "__x0", "__x1"))
    else:
        if res is None:
            res = pick_cover_resolution([g.bounds for _, g, _ in polys])
        n = 1 << res
        # mixed geometry types (lines/points in the set): small covers,
        # legacy tuple build
        def rowmajor(cid: int) -> int:
            _res, ix, iy = cell_xy(cid)
            return iy * n + ix

        rows = []
        for k, (_pid, g, _b) in enumerate(polys):
            if isinstance(g, (model.Polygon, model.MultiPolygon)):
                contained_xy, boundary_xy = classify_cell_cover_xy(g, res)
                rows.extend((int(xy[1]) * n + int(xy[0]), k, True)
                            for xy in contained_xy)
                rows.extend((int(xy[1]) * n + int(xy[0]), k, False)
                            for xy in boundary_xy)
            else:
                rows.extend((rowmajor(cid), k, False)
                            for cid in geometry_cell_cover(g, res))
        cover_df = local_frame(
            spark, rows, "__cell long, __pidx int, __interior boolean")
        cell_expr = (
            f"least(greatest(cast(floor(({lat_col} + 90.0) / 180.0 * {n}) as bigint), 0), {n - 1})"
            f" * {n} + "
            f"least(greatest(cast(floor(({lon_col} + 180.0) / 360.0 * {n}) as bigint), 0), {n - 1})")
        pts = points.withColumn("__cell", F.expr(cell_expr))
        joined = (pts.join(F.broadcast(cover_df), "__cell", "inner")
                  .drop("__cell"))
    geoms = [g for _pid, g, _b in polys]

    # Predicate compilation (the analog of GeoMesa compiling filters into
    # server-side iterators): the exact refine is a ray-cast over the
    # polygon's edge list, expressed as ONE small aggregate() over an
    # `__edges` array column attached by a 64-row broadcast join on the
    # polygon index. All JVM — zero Python traffic; interior rows
    # short-circuit on `__interior` before the aggregate. Arithmetic replicates
    # algos.points_in_ring term-for-term (boundary-inclusive even-odd), so
    # results are bit-identical to the pandas kernel.
    if predicate == "intersects" and all(
            isinstance(g, (model.Polygon, model.MultiPolygon)) for g in geoms):
        edge_rows = [(k, polys[k][0], *_edges(g)) for k, g in enumerate(geoms)]
        edges_df = local_frame(
            spark, edge_rows,
            f"__pidx int, {poly_id_col} {id_type}, __convex boolean, "
            "__edges array<struct<ax:double,ay:double,bx:double,by:double>>")
        refine = F.expr(_refine_sql(lon_col, lat_col))
        out = (joined.join(F.broadcast(edges_df), "__pidx")
               .where(F.col("__interior") | refine))
        return _attach_geom(spark, out.drop("__pidx", "__interior",
                                            "__convex", "__edges"),
                            polys, poly_id_col, id_type, keep_geom)

    # General path (line/point geometries in the mix, or a non-intersects
    # predicate): split interior rows (already exact) from boundary rows
    # BEFORE the pandas UDF — `__interior | udf(...)` would ship every
    # candidate row through the Python worker sockets; the split keeps
    # Arrow traffic proportional to the boundary fraction (the reference's
    # exact-ranges shortcut, Z3IndexKeySpace.useFullFilter).
    interior = joined.where(F.col("__interior"))
    boundary = joined.where(~F.col("__interior")).where(
        _refine_indexed_udf(geoms, predicate)(F.col(lon_col), F.col(lat_col),
                                              F.col("__pidx")))
    id_df = local_frame(
        spark, [(k, pid) for k, (pid, _g, _b) in enumerate(polys)],
        f"__pidx int, {poly_id_col} {id_type}")
    out = (interior.unionByName(boundary)
           .join(F.broadcast(id_df), "__pidx")
           .drop("__pidx", "__interior"))
    return _attach_geom(spark, out, polys, poly_id_col, id_type, keep_geom)


def _attach_geom(spark, out: DataFrame, polys, poly_id_col: str,
                 id_type: str, keep_geom: bool) -> DataFrame:
    """Re-attach the matched polygon's WKB (`__geom`) when keep_geom=True —
    a tiny broadcast join on the polygon id."""
    if not keep_geom:
        return out
    from geomesa_spark.geom.wkb import wkb_dumps
    geom_df = local_frame(
        spark, [(pid, bytearray(wkb_dumps(g))) for pid, g, _b in polys],
        f"{poly_id_col} {id_type}, __geom binary")
    return out.join(F.broadcast(geom_df), poly_id_col)


def pip_join_smj(points: DataFrame, polygons: DataFrame, *, res: int,
                 lon_col: str = "lon", lat_col: str = "lat",
                 poly_wkb_col: str = "geom", poly_id_col: str = "poly_id",
                 predicate: str = "intersects",
                 n_salts: int = DEFAULT_SALTS) -> DataFrame:
    """Salted sort-merge PIP join for LARGE polygon sets (DataFrame side).

    ``polygons`` must carry (poly_id_col, poly_wkb_col). Polygon covers are
    computed executor-side (Arrow-batched), split into interior cells (skip
    the refine — exact-cover shortcut) and boundary cells, replicated to all
    salt values; points are salted by hash. Join key (cell, salt) spreads
    hot cells over ``n_salts`` reducers — explicit skew handling per the
    north rule, on top of AQE skew splitting. The exact refine is the same
    native ray-cast / half-plane expression as the broadcast path, reading
    an ``__edges`` array column prepared once per polygon — no Python and
    no WKB parsing in the per-candidate hot path.
    """
    from pyspark.sql.types import (ArrayType, BooleanType, DoubleType,
                                   LongType, StructField, StructType)

    from geomesa_spark.cells.grid import cell_xy
    from geomesa_spark.plans.cover import classify_cell_cover

    n = 1 << res

    def rowmajor(cid: int) -> int:
        _res, ix, iy = cell_xy(cid)
        return iy * n + ix

    cover_type = ArrayType(StructType([
        StructField("cell", LongType()), StructField("interior", BooleanType())]))

    def cover_udf(wkb_s: pd.Series) -> pd.Series:
        out = []
        for b in wkb_s:
            if b is None:
                out.append([])
                continue
            g = wkb_loads(bytes(b))
            if isinstance(g, (model.Polygon, model.MultiPolygon)):
                contained, boundary = classify_cell_cover(g, res)
            else:
                contained, boundary = [], geometry_cell_cover(g, res)
            out.append([(rowmajor(c), True) for c in contained]
                       + [(rowmajor(c), False) for c in boundary])
        return pd.Series(out)

    prep_type = StructType([
        StructField("convex", BooleanType()),
        StructField("edges", ArrayType(StructType(
            [StructField("ax", DoubleType()), StructField("ay", DoubleType()),
             StructField("bx", DoubleType()), StructField("by", DoubleType())])))])

    def prep_udf(wkb_s: pd.Series) -> pd.DataFrame:
        prepped = [_edges(wkb_loads(bytes(b))) for b in wkb_s]
        return pd.DataFrame({"convex": [c for c, _e in prepped],
                             "edges": [e for _c, e in prepped]})

    covers = (polygons
              .withColumn("__cov", F.pandas_udf(cover_udf, cover_type)(F.col(poly_wkb_col)))
              .withColumn("__prep", F.pandas_udf(prep_udf, prep_type)(F.col(poly_wkb_col)))
              .withColumn("__convex", F.col("__prep.convex"))
              .withColumn("__edges", F.col("__prep.edges"))
              .drop("__prep", poly_wkb_col))
    poly_cells = (covers
                  .withColumn("__c", F.explode("__cov"))
                  .withColumn("__cell", F.col("__c.cell"))
                  .withColumn("__interior", F.col("__c.interior"))
                  .withColumn("__salt", F.explode(F.array([F.lit(i) for i in range(n_salts)])))
                  .drop("__cov", "__c"))

    cell_expr = (
        f"least(greatest(cast(floor(({lat_col} + 90.0) / 180.0 * {n}) as bigint), 0), {n - 1})"
        f" * {n} + "
        f"least(greatest(cast(floor(({lon_col} + 180.0) / 360.0 * {n}) as bigint), 0), {n - 1})")
    pts = (points
           .withColumn("__cell", F.expr(cell_expr))
           .withColumn("__salt", salt_col(F.col(lon_col) + F.col(lat_col), n_salts)))

    joined = pts.join(poly_cells.hint("shuffle_merge"), ["__cell", "__salt"], "inner")
    refine = F.col("__interior") | F.expr(_refine_sql(lon_col, lat_col))
    if predicate != "intersects":
        raise ValueError("pip_join_smj supports the intersects predicate")
    refined = joined.where(refine)
    return refined.drop("__cell", "__salt", "__interior", "__convex", "__edges")
