"""Python tasks pay only for their data.

* ``geomesa_spark._zipcache``: ``importlib.invalidate_caches()`` (which the
  pyspark worker calls per task) keeps an unchanged zip's directory;
* ``sources.arrow_io.local_frame``: driver-built tables are Arrow local
  relations, so the operators' plans hold no ``Scan ExistingRDD``;
* ``SpatialQuery`` refines polygons natively, without a pandas UDF.
"""
import datetime as dt
import importlib
import sys
import time
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geomesa_spark import _zipcache
from geomesa_spark.geom import algos, wkt
from geomesa_spark.operators.knn import knn_join
from geomesa_spark.operators.pip_join import pip_join_broadcast
from geomesa_spark.plans.query import SpatialQuery
from geomesa_spark.sources.arrow_io import local_frame

EAGER_ZIP_RELOAD = (3, 10) <= sys.version_info[:2] < (3, 13)


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.mark.skipif(not EAGER_ZIP_RELOAD,
                    reason="zipimporter re-reads lazily on this interpreter")
def test_invalidate_caches_keeps_unchanged_zip_directory(tmp_path,
                                                         monkeypatch):
    assert zipimport.zipimporter.invalidate_caches \
        is _zipcache._invalidate_caches
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_first": "VALUE = 1\n"})
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive)
                        or read_directory(archive))
    monkeypatch.syspath_prepend(path)
    try:
        assert importlib.import_module("zc_first").VALUE == 1
        importlib.invalidate_caches()  # the first call re-reads and stamps
        seen = reads.count(path)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(path) == seen
        # a rewritten archive (new size) is re-read: its new module imports
        _write_zip(path, {"zc_first": "VALUE = 1\n",
                          "zc_second": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(path) > seen
        assert importlib.import_module("zc_second").VALUE == 2
    finally:
        for name in ("zc_first", "zc_second"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
            del sys.path_importer_cache[key]


@pytest.mark.skipif(not EAGER_ZIP_RELOAD,
                    reason="zipimporter re-reads lazily on this interpreter")
def test_worker_uses_engine_invalidate_caches(spark):
    def probe(ids: pd.Series) -> pd.Series:
        import zipimport

        import geomesa_spark  # noqa: F401
        m = zipimport.zipimporter.invalidate_caches
        return pd.Series([f"{m.__module__}.{m.__name__}"] * len(ids))

    got = {r.m for r in spark.range(4).select(
        F.pandas_udf(probe, "string")("id").alias("m")).collect()}
    assert got == {"geomesa_spark._zipcache._invalidate_caches"}


ROW_SCHEMA = ("s string, i long, d double, t timestamp, "
              "e array<struct<ax:double,ay:double>>")


def test_local_frame_round_trips_collected_rows(spark):
    rows = [("a", 2**53 + 1, 1.5, dt.datetime(2024, 3, 10, 2, 30, 0, 7),
             [(1.0, 2.0), (3.0, -4.5)]),
            (None, None, None, None, None),
            ("é", -(2**62) - 3, -0.0, dt.datetime(1969, 12, 31, 23, 59, 59),
             [])]
    src = spark.createDataFrame(rows, ROW_SCHEMA)
    got = src.collect()
    back = local_frame(spark, [tuple(r) for r in got], src.schema)
    assert back.schema == src.schema
    assert back.collect() == got


def test_local_frame_reads_naive_datetimes_as_local_time(spark, monkeypatch):
    """As createDataFrame(list) does, whatever the process time zone."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        rows = [(dt.datetime(2024, 1, 15, 12, 0),),
                (dt.datetime(2024, 7, 15, 12, 0),)]
        micros = F.unix_micros("t").alias("us")
        want = spark.createDataFrame(rows, "t timestamp").select(micros)
        got = local_frame(spark, rows, "t timestamp").select(micros)
        assert got.collect() == want.collect()
    finally:
        monkeypatch.undo()
        time.tzset()


def test_operator_plans_have_no_existing_rdd(spark):
    # spark.range keeps the points side free of ExistingRDD too
    pts = spark.range(2000).selectExpr(
        "id", "(id % 50) * 0.8 - 20.0 AS lon", "floor(id / 50) * 1.0 - 20.0 AS lat")
    polys = [("tri", "POLYGON ((-10 -10, 10 -10, 0 10, -10 -10))"),
             ("ell", "POLYGON ((0 0, 12 0, 12 4, 4 4, 4 12, 0 12, 0 0))")]
    mixed = polys + [("line", "LINESTRING (-18 5, 18 5)")]
    for df in (pip_join_broadcast(pts, polys, keep_geom=True),
               pip_join_broadcast(pts, mixed),
               knn_join(pts, [("q0", 1.0, 1.0)], 5, n_rows=2000)):
        assert df.count() > 0
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan
        assert "LocalTableScan" in plan


@pytest.mark.parametrize("poly", [
    "POLYGON ((44 25, 46 21, 48 25, 46 29, 44 25))",
    "POLYGON ((0 0, 12 0, 12 4, 4 4, 4 12, 0 12, 0 0))",
    "POLYGON ((-10 -10, 10 -10, 10 10, -10 10, -10 -10), (-4 -4, 4 -4, 0 4, -4 -4))",
    "MULTIPOLYGON (((20 0, 26 0, 23 6, 20 0)), ((30 0, 36 0, 36 6, 30 6, 30 0)))",
])
def test_polygon_query_refines_without_python(spark, poly):
    """Same rows as the numpy kernel, vertices and edges included, with no
    Python evaluation node in the plan."""
    lon, lat = np.meshgrid(np.arange(-12.0, 50.0, 0.5), np.arange(-12.0, 30.0, 0.5))
    pdf = pd.DataFrame({"id": np.arange(lon.size), "lon": lon.ravel(),
                        "lat": lat.ravel()})
    out = SpatialQuery(geometry=poly).apply(spark.createDataFrame(pdf))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    got = {r.id for r in out.select("id").collect()}
    mask = algos.points_intersect(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(),
                                  wkt.wkt_loads(poly))
    want = set(pdf["id"][mask])
    assert got == want and got
