"""Export sinks beyond the native writers: GeoJSON, GML, Leaflet, Shapefile.

Reference parity: tools/export/ExportFormat.scala:51-113 enumerates
arrow/avro/bin/csv/gml2/gml3/json/leaflet/null/orc/parquet/shp/tsv.  The
columnar formats and CSV/TSV/JSON-lines are Spark built-ins; BIN and
Arrow-IPC live in sources/arrow_io.py.  This module adds the geo-specific
long tail:

* ``to_geojson_features`` — per-row GeoJSON Feature strings, pure Catalyst
  (`to_json` over a struct); writable with `df.write.text` for the
  newline-delimited form the reference's json export emits.
* ``write_geojson`` — FeatureCollection file(s): one collection per output
  partition (the distributed form of ExportFormat.Json).
* ``to_gml_features`` — GML 3.2 `gml:featureMember` fragments via native
  `format_string` (ExportFormat.Gml3; gml2 differs only in srsName form).
* ``write_leaflet`` — the reference's Leaflet export is a static HTML page
  embedding the GeoJSON (LeafletMapExporter); we emit the same shape with
  a collected (bounded) feature sample.
* ``write_shapefile`` — minimal but real ESRI shapefile trio (.shp/.shx/
  .dbf) for POINT layers, written driver-side from a bounded collect; the
  reference shells out to GeoTools' ShapefileDataStore which has the same
  single-geometry-type restriction.  Non-point geometries raise.
"""

from __future__ import annotations

import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _props_struct(df: DataFrame, lon_col: str, lat_col: str) -> Column:
    props = [c for c in df.columns if c not in (lon_col, lat_col)]
    return F.struct(*[F.col(c) for c in props])


def to_geojson_features(df: DataFrame, lon_col: str = "lon",
                        lat_col: str = "lat") -> DataFrame:
    """Adds a ``feature`` column: the row as a GeoJSON Feature string."""
    feature = F.to_json(F.struct(
        F.lit("Feature").alias("type"),
        F.struct(F.lit("Point").alias("type"),
                 F.array(F.col(lon_col), F.col(lat_col)).alias("coordinates")
                 ).alias("geometry"),
        _props_struct(df, lon_col, lat_col).alias("properties")))
    return df.withColumn("feature", feature)


def write_geojson(df: DataFrame, path: str, lon_col: str = "lon",
                  lat_col: str = "lat") -> None:
    """FeatureCollection per partition file (distributed json export)."""
    feats = to_geojson_features(df, lon_col, lat_col).select("feature")

    def wrap(it):
        first = True
        yield '{"type":"FeatureCollection","features":['
        for row in it:
            yield ("" if first else ",") + row.feature
            first = False
        yield "]}"

    (feats.rdd.mapPartitions(wrap)
     .saveAsTextFile(path))


GML_HEADER = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<wfs:FeatureCollection xmlns:wfs="http://www.opengis.net/wfs/2.0" '
    'xmlns:gml="http://www.opengis.net/gml/3.2">\n')
GML_FOOTER = "</wfs:FeatureCollection>\n"


def to_gml_features(df: DataFrame, type_name: str = "feature",
                    fid_col: str = "event_id", lon_col: str = "lon",
                    lat_col: str = "lat", version: int = 3) -> DataFrame:
    """Adds a ``gml`` column: gml:featureMember fragment.

    ``version=3`` emits GML 3.2 (`gml:pos`, lat-lon axis order, URN
    srsName); ``version=2`` emits GML 2 (`gml:coordinates` "lon,lat",
    EPSG-code srsName) — the ExportFormat.Gml2/Gml3 pair.  Native
    format_string — no UDFs; attribute escaping covers the XML-special
    characters in string columns.
    """
    attr_cols = [c for c in df.columns if c not in (fid_col, lon_col, lat_col)]
    attr_frags = []
    args = []
    for c in attr_cols:
        attr_frags.append(f"    <{c}>%s</{c}>\n")
        v = F.col(c).cast("string")
        for ch, esc in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
            v = F.replace(v, F.lit(ch), F.lit(esc))
        args.append(F.coalesce(v, F.lit("")))
    if version == 3:
        geom = ('<gml:Point srsName="urn:ogc:def:crs:EPSG::4326">'
                "<gml:pos>%s %s</gml:pos></gml:Point>")
        first, second = F.col(lat_col), F.col(lon_col)
    else:
        geom = ('<gml:Point srsName="http://www.opengis.net/gml/srs/'
                'epsg.xml#4326"><gml:coordinates>%s,%s</gml:coordinates>'
                "</gml:Point>")
        first, second = F.col(lon_col), F.col(lat_col)
    fmt = (f'  <gml:featureMember>\n   <{type_name} gml:id="%s">\n'
           f"    <geometry>{geom}</geometry>\n"
           + "".join(attr_frags)
           + f"   </{type_name}>\n  </gml:featureMember>")
    gml = F.format_string(
        fmt, F.col(fid_col).cast("string"),
        first.cast("string"), second.cast("string"), *args)
    return df.withColumn("gml", gml)


def write_gml(df: DataFrame, path: str, max_features: int = 100_000,
              **kwargs) -> None:
    """Single GML document (driver-assembled header/footer; body parts
    written distributed then concatenated is the scale path — for bounded
    exports we collect, like the reference's streaming exporter).

    Bounded by ``max_features`` like its leaflet/shapefile siblings: an
    unbounded collect of a big table would OOM the driver.  Pass
    ``max_features=None`` only for driver-sized frames."""
    feats = to_gml_features(df, **kwargs).select("gml")
    if max_features is not None:
        feats = feats.limit(max_features)
    frags = feats.collect()
    with open(path, "w") as f:
        f.write(GML_HEADER)
        for r in frags:
            f.write(r.gml + "\n")
        f.write(GML_FOOTER)


LEAFLET_TEMPLATE = """<!DOCTYPE html>
<html><head><title>geomesa-spark export</title>
<link rel="stylesheet" href="https://unpkg.com/leaflet/dist/leaflet.css"/>
<script src="https://unpkg.com/leaflet/dist/leaflet.js"></script>
</head><body><div id="map" style="width:100%;height:100vh"></div><script>
var map = L.map('map');
var data = __DATA__;
var layer = L.geoJSON(data).addTo(map);
map.fitBounds(layer.getBounds());
</script></body></html>
"""


def write_leaflet(df: DataFrame, path: str, max_features: int = 10_000,
                  lon_col: str = "lon", lat_col: str = "lat") -> None:
    """Static Leaflet HTML page embedding the features
    (LeafletMapExporter analog).  Bounded by ``max_features`` — a map page
    is a driver-side artifact, not a distributed sink."""
    rows = (to_geojson_features(df, lon_col, lat_col)
            .select("feature").limit(max_features).collect())
    collection = ('{"type":"FeatureCollection","features":['
                  + ",".join(r.feature for r in rows) + "]}")
    with open(path, "w") as f:
        f.write(LEAFLET_TEMPLATE.replace("__DATA__", collection))


def write_shapefile(df: DataFrame, base_path: str, lon_col: str = "lon",
                    lat_col: str = "lat", max_features: int = 100_000) -> None:
    """Minimal ESRI shapefile trio (.shp/.shx/.dbf) for POINT layers.

    Writes base_path.shp/.shx/.dbf from a bounded collect (the reference's
    shp export also materializes through a single ShapefileDataStore).
    Attributes are exported as DBF character fields (C, width 64).
    """
    pdf = df.limit(max_features).toPandas()
    attrs = [c for c in pdf.columns if c not in (lon_col, lat_col)]
    n = len(pdf)
    xs = pdf[lon_col].to_numpy(float)
    ys = pdf[lat_col].to_numpy(float)
    bbox = ((xs.min(), ys.min(), xs.max(), ys.max()) if n
            else (0.0, 0.0, 0.0, 0.0))

    # .shp: 100-byte header + per-record (8-byte header + 20-byte point)
    rec_len_words = 10  # shape type (4) + x (8) + y (8) = 20 bytes
    shp_len_words = 50 + n * (4 + rec_len_words)
    shp_header = struct.pack(
        ">iiiiiii", 9994, 0, 0, 0, 0, 0, shp_len_words) + struct.pack(
        "<ii", 1000, 1) + struct.pack("<4d", *bbox) + struct.pack(
        "<4d", 0.0, 0.0, 0.0, 0.0)
    with open(base_path + ".shp", "wb") as f:
        f.write(shp_header)
        for i in range(n):
            f.write(struct.pack(">ii", i + 1, rec_len_words))
            f.write(struct.pack("<idd", 1, xs[i], ys[i]))
    # .shx: same header (its own length) + per-record (offset, length)
    shx_len_words = 50 + n * 4
    with open(base_path + ".shx", "wb") as f:
        f.write(struct.pack(">iiiiiii", 9994, 0, 0, 0, 0, 0, shx_len_words)
                + struct.pack("<ii", 1000, 1) + struct.pack("<4d", *bbox)
                + struct.pack("<4d", 0.0, 0.0, 0.0, 0.0))
        offset = 50
        for _ in range(n):
            f.write(struct.pack(">ii", offset, rec_len_words))
            offset += 4 + rec_len_words
    # .dbf: dBASE III header + C(64) field per attribute
    field_descs = b""
    for a in attrs:
        name = a.encode("ascii", "replace")[:10].ljust(11, b"\x00")
        field_descs += name + b"C" + b"\x00" * 4 + bytes([64]) + b"\x00" * 15
    header_len = 32 + len(field_descs) + 1
    rec_size = 1 + 64 * len(attrs)
    with open(base_path + ".dbf", "wb") as f:
        f.write(struct.pack("<B3BIHH20x", 3, 24, 1, 1, n, header_len, rec_size))
        f.write(field_descs + b"\x0d")
        for i in range(n):
            rec = b" "
            for a in attrs:
                v = "" if pdf[a].iloc[i] is None else str(pdf[a].iloc[i])
                rec += v.encode("utf-8", "replace")[:64].ljust(64, b" ")
            f.write(rec)
        f.write(b"\x1a")


# ---------------------------------------------------------------------------
# BIN ("AXF") packed export — BinaryOutputEncoder parity
# ---------------------------------------------------------------------------

def bin_pack(df: DataFrame, track_col: str, ts_col: str,
             lat_col: str, lon_col: str,
             label_col: str | None = None) -> DataFrame:
    """Pack rows into the reference's BIN byte layout
    (utils/bin/BinaryOutputEncoder.scala:120-190): little-endian records
    of int32 track id, int32 epoch-seconds, float32 lat, float32 lon —
    16 bytes, or 24 with the optional int64 label (numbers pass through;
    strings fold their first 8 UTF-8 bytes little-endian, scala
    `convertToLabel` parity).

    One Arrow batch packs into ONE (n_records, bytes) chunk row via a
    structured numpy dtype — the reference likewise aggregates many
    records per feature and counts bytes/16 (FeatureLimitingIterator).
    Chunks are the distributed unit: each partition emits its own blobs,
    no driver collection.
    """
    import numpy as np
    import pandas as pd

    dtype = [("track", "<i4"), ("secs", "<i4"),
             ("lat", "<f4"), ("lon", "<f4")]
    if label_col is not None:
        dtype.append(("label", "<i8"))
    rec_dtype = np.dtype(dtype)

    # BinaryOutputEncoder.convertToTrack semantics: numeric track ids pass
    # through; STRING track ids are hashed (Java String.hashCode over the
    # code units — faithful for ASCII ids); nulls become 0.  convertToDate
    # likewise zeroes null dates.  Without this, a string/null track made
    # to_numpy(int64) raise at pack time.
    if dict(df.dtypes).get(track_col) == "string":
        track_expr = F.expr(
            f"aggregate(transform(split({track_col}, ''), c -> ascii(c)), "
            f"0L, (h, c) -> (h * 31 + c) % 4294967296)")
    else:
        track_expr = F.col(track_col).cast("long")
    src = df.select(
        F.coalesce(track_expr, F.lit(0).cast("long")).alias("__track"),
        F.coalesce(F.unix_timestamp(ts_col), F.lit(0)).cast("long")
         .alias("__secs"),
        F.col(lat_col).cast("double").alias("__lat"),
        F.col(lon_col).cast("double").alias("__lon"),
        *([F.col(label_col).alias("__label")] if label_col else []))

    def fold_label(v) -> int:
        if v is None:
            return 0
        if isinstance(v, (int, np.integer, float, np.floating)):
            return int(v)
        acc = 0
        for i, b in enumerate(str(v).encode("utf-8")[:8]):
            acc += (b & 0xFF) << (8 * i)
        return acc

    def pack(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            arr = np.empty(len(pdf), dtype=rec_dtype)
            # int32 wrap like the JVM's (int) cast
            arr["track"] = (pdf["__track"].to_numpy(np.int64)
                            & 0xFFFFFFFF).astype(np.uint32).view(np.int32)
            arr["secs"] = (pdf["__secs"].to_numpy(np.int64)
                           & 0xFFFFFFFF).astype(np.uint32).view(np.int32)
            arr["lat"] = pdf["__lat"].to_numpy(np.float64).astype(np.float32)
            arr["lon"] = pdf["__lon"].to_numpy(np.float64).astype(np.float32)
            if label_col is not None:
                arr["label"] = np.array(
                    [fold_label(v) for v in pdf["__label"]], dtype=np.int64)
            yield pd.DataFrame({"n_records": [len(pdf)],
                                "bytes": [arr.tobytes()]})

    return src.mapInPandas(pack, "n_records long, bytes binary")


def decode_bin(blob: bytes, has_label: bool = False):
    """Decode a BIN chunk back to a numpy structured array (the
    ByteBuffer.LITTLE_ENDIAN decode at BinaryOutputEncoder.scala:176-190)
    — the test/verification half of the codec."""
    import numpy as np
    dtype = [("track", "<i4"), ("secs", "<i4"),
             ("lat", "<f4"), ("lon", "<f4")]
    if has_label:
        dtype.append(("label", "<i8"))
    return np.frombuffer(blob, dtype=np.dtype(dtype))
