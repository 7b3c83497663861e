"""geomesa_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch reimplementation of the query/data-processing capabilities of
GeoMesa (reference: /root/reference, locationtech/geomesa 5.x) expressed as
idiomatic PySpark: DataFrame/SQL logical plans optimized by Catalyst, cell
(space-filling-curve) columns instead of key-value row keys, partitioned
columnar tables instead of tablet ranges, and vectorized Arrow/pandas UDFs
instead of server-side iterators.

Layout:
    cells/      exact Z2/Z3/XZ2 space-filling curves, binned time, hierarchical
                grid cells (H3/S2-style), and the range-cover planner
    geom/       numpy WKB codec + vectorized geometry kernels (no shapely)
    functions/  ST_* SQL function surface + native cell encoding expressions
    plans/      query planning: filter -> cell ranges -> Catalyst predicates
    operators/  spatial join, kNN, tiling/density, stats, dedup, similarity,
                text analysis, track processes
    sources/    synthetic image fixture, partitioned table layout with
                lineage/metrics checkpointing, export sinks
    streaming/  upsert-by-key live layer with event-time ordering + TTL
"""

__version__ = "0.1.0"

# Python workers import this package when they unpickle an engine UDF; from
# then on each task skips re-reading every zip directory on sys.path.
from geomesa_spark import _zipcache

_zipcache.install()

from geomesa_spark.session import get_spark, configure  # noqa: E402,F401
