"""Arrow export surface.

Reference parity: GeoMesa's Arrow scans encode results as Arrow IPC streams
with sorted, dictionary-encoded batches merged client-side (index-api/.../
iterators/ArrowScan.scala:49-246, geomesa-arrow-gt DeltaWriter).  Spark is
Arrow-native already, so the surface is thin:

* ``to_arrow_table``  — whole result as one pyarrow.Table (driver-side).
* ``to_arrow_ipc``    — serialized Arrow IPC stream bytes, optionally sorted
  (the reference's sorted single-file output = orderBy + single stream).
* ``dictionary_encode`` — dictionary-encodes chosen string columns, the
  ArrowScan dictionary-field behavior.
* ``write_arrow_partitions`` — one IPC file per partition via mapInArrow
  (executor-side, no driver collect) — the bulk-export path.
* ``local_frame`` — driver-built rows as an Arrow local relation, the
  import direction operators use for their small broadcast tables.
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator, Optional, Union

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType, TimestampType


def _naive_as_local(v):
    """A naive datetime means local time, as in ``createDataFrame(list)``;
    pyarrow would read it as UTC."""
    if isinstance(v, dt.datetime) and v.tzinfo is None:
        return v.astimezone(dt.timezone.utc)
    return v


def local_frame(spark: SparkSession, rows: list,
                schema: Union[StructType, str]) -> DataFrame:
    """DataFrame of driver-side ``rows`` (tuples in ``schema`` order) built
    through a pyarrow.Table, so Spark plans a ``LocalTableScan``.

    ``createDataFrame(list)`` plans a ``Scan ExistingRDD`` instead, and
    every scan of it runs a job of Python tasks.  Not via pandas: pandas
    turns an int64 column with nulls into float64 and rounds ids > 2^53.
    Naive datetimes in top-level timestamp columns mean local time, as in
    ``createDataFrame(list)``; nested ones are read as UTC."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    arrays = []
    for i, (field, afield) in enumerate(zip(schema.fields, arrow_schema)):
        col = [r[i] for r in rows]
        if isinstance(field.dataType, TimestampType):
            col = [_naive_as_local(v) for v in col]
        arrays.append(pa.array(col, type=afield.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema),
                                 schema)


def to_arrow_table(df: DataFrame, sort_by: Optional[list] = None) -> pa.Table:
    if sort_by:
        df = df.orderBy(*sort_by)
    return df.toArrow()


def dictionary_encode(table: pa.Table, columns: list[str]) -> pa.Table:
    arrays, fields = [], []
    for field in table.schema:
        col = table.column(field.name)
        if field.name in columns:
            col = col.combine_chunks().dictionary_encode()
            field = pa.field(field.name, col.type)
        arrays.append(col)
        fields.append(field)
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def to_arrow_ipc(df: DataFrame, sort_by: Optional[list] = None,
                 dict_columns: Optional[list] = None) -> bytes:
    table = to_arrow_table(df, sort_by)
    if dict_columns:
        table = dictionary_encode(table, dict_columns)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue().to_pybytes()


def read_arrow_ipc(data: bytes) -> pa.Table:
    with pa.ipc.open_stream(pa.BufferReader(data)) as reader:
        return reader.read_all()


def write_arrow_partitions(df: DataFrame, path: str) -> int:
    """Write one Arrow IPC file per partition, executor-side (mapInArrow).

    Returns the number of files written. The per-partition writer is the
    scalable analog of the reference's distributed Arrow export jobs.
    """
    import os
    import uuid

    os.makedirs(path, exist_ok=True)

    def write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        writer = None
        fname = os.path.join(path, f"part-{uuid.uuid4().hex}.arrow")
        n = 0
        for batch in batches:
            if writer is None:
                sink = pa.OSFile(fname, "wb")
                writer = pa.ipc.new_stream(sink, batch.schema)
            writer.write_batch(batch)
            n += batch.num_rows
        if writer is not None:
            writer.close()
            sink.close()
        yield pa.RecordBatch.from_pydict({"rows": [n]})

    counts = df.mapInArrow(write, "rows long").collect()
    return sum(1 for c in counts if c.rows > 0)
