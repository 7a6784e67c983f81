"""Staging landing for the remote path, outside the engine.

A remote collector writes parquet into ``powa_<ds>_src_tmp/srvid=N``;
this module plays that collector with pyarrow, so landing runs no Spark
job and stays out of the tick's job and task counts.  The file layout is
the monitored server's: ``srvid`` lives only in the partition directory.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T


def arrow_type(dtype: T.DataType) -> pa.DataType:
    if isinstance(dtype, T.LongType):
        return pa.int64()
    if isinstance(dtype, T.IntegerType):
        return pa.int32()
    if isinstance(dtype, T.DoubleType):
        return pa.float64()
    if isinstance(dtype, T.DecimalType):
        return pa.decimal128(dtype.precision, dtype.scale)
    if isinstance(dtype, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(dtype, T.StringType):
        return pa.string()
    if isinstance(dtype, T.BooleanType):
        return pa.bool_()
    if isinstance(dtype, T.ArrayType):
        return pa.list_(arrow_type(dtype.elementType))
    if isinstance(dtype, T.StructType):
        return pa.struct([(f.name, arrow_type(f.dataType)) for f in dtype.fields])
    raise TypeError(f"no arrow type for {dtype}")


def land(root: str, table: str, schema: T.StructType, srvid: int,
         rows: list[tuple], name: str) -> int:
    """Write ``rows`` (in ``schema`` order, srvid first) as one parquet
    file of ``<root>/<table>/srvid=<srvid>``; returns the row count."""
    fields = [f for f in schema.fields if f.name != "srvid"]
    cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
    arrays = [
        pa.array(list(cols[k]), type=arrow_type(f.dataType))
        for k, f in enumerate(schema.fields) if f.name != "srvid"
    ]
    tbl = pa.Table.from_arrays(arrays, names=[f.name for f in fields])
    d = os.path.join(root, table, f"srvid={srvid}")
    os.makedirs(d, exist_ok=True)
    pq.write_table(tbl, os.path.join(d, f"part-{name}.parquet"))
    return len(rows)
