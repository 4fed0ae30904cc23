"""Spark-side names for the on-disk tables and the value types. The
tables' one definition is the Arrow schemas in ``manifest``, the
queryable analogue of ARCADE's binary file/block/chunk headers
(``fileH`` + ``blocksizes`` + ``columnindexes`` + ``struct D``,
process.h:5-20, writer.cpp:419-493); ``MANIFEST_DDL`` is derived from
them. Each logical value type (vtype) is one row of ``_VTYPES``: its
Arrow type in decoded blocks and its Spark type.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from arcade_spark.manifest import MANIFEST_ARROW_SCHEMA

MANIFEST_DDL = ", ".join(
    f"{f.name} {f.dataType.simpleString()}" for f in from_arrow_schema(MANIFEST_ARROW_SCHEMA)
)

_VTYPES = {  # vtype: (Arrow type, Spark type)
    "str": (pa.large_string(), "string"),
    "binary": (pa.large_binary(), "binary"),
    "ts": (pa.timestamp("us", tz="UTC"), "timestamp"),
    "tsntz": (pa.timestamp("us"), "timestamp_ntz"),
    "int": (pa.int64(), "bigint"),
    "i32": (pa.int32(), "int"),
    "i16": (pa.int16(), "smallint"),
    "i8": (pa.int8(), "tinyint"),
    "double": (pa.float64(), "double"),
    "float": (pa.float32(), "float"),
    "date": (pa.date32(), "date"),
    "bool": (pa.bool_(), "boolean"),
}
_BY_SPARK = {spark: vt for vt, (_, spark) in _VTYPES.items()}
# a source file's Arrow type → vtype: the regular-width string types and
# every timestamp unit encode too (blocks hold microseconds)
_BY_ARROW = {arrow: vt for vt, (arrow, _) in _VTYPES.items()
             } | {pa.string(): "str", pa.binary(): "binary"}


def spark_vtype(dt: T.DataType) -> str:
    try:
        return _BY_SPARK[dt.simpleString()]
    except KeyError:
        raise TypeError(f"unsupported column type: {dt}") from None


def arrow_vtype(t: pa.DataType) -> str:
    if pa.types.is_timestamp(t):
        return "ts" if t.tz else "tsntz"
    try:
        return _BY_ARROW[t]
    except KeyError:
        raise TypeError(f"unsupported column type: {t}") from None


def arrow_type_for(vtype: str) -> pa.DataType:
    return _VTYPES[vtype][0]


def spark_type_for(vtype: str) -> str:
    return _VTYPES[vtype][1]
