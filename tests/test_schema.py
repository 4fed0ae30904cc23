"""The vtype table: every value type maps to one Arrow and one Spark
type and back, and the manifest DDL is the Arrow schema's."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from arcade_spark.schema import (
    MANIFEST_DDL,
    arrow_type_for,
    arrow_vtype,
    spark_type_for,
    spark_vtype,
)

_SPARK = {
    "str": T.StringType(), "binary": T.BinaryType(), "ts": T.TimestampType(),
    "tsntz": T.TimestampNTZType(), "int": T.LongType(), "i32": T.IntegerType(),
    "i16": T.ShortType(), "i8": T.ByteType(), "double": T.DoubleType(),
    "float": T.FloatType(), "date": T.DateType(), "bool": T.BooleanType(),
}


@pytest.mark.parametrize("vt", sorted(_SPARK))
def test_vtype_round_trips(vt):
    assert spark_vtype(_SPARK[vt]) == vt
    assert spark_type_for(vt) == _SPARK[vt].simpleString()
    assert arrow_vtype(arrow_type_for(vt)) == vt


def test_source_arrow_types():
    assert arrow_vtype(pa.string()) == "str"
    assert arrow_vtype(pa.binary()) == "binary"
    assert arrow_vtype(pa.timestamp("ns")) == "tsntz"
    assert arrow_vtype(pa.timestamp("s", tz="Europe/Athens")) == "ts"
    with pytest.raises(TypeError, match="unsupported"):
        arrow_vtype(pa.date64())
    # a collated string would decode as a plain one and compare differently
    with pytest.raises(TypeError, match="unsupported"):
        spark_vtype(T.StringType("UTF8_LCASE"))


def test_manifest_ddl():
    assert MANIFEST_DDL == (
        "part_id int, n_blocks int, n_cols int, n_rows bigint, raw_bytes bigint, "
        "encoded_bytes bigint, encode_seconds double, throughput_mbps double, "
        "codec_counts string, columns string, run_id string, status string, "
        "format_rev int, mode string, num_parts int, salt_buckets int, "
        "order_col string, source string"
    )
