"""Full scan (ArcadeReader::scan — reader.cpp:146-195): the original
typed DataFrame, bit-identical to the source, decoded per partition by
partread.scan_parts with per-(part, column) running dictionaries
replayed in block order (process.cpp:456-503). Also the Arrow type map
and zero-copy binary views the partread kernels share.

Pagination is inherent: the kernel yields one RecordBatch per decoded
block (the coroutine `co_yield` per page of the reference —
generator.h:44-60 — is just Spark's iterator model).
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from arcade_spark.schema import arrow_type_for


def _out_arrow_type(vtype: str) -> pa.DataType:
    """A column's Arrow type in scan output: the vtype's, with 32-bit
    offsets for strings and binaries."""
    return {"str": pa.string(), "binary": pa.binary()}.get(vtype) or arrow_type_for(vtype)


def _binary_views(arr: pa.Array):
    """(offsets int64[n+1], data memoryview) for a binary/large_binary
    Arrow array — zero-copy per-row slicing (`mv[off[i]:off[i+1]]`)."""
    import numpy as np

    t = arr.type
    if pa.types.is_large_binary(t) or pa.types.is_large_string(t):
        dt = np.int64
    elif pa.types.is_binary(t) or pa.types.is_string(t):
        dt = np.int32
    else:
        raise TypeError(f"not a binary array: {t}")
    offsets = np.frombuffer(arr.buffers()[1], dtype=dt)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64, copy=False)
    buf = arr.buffers()[2]
    data = memoryview(buf) if buf is not None else memoryview(b"")
    return offsets, data


def scan(
    spark: SparkSession,
    out_dir: str,
    columns: list[str] | None = None,
    emit_meta: bool = False,
) -> DataFrame:
    """Full scan: decoded DataFrame with the original schema (projected),
    read per partition in-process by partread.scan_parts (zero shuffle,
    no JVM→Python IPC of blob bytes).

    Note on pruning: even when projecting a subset, every chunk of the
    selected columns is read — differential-dictionary segments ride
    inside each chunk, so later blocks need earlier chunks' segments
    replayed (ARCADE resolves these via the previndex walk —
    process.cpp:88-123; we replay in block order)."""
    from arcade_spark.partread import Manifest, scan_parts

    return scan_parts(spark, Manifest.read(out_dir), columns, emit_meta)
