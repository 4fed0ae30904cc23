"""pandas/Arrow ⇄ block conversions per logical value type, shared by
the encode and decode kernels. Vectorized only — no per-row Python."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from arcade_spark.blocks import (
    IntBlock,
    StrBlock,
    intblock_from_arrow,
    strblock_from_arrow,
)
from arcade_spark.schema import arrow_type_for


def arrow_to_block(arr, vtype: str):
    """Zero-copy(ish) Arrow array → block, no pandas objects."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if vtype in ("str", "binary"):
        return strblock_from_arrow(arr)
    return intblock_from_arrow(arr)


def block_to_arrow(block, vtype: str) -> pa.Array:
    if vtype in ("str", "binary"):
        assert isinstance(block, StrBlock)
        arr = block.to_arrow(binary=True)
        return arr.cast(arrow_type_for(vtype)) if vtype == "str" else arr
    assert isinstance(block, IntBlock)
    validity_mask = None
    if block.validity is not None:
        validity_mask = ~block.validity
    if vtype in ("ts", "tsntz"):
        return pa.Array.from_pandas(block.values, mask=validity_mask, type=pa.int64()).cast(
            pa.timestamp("us")
        )
    if vtype in ("int", "i32", "i16", "i8"):
        arr = pa.Array.from_pandas(block.values, mask=validity_mask, type=pa.int64())
        return arr.cast(arrow_type_for(vtype)) if vtype != "int" else arr
    if vtype in ("double", "float"):
        floats = block.values.view(np.float64)
        arr = pa.Array.from_pandas(floats, mask=validity_mask, type=pa.float64())
        return arr.cast(pa.float32()) if vtype == "float" else arr
    if vtype == "date":
        arr = pa.Array.from_pandas(block.values, mask=validity_mask, type=pa.int64())
        return arr.cast(pa.int32()).cast(pa.date32())
    if vtype == "bool":
        arr = pa.Array.from_pandas(block.values, mask=validity_mask, type=pa.int64())
        return arr.cast(pa.bool_())
    raise TypeError(vtype)
