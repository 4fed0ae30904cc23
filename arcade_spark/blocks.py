"""Column-block value representations and Arrow interop.

A block is the unit of encoding decisions and of scan pagination, exactly
as in the reference (65,535-row blocks — arcade.h:25, writer.cpp:442-484).
Two physical shapes cover every supported Spark type:

- ``StrBlock``  — STRING / BINARY: Arrow-style ``lengths: int64[n]`` +
  concatenated ``payload`` bytes + optional validity mask. Strings are
  handled as their UTF-8 bytes throughout (the reference treats all input
  as strings — README.md:27-28; we keep real types but the string codecs
  operate on raw bytes so decode is trivially bit-identical).
- ``IntBlock``  — BIGINT / INT / TIMESTAMP(as epoch-µs) / DOUBLE(bitcast):
  ``values: int64[n]`` + optional validity mask.

Null handling is ours (the reference has no nulls): nulls are masked out
via a validity bitmap stored in the block container; the value slots hold
b'' / 0 sentinels so codecs never see a null.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa


@dataclass
class StrBlock:
    lengths: np.ndarray  # int64[n]
    payload: bytes  # concatenated value bytes, len == lengths.sum()
    validity: np.ndarray | None = None  # bool[n], True = valid; None = all valid

    @property
    def n(self) -> int:
        return len(self.lengths)

    @property
    def nbytes(self) -> int:
        return len(self.payload) + 8 * self.n

    def offsets(self) -> np.ndarray:
        off = np.zeros(self.n + 1, dtype=np.int64)
        np.cumsum(self.lengths, out=off[1:])
        return off

    def to_object_array(self) -> np.ndarray:
        """Materialize as numpy object array of bytes (None for nulls)."""
        arr = self.to_arrow(binary=True)
        out = np.asarray(arr.to_pandas(), dtype=object)
        return out

    def to_arrow(self, binary: bool = True) -> pa.Array:
        off = self.offsets()
        validity_buf = None
        if self.validity is not None:
            validity_buf = pa.py_buffer(
                np.packbits(self.validity.astype(np.uint8), bitorder="little").tobytes()
            )
        typ = pa.large_binary() if binary else pa.large_string()
        return pa.Array.from_buffers(
            typ,
            self.n,
            [validity_buf, pa.py_buffer(off.tobytes()), pa.py_buffer(self.payload)],
            null_count=-1 if self.validity is not None else 0,
        )


@dataclass
class IntBlock:
    values: np.ndarray  # int64[n]
    validity: np.ndarray | None = None

    @property
    def n(self) -> int:
        return len(self.values)

    @property
    def nbytes(self) -> int:
        return 8 * self.n


def _arrow_validity(arr: pa.Array) -> np.ndarray | None:
    if arr.null_count == 0:
        return None
    buf = arr.buffers()[0]
    bits = np.unpackbits(
        np.frombuffer(buf, dtype=np.uint8), bitorder="little"
    )[arr.offset : arr.offset + len(arr)]
    return bits.astype(bool)


def strblock_from_arrow(arr: pa.Array) -> StrBlock:
    """Zero-copy-ish extraction of lengths/payload from a string or
    binary Arrow array (any offset width)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_binary(t):
        arr = arr.cast(pa.large_binary())
    elif pa.types.is_large_string(t):
        arr = arr.cast(pa.large_binary())
    elif not pa.types.is_large_binary(t):
        raise TypeError(f"not a string/binary array: {t}")
    validity = _arrow_validity(arr)
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int64)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    data_buf = arr.buffers()[2]
    if data_buf is None:
        payload = b""
    else:
        # slice the Arrow buffer BEFORE copying — a sliced block must
        # not pay for its parent batch's whole payload
        payload = data_buf.slice(
            int(offsets[0]), int(offsets[-1] - offsets[0])
        ).to_pybytes()
    lengths = np.diff(offsets).astype(np.int64)
    if validity is not None:
        # null slots must carry zero-length sentinels so payload slicing
        # and round-trip stay deterministic
        if lengths[~validity].sum() != 0:
            # rebuild payload without bytes under null slots
            keep = np.repeat(validity, lengths)
            payload = np.frombuffer(payload, dtype=np.uint8)[keep].tobytes()
            lengths = np.where(validity, lengths, 0)
    return StrBlock(lengths=lengths, payload=payload, validity=validity)


def intblock_from_arrow(arr: pa.Array) -> IntBlock:
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if pa.types.is_timestamp(t):
        # blocks hold microseconds: a safe cast scales other units and
        # raises on a sub-microsecond value instead of truncating it
        arr = arr.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
    elif pa.types.is_floating(t):
        # lossless bitcast for doubles
        arr = arr.cast(pa.float64()).view(pa.int64())
    elif pa.types.is_date(t):
        # date32 = days since epoch → int lane
        arr = arr.cast(pa.int32()).cast(pa.int64())
    elif pa.types.is_boolean(t):
        arr = arr.cast(pa.int64())
    elif not pa.types.is_int64(t):
        arr = arr.cast(pa.int64())
    validity = _arrow_validity(arr)
    vals = np.frombuffer(arr.buffers()[1], dtype=np.int64)[
        arr.offset : arr.offset + len(arr)
    ].copy()
    if validity is not None:
        vals[~validity] = 0
    return IntBlock(values=vals, validity=validity)


def object_array_to_strblock(values: np.ndarray) -> StrBlock:
    """From numpy object array of bytes/str (None for null)."""
    arr = pa.array(list(values), type=pa.large_binary())
    return strblock_from_arrow(arr)
