"""Post-pass entropy coding, generalizing the reference's snappy over
serialized dictionaries (writer.cpp:182-187, README.md:120). Applied
only to codecs whose payload must be fully materialized to read anyway
(plain/fsst/plain_int) — never to dictionary code arrays, so predicate
evaluation on codes (process.cpp:358-400 semantics) still needs no
decompression.

The one post-pass codec is zstd at level 3. On the corpus's `text`
and `html` plain payloads (16k- and 64k-row blocks) level 3 stores
0.29-0.36 of raw against level 1's 0.39-0.45, at a compress speed
(135-215 MB/s) level 1 also sits in; level 4 gains under 0.01 more and
level 6 is 3-4x slower. The level is not stored: zstd frames decode at
any level, so blocks written at another level stay readable. The
selector's estimates (``zstd_sample_ratio``, the FSST ratio profile)
compress with this same codec, so they follow the one constant."""

from __future__ import annotations

import struct

import pyarrow as pa

_CODECS = {
    "zstd": pa.Codec("zstd", compression_level=3),
    "snappy": pa.Codec("snappy"),  # the reference's choice (writer.cpp:182-187)
    "lz4": pa.Codec("lz4"),
}
POST_MIN_BYTES = 4096
POST_MIN_GAIN = 0.90
_POSTABLE = {"plain", "fsst", "plain_int"}


def maybe_post(payload: bytes, codec: str, post_codec: str = "zstd") -> tuple[bytes, str]:
    if post_codec and codec in _POSTABLE and len(payload) >= POST_MIN_BYTES:
        comp = _CODECS[post_codec].compress(payload, asbytes=True)
        if len(comp) < len(payload) * POST_MIN_GAIN:
            return struct.pack("<I", len(payload)) + comp, post_codec
    return payload, ""


def unpost(payload, post: str | None):
    if post:
        mv = memoryview(payload)
        (orig,) = struct.unpack_from("<I", mv, 0)
        return _CODECS[post].decompress(mv[4:], orig, asbytes=True)
    return payload


def zstd_compressed_len(data) -> int:
    """Bytes of ``data`` after the post-pass codec (selector estimates)."""
    return len(_CODECS["zstd"].compress(data, asbytes=True))


def zstd_sample_ratio(payload: bytes, cap: int = 65536) -> float:
    """Selector estimate of the post-pass gain on a payload sample."""
    sample = payload[:cap]
    if len(sample) < POST_MIN_BYTES:
        return 1.0
    return zstd_compressed_len(sample) / len(sample)
