"""Round-trip tests for every codec on every regime fixture
(FIXTURES.md §2) — decode(encode(col)) must be byte-identical
(the north-rule invariant; ARCADE decode is lossless,
process.cpp:447-503)."""

from __future__ import annotations

import numpy as np
import pytest

from arcade_spark.bits import pack_sections, pack_uints, unpack_uints, zigzag_decode, zigzag_encode
from arcade_spark.blocks import IntBlock, StrBlock, object_array_to_strblock
from arcade_spark.codecs import intcodecs as ic
from arcade_spark.codecs import strcodecs as sc
from arcade_spark.core import (
    decode_int_block,
    decode_str_block,
    encode_int_block,
    encode_str_block,
)
from arcade_spark.gdict import GlobalDict, GlobalDictDecoder

rng = np.random.default_rng(42)


def make_block(values: list[bytes | None]) -> StrBlock:
    return object_array_to_strblock(np.array(values, dtype=object))


def block_values(block: StrBlock) -> list:
    return list(block.to_object_array())


def decode_payload(payload: bytes, meta: dict, gdec=None) -> StrBlock:
    """A bare codec payload decoded through the block view (framed with
    an empty validity section; no post-pass)."""
    gdec = GlobalDictDecoder() if gdec is None else gdec
    return decode_str_block(pack_sections(b"", payload), meta, gdec)


# ------------------------------------------------------------ bits


def test_pack_unpack_uints():
    for width in [0, 1, 3, 7, 8, 13, 31, 33, 63]:
        n = 1000
        hi = (1 << width) - 1 if width else 0
        a = rng.integers(0, hi + 1, size=n, dtype=np.uint64) if hi else np.zeros(n, np.uint64)
        buf = pack_uints(a, width)
        out = unpack_uints(buf, width, n)
        assert (out == a).all()


def test_zigzag():
    a = np.array([0, -1, 1, -2, 2, np.iinfo(np.int64).min + 1, np.iinfo(np.int64).max],
                 dtype=np.int64)
    assert (zigzag_decode(zigzag_encode(a)) == a).all()


# ------------------------------------------------------- int codecs

INT_CASES = {
    "constant": np.full(5000, 42, dtype=np.int64),
    "small_range": rng.integers(1000, 1128, size=5000).astype(np.int64),
    "sorted": np.sort(rng.integers(0, 10**12, size=5000)).astype(np.int64),
    "negative": rng.integers(-(10**9), 10**9, size=5000).astype(np.int64),
    "runs": np.repeat(rng.integers(0, 50, size=100), 50).astype(np.int64),
    "empty": np.empty(0, dtype=np.int64),
    "extremes": np.array([np.iinfo(np.int64).min, 0, np.iinfo(np.int64).max], dtype=np.int64),
    "single": np.array([7], dtype=np.int64),
}


@pytest.mark.parametrize("case", list(INT_CASES))
@pytest.mark.parametrize("codec", ["plain_int", "for_int", "delta_int", "rle_int"])
def test_int_codec_roundtrip(case, codec):
    v = INT_CASES[case]
    payload, meta = ic.INT_ENCODERS[codec](v)
    out = ic.INT_DECODERS[codec](payload, meta)
    assert (out == v).all()


def test_bitpack_roundtrip():
    for case in ["constant", "small_range", "runs", "empty", "single"]:
        v = INT_CASES[case]
        payload, meta = ic.encode_bitpack(v)
        out = ic.decode_bitpack(payload, meta)
        assert (out == v).all()


def test_int_auto_roundtrip_and_compression():
    v = INT_CASES["small_range"]
    blob, meta = encode_int_block(IntBlock(values=v))
    out = decode_int_block(blob, meta)
    assert (out.values == v).all()
    assert meta["encoded_bytes"] < 8 * len(v) / 4  # 7-bit pack ≪ 64-bit plain


# ------------------------------------------------------ str fixtures

WORDS = [f"word{i}".encode() for i in range(1000)]

STR_CASES = {
    "constant": [b"hello"] * 4096,
    "low_card_8": [WORDS[i % 8] for i in rng.integers(0, 8, 4096)],
    "card_300": [WORDS[i] for i in rng.integers(0, 300, 4096)],
    "unique_all": [f"u-{i:08d}".encode() for i in range(4096)],
    "long_runs": sorted([WORDS[i % 5] for i in range(4096)]),
    "url_like": [f"https://example-{i % 37}.com/path/to/page/{i}?q=1".encode() for i in range(4096)],
    "utf8_multibyte": [("ελληνικά-日本語-🎉-%d" % (i % 50)).encode() for i in range(2048)],
    "empty_strings": [b"", b"a", b""] * 100,
    "binary_high_entropy": [rng.integers(0, 256, size=100, dtype=np.uint8).tobytes()
                            for _ in range(512)],
    "single": [b"one"],
    "empty_block": [],
}


@pytest.mark.parametrize("case", list(STR_CASES))
def test_plain_roundtrip(case):
    blk = make_block(STR_CASES[case])
    payload, meta = sc.encode_plain(blk)
    out = decode_payload(payload, meta)
    assert block_values(out) == STR_CASES[case]


@pytest.mark.parametrize("case", [c for c in STR_CASES if STR_CASES[c]])
def test_dict_local_roundtrip(case):
    blk = make_block(STR_CASES[case])
    fact = sc.factorize_block(blk)
    payload, meta = sc.encode_dict_local(blk, fact)
    out = decode_payload(payload, meta)
    assert block_values(out) == STR_CASES[case]


@pytest.mark.parametrize("case", [c for c in STR_CASES if STR_CASES[c]])
def test_rle_roundtrip(case):
    blk = make_block(STR_CASES[case])
    fact = sc.factorize_block(blk)
    payload, meta = sc.encode_rle_str(blk, fact)
    out = decode_payload(payload, meta)
    assert block_values(out) == STR_CASES[case]


@pytest.mark.parametrize("case", list(STR_CASES))
def test_fsst_roundtrip(case):
    blk = make_block(STR_CASES[case])
    payload, meta = sc.encode_fsst(blk)
    out = decode_payload(payload, meta)
    assert block_values(out) == STR_CASES[case]


def test_fsst_compresses_urls():
    blk = make_block(STR_CASES["url_like"])
    payload, _ = sc.encode_fsst(blk)
    assert len(payload) < len(blk.payload)  # must beat raw payload on urls


def test_fsst_adversarial_escape_bytes():
    # payloads full of 0xFF (the escape code) and random bytes
    vals = [bytes([255] * 10), bytes(range(256)), b"\xff\x00\xff\xff", b""]
    blk = make_block(vals * 50)
    payload, meta = sc.encode_fsst(blk)
    out = decode_payload(payload, meta)
    assert block_values(out) == vals * 50


def test_dict_global_differential():
    gdict = GlobalDict()
    gdec = GlobalDictDecoder()
    blobs = []
    all_vals = []
    base = [f"shared-{i}".encode() for i in range(500)]
    for blocknum in range(4):
        novel = [f"novel-{blocknum}-{i}".encode() for i in range(50)]
        vals = [base[i % 500] for i in range(2000)] + novel
        blk = make_block(vals)
        fact = sc.factorize_block(blk)
        payload, meta = sc.encode_dict_global(blk, fact, gdict)
        if blocknum > 0:
            assert meta["dict_len"] == 50  # only novel values stored
        blobs.append((payload, meta, vals))
        all_vals.append(vals)
    for payload, meta, vals in blobs:
        out = decode_payload(payload, meta, gdec)
        assert block_values(out) == vals


def test_blocks_posted_at_another_zstd_level_still_decode(monkeypatch):
    """The post-pass level is not stored: blocks written with a level-1
    codec (older tables) decode bit-identically under the current one,
    through the full, the positional and the int decoders."""
    import pyarrow as pa

    from arcade_spark import postpass
    from arcade_spark.core import decode_str_positions

    r = np.random.default_rng(5)
    words = [f"w{i}".encode() for i in range(40)]
    strs = [b" ".join(words[j] for j in r.integers(0, 40, 12)) + b"%d" % i
            for i in range(3000)]
    pool = np.append(r.integers(-(2 ** 62), 2 ** 62, 14), [-(2 ** 63), 2 ** 63 - 1])
    ints = pool[r.integers(0, 16, 3000)].astype(np.int64)
    str_blk, int_blk = make_block(strs), IntBlock(values=ints)

    def encode():
        sb, sm = encode_str_block(str_blk, GlobalDict())
        ib, im = encode_int_block(int_blk)
        assert (sm["codec"], sm["post"]) == ("plain", "zstd")
        assert (im["codec"], im["post"]) == ("plain_int", "zstd")
        return sb, sm, ib, im

    current = encode()
    monkeypatch.setitem(postpass._CODECS, "zstd", pa.Codec("zstd", compression_level=1))
    sb, sm, ib, im = encode()
    monkeypatch.undo()
    assert (sb, ib) != current[::2]  # the old level wrote other bytes
    assert block_values(decode_str_block(sb, sm, GlobalDictDecoder())) == strs
    pos = np.array([0, 7, 1500, 2999])
    got = decode_str_positions(sb, sm, pos, GlobalDictDecoder())
    assert block_values(got) == [strs[i] for i in pos]
    assert np.array_equal(decode_int_block(ib, im).values, ints)


def test_nulls_roundtrip():
    vals = np.array([b"a", None, b"b", None, b""] * 200, dtype=object)
    blk = object_array_to_strblock(vals)
    gdict, gdec = GlobalDict(), GlobalDictDecoder()
    blob, meta = encode_str_block(blk, gdict)
    out = decode_str_block(blob, meta, gdec)
    assert meta["n_nulls"] == 400
    got = out.to_object_array()
    assert list(got) == list(vals)


def test_int_nulls_roundtrip():
    import pyarrow as pa

    from arcade_spark.blocks import intblock_from_arrow

    arr = pa.array([1, None, 3, None, 0] * 100, type=pa.int64())
    blk = intblock_from_arrow(arr)
    blob, meta = encode_int_block(blk)
    out = decode_int_block(blob, meta)
    assert meta["n_nulls"] == 200
    assert (out.values[out.validity] == blk.values[blk.validity]).all()
    assert (out.validity == blk.validity).all()
