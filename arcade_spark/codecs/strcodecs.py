"""String/binary codecs: plain, local dictionary, differential global
dictionary (the reference's triple — writer.cpp:63-373), plus RLE and a
vectorized FSST-style symbol-table codec per the north star.

All kernels are numpy-vectorized over Arrow-shaped (lengths, payload)
blocks; factorization happens once per block (pandas C hash path) and is
shared between stats, selector, and the dict codecs.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from arcade_spark.bits import (
    bit_width,
    pack_sections,
    pack_uints,
    unpack_sections,
    unpack_uints,
)
from arcade_spark.blocks import StrBlock, object_array_to_strblock
from arcade_spark.codecs.intcodecs import decode_for_int, encode_for_int
from arcade_spark.gdict import GlobalDict
from arcade_spark.postpass import zstd_compressed_len

# ------------------------------------------------------- factorization


@dataclass
class StrFactor:
    """One factorization shared by stats + dict codecs: ``codes`` index
    ``uniques_arrow`` which is sorted ascending (the reference keeps
    dictionaries sorted to power zone maps — writer.cpp:57-61). All
    Arrow C kernels — per-row Python only materializes lazily via
    ``uniques`` (needed by the global-dict hash map, cardinality-bounded)."""

    codes: np.ndarray  # int64[n] into uniques
    uniques_arrow: pa.Array  # large_binary[u], sorted
    _uniques_obj: np.ndarray | None = None

    @property
    def n_distinct(self) -> int:
        return len(self.uniques_arrow)

    @property
    def uniques(self) -> np.ndarray:
        if self._uniques_obj is None:
            self._uniques_obj = np.asarray(
                self.uniques_arrow.to_pandas(), dtype=object
            )
        return self._uniques_obj

    @property
    def uniques_nbytes(self) -> int:
        return int(pc.sum(pc.binary_length(self.uniques_arrow)).as_py() or 0)


def factorize_block(block: StrBlock) -> StrFactor:
    arr = block.to_arrow(binary=True)
    if block.validity is not None:
        # codecs never see nulls: sentinel b'' under null slots
        arr = pc.fill_null(arr, pa.scalar(b"", type=pa.large_binary()))
    return factorize_arrow(arr)


def factorize_arrow(arr: pa.Array) -> StrFactor:
    """Codes of a null-free binary array into its sorted distinct set."""
    d = pc.dictionary_encode(arr)
    codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniq = d.dictionary
    order = pc.array_sort_indices(uniq)
    o = order.to_numpy(zero_copy_only=False)
    rank = np.empty(len(o), dtype=np.int64)
    rank[o] = np.arange(len(o))
    sorted_uniq = pc.take(uniq, order)
    if sorted_uniq.type != pa.large_binary():
        sorted_uniq = sorted_uniq.cast(pa.large_binary())
    return StrFactor(codes=rank[codes], uniques_arrow=sorted_uniq)


# ------------------------------------------------------------- plain
# Raw values: FOR-bitpacked lengths + concatenated payload (the
# reference serializes plain chunks as varint-framed raw strings —
# writer.cpp:74-81; our framing is columnar instead of interleaved).


def encode_plain(block: StrBlock) -> tuple[bytes, dict]:
    lens_payload, _ = encode_for_int(block.lengths)
    payload = pack_sections(lens_payload, block.payload)
    return payload, {"codec": "plain", "n_values": block.n}


def _rows(lens_sec, data, n: int) -> pa.Array:
    """The ``n`` rows over FOR-packed lengths and their concatenated
    bytes, as one large_binary array (zero-copy over ``data``)."""
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(decode_for_int(lens_sec, {"n_values": n}), out=offs[1:])
    return pa.Array.from_buffers(
        pa.large_binary(), n, [None, pa.py_buffer(offs), pa.py_buffer(data)], null_count=0
    )


def decode_plain(payload, n: int) -> pa.Array:
    lens_sec, data_sec = unpack_sections(payload)
    return _rows(lens_sec, data_sec, n)


def _serialize_values(values) -> bytes:
    """Serialize a (small) sorted value list — dict payloads. Accepts a
    pyarrow binary array or a numpy object array of bytes."""
    if isinstance(values, (pa.Array, pa.ChunkedArray)):
        from arcade_spark.blocks import strblock_from_arrow

        blk = strblock_from_arrow(
            values.combine_chunks() if isinstance(values, pa.ChunkedArray) else values
        )
    else:
        blk = object_array_to_strblock(values)
    payload, _ = encode_plain(blk)
    return struct.pack("<I", blk.n) + payload


def decode_values(buf) -> pa.Array:
    """A serialized value list (a dictionary segment) as large_binary."""
    mv = memoryview(buf)
    (n,) = struct.unpack_from("<I", mv, 0)
    return decode_plain(mv[4:], n)


# --------------------------------------------------------- dict_local
# This block's sorted distinct set + bit-packed codes (writer.cpp:255-373;
# code width minimized by dict size as in writer.cpp:316-370, generalized
# to arbitrary bit widths).


def encode_dict_local(block: StrBlock, fact: StrFactor) -> tuple[bytes, dict]:
    """Payload = bit-packed codes only; the serialized dictionary goes
    to the chunk's ``seg`` column (FORMAT_REV 6 split: zone-pruned
    blocks ship only their segment for replay, never the code array)."""
    u = fact.n_distinct
    w = bit_width(u - 1) if u > 1 else 0
    payload = pack_uints(fact.codes.view(np.uint64), w)
    return payload, {
        "codec": "dict_local",
        "n_values": block.n,
        "dict_len": u,
        "code_width": w,
        "seg": _serialize_values(fact.uniques_arrow),
    }


# -------------------------------------------------------- dict_global
# Differential global dictionary (writer.cpp:167-253): store only values
# new to the running per-partition dictionary; codes index the
# concatenated dictionary. The code width is chosen from the *global*
# size after append, as the reference does (writer.cpp:198-252).


def encode_dict_global(
    block: StrBlock, fact: StrFactor, gdict: GlobalDict
) -> tuple[bytes, dict]:
    diff = gdict.diff(fact.uniques)
    global_start = gdict.append(diff)
    gcodes = gdict.codes_for(fact.uniques, fact.codes)
    gsize = len(gdict)
    w = bit_width(gsize - 1) if gsize > 1 else 0
    dict_sec = _serialize_values(np.asarray(diff, dtype=object))
    # diff-dump history feeds the forward-projection cost model
    # (sizediff.push_back — writer.cpp:180)
    gdict.record_diff_dump(len(dict_sec))
    payload = pack_uints(gcodes.view(np.uint64), w)
    return payload, {
        "codec": "dict_global",
        "n_values": block.n,
        "dict_len": len(diff),
        "code_width": w,
        "global_start": global_start,
        "global_size": gsize,
        "gdict_epoch": gdict.epoch,
        "seg": dict_sec,
    }


# ------------------------------------------------------------- rle_str
# Dictionary + run-length codes: beats dict on sorted/clustered
# low-cardinality columns (lang). Runs are computed on the factorized
# codes (vectorized), not on raw strings.


def encode_rle_str(block: StrBlock, fact: StrFactor) -> tuple[bytes, dict]:
    codes = fact.codes
    n = len(codes)
    if n == 0:
        starts = np.empty(0, dtype=np.int64)
        run_lens = np.empty(0, dtype=np.int64)
    else:
        change = np.nonzero(codes[1:] != codes[:-1])[0] + 1
        starts = np.concatenate([[0], change])
        run_lens = np.diff(np.concatenate([starts, [n]])).astype(np.int64)
    run_codes = codes[starts]
    u = fact.n_distinct
    w = bit_width(u - 1) if u > 1 else 0
    lens_payload, _ = encode_for_int(run_lens)
    payload = pack_sections(
        _serialize_values(fact.uniques_arrow),
        struct.pack("<I", len(run_codes)) + pack_uints(run_codes.view(np.uint64), w),
        lens_payload,
    )
    return payload, {
        "codec": "rle_str",
        "n_values": n,
        "dict_len": u,
        "code_width": w,
        "n_runs": len(run_codes),
    }


def decode_rle_str(payload, meta) -> tuple[np.ndarray, pa.Array]:
    """(per-row codes, the block's dictionary)."""
    dict_sec, codes_sec, lens_sec = unpack_sections(payload)
    (nruns,) = struct.unpack_from("<I", codes_sec, 0)
    run_codes = unpack_uints(codes_sec[4:], meta["code_width"], nruns).view(np.int64)
    run_lens = decode_for_int(lens_sec, {"n_values": nruns})
    return np.repeat(run_codes, run_lens), decode_values(dict_sec)


# ---------------------------------------------------------------- fsst
# Vectorized FSST-style symbol-table compression (north star requires
# FSST; reference has none — README.md:120 lists only snappy-on-dicts).
# Symbols are 1- or 2-byte sequences mapped to codes 0..254; code 255
# escapes a literal byte. Greedy longest-match left-to-right is computed
# without any per-byte Python via a run-parity trick (see _greedy_select).
# The whole concatenated payload is encoded at once; per-string
# boundaries are restored from the stored original lengths, so symbols
# crossing string boundaries are harmless.

ESCAPE = 255
MAX_SYMBOLS = 255


def _greedy_select_positions(cand: np.ndarray) -> np.ndarray:
    """Greedy non-overlapping selection of 2-byte matches scanning left
    to right == within each maximal run of candidate positions, select
    positions at even offset from the run start. Computed sparsely over
    the candidate positions only (m ≤ n), int32 domain."""
    cand_pos = np.flatnonzero(cand).astype(np.int32)
    m = len(cand_pos)
    if m == 0:
        return cand_pos
    gap = np.empty(m, dtype=bool)
    gap[0] = True
    np.greater(np.diff(cand_pos), 1, out=gap[1:])
    run_id = np.cumsum(gap, dtype=np.int32) - 1
    run_start = cand_pos[gap]
    offset = cand_pos - run_start[run_id]
    return cand_pos[(offset & 1) == 0]


def _greedy_select(cand: np.ndarray) -> np.ndarray:
    """Boolean-mask wrapper around _greedy_select_positions."""
    sel = np.zeros(len(cand), dtype=bool)
    sel[_greedy_select_positions(cand)] = True
    return sel


def train_fsst(sample: np.ndarray, max_digrams: int = 192) -> tuple[np.ndarray, np.ndarray]:
    """Build the symbol table from a byte sample.

    Returns (sym_lens uint8[n_sym], sym_bytes uint8[n_sym, 2]): codes
    0..n_sym-1; 1-byte symbols use only column 0.
    """
    if len(sample) < 8:
        return np.empty(0, dtype=np.uint8), np.empty((0, 2), dtype=np.uint8)
    byte_counts = np.bincount(sample, minlength=256)
    dig = sample[:-1].astype(np.int32) * 256 + sample[1:]
    dig_counts = np.bincount(dig, minlength=65536)
    # digram saving per occurrence ≈ 1 byte vs two single-byte codes
    dig_order = np.argsort(dig_counts)[::-1]
    good = dig_order[dig_counts[dig_order] >= 4][:max_digrams]
    n_dig = len(good)
    n_single = min(MAX_SYMBOLS - n_dig, int((byte_counts > 0).sum()))
    single_order = np.argsort(byte_counts)[::-1][:n_single]
    single_order = single_order[byte_counts[single_order] > 0]
    n_sym = n_dig + len(single_order)
    sym_lens = np.empty(n_sym, dtype=np.uint8)
    sym_bytes = np.zeros((n_sym, 2), dtype=np.uint8)
    sym_lens[:n_dig] = 2
    sym_bytes[:n_dig, 0] = good // 256
    sym_bytes[:n_dig, 1] = good % 256
    sym_lens[n_dig:] = 1
    sym_bytes[n_dig:, 0] = single_order
    return sym_lens, sym_bytes


def _tables(sym_lens: np.ndarray, sym_bytes: np.ndarray):
    dig_code = np.full(65536, -1, dtype=np.int32)
    sing_code = np.full(256, -1, dtype=np.int32)
    for code in range(len(sym_lens)):
        if sym_lens[code] == 2:
            dig_code[int(sym_bytes[code, 0]) * 256 + int(sym_bytes[code, 1])] = code
        else:
            sing_code[int(sym_bytes[code, 0])] = code
    return dig_code, sing_code


def fsst_compress(data: np.ndarray, dig_code: np.ndarray, sing_code: np.ndarray) -> np.ndarray:
    """Encode a uint8 byte stream against the tables. Fully vectorized,
    int32/uint8 domain throughout (cache-friendly on slow cores)."""
    n = len(data)
    if n == 0:
        return data
    is_single = sing_code[data] >= 0
    cand = np.zeros(n, dtype=bool)
    dig = np.empty(0, dtype=np.int32)
    if n >= 2:
        dig = (data[:-1].astype(np.int32) << 8) | data[1:]
        np.greater_equal(dig_code[dig], 0, out=cand[:-1])
    sel_pos = _greedy_select_positions(cand)
    covered = np.zeros(n, dtype=bool)
    covered[sel_pos] = True
    out_len = np.where(is_single, np.uint8(1), np.uint8(2))
    out_len[covered] = 1  # digram code byte
    covered[sel_pos + 1] = True  # second byte of each digram emits nothing
    out_len[sel_pos + 1] = 0
    off = np.empty(n, dtype=np.int32)
    off[0] = 0
    np.cumsum(out_len[:-1], dtype=np.int32, out=off[1:])
    total = int(off[-1] + out_len[-1])
    out = np.empty(total, dtype=np.uint8)
    out[off[sel_pos]] = dig_code[dig[sel_pos]].astype(np.uint8)
    lit_single = ~covered & is_single
    ls_pos = np.flatnonzero(lit_single)
    out[off[ls_pos]] = sing_code[data[ls_pos]].astype(np.uint8)
    lit_esc = ~covered & ~is_single
    le_pos = np.flatnonzero(lit_esc)
    out[off[le_pos]] = ESCAPE
    out[off[le_pos] + 1] = data[le_pos]
    return out


def fsst_decompress(enc: np.ndarray, sym_lens: np.ndarray, sym_bytes: np.ndarray) -> np.ndarray:
    """Decode a code stream (symbols 1..W bytes, W ≤ 8 in the ratio
    profile). Escape resolution uses the same greedy parity trick (an
    escape consumes exactly the next byte); each code's expansion
    scatters one byte column per pass — W vectorized scatters total."""
    n = len(enc)
    if n == 0:
        return enc
    esc_pos = _greedy_select_positions(enc == ESCAPE)
    lens_lut = np.zeros(256, dtype=np.uint8)
    lens_lut[: len(sym_lens)] = sym_lens
    out_len = lens_lut[enc]
    out_len[esc_pos] = 1
    if len(esc_pos):
        out_len[esc_pos + 1] = 0  # escaped literal byte emits with the escape
    nonsym = np.zeros(n, dtype=bool)
    nonsym[esc_pos] = True
    if len(esc_pos):
        nonsym[esc_pos + 1] = True
    off = np.empty(n, dtype=np.int64)
    off[0] = 0
    np.cumsum(out_len[:-1], dtype=np.int64, out=off[1:])
    total = int(off[-1] + out_len[-1])
    out = np.empty(total, dtype=np.uint8)
    out[off[esc_pos]] = enc[esc_pos + 1] if len(esc_pos) else 0
    width = sym_bytes.shape[1] if len(sym_lens) else 0
    sym_pos = np.flatnonzero(~nonsym)
    sym_codes = enc[sym_pos]
    for k in range(width):
        bk = np.zeros(256, dtype=np.uint8)
        bk[: len(sym_lens)] = sym_bytes[:, k]
        sel = lens_lut[sym_codes] > k
        out[off[sym_pos[sel]] + k] = bk[sym_codes[sel]]
    return out


def _serialize_table(sym_lens: np.ndarray, sym_bytes: np.ndarray) -> bytes:
    """Variable-width symbol table (FORMAT_REV 9): count byte, per-
    symbol lengths (1..8), then the concatenated expansion bytes."""
    n = len(sym_lens)
    parts = [struct.pack("<B", n), sym_lens.tobytes()]
    for c in range(n):
        parts.append(sym_bytes[c, : sym_lens[c]].tobytes())
    return b"".join(parts)


def _deserialize_table(buf) -> tuple[np.ndarray, np.ndarray]:
    mv = memoryview(buf)
    (n_sym,) = struct.unpack_from("<B", mv, 0)
    sym_lens = np.frombuffer(mv[1: 1 + n_sym], dtype=np.uint8)
    w = int(sym_lens.max()) if n_sym else 1
    sym_bytes = np.zeros((n_sym, max(w, 1)), dtype=np.uint8)
    off = 1 + n_sym
    flat = np.frombuffer(mv[off: off + int(sym_lens.sum())], dtype=np.uint8)
    p = 0
    for c in range(n_sym):
        ln = int(sym_lens[c])
        sym_bytes[c, :ln] = flat[p: p + ln]
        p += ln
    return sym_lens, sym_bytes


FSST_SAMPLE_BYTES = 262144
# ratio-profile parameters (fsst_rounds > 0): round 1 trains fewer
# digrams to leave code space for merged symbols, each merge round
# promotes the hottest code PAIRS into new symbols (expansions
# concatenate, capped at 8 bytes — real-FSST symbol lengths)
FSST_ROUNDS_MAX_DIGRAMS = 64
FSST_MERGE_PER_ROUND = 40


def _merge_round(
    enc: np.ndarray, expans: list[bytes], max_new: int, min_count: int = 4
) -> tuple[np.ndarray, list[bytes]]:
    """One pair-merge round over a CODE stream: count adjacent code
    pairs (skipping escape pairs — an escaped literal byte is raw data,
    not a code), promote the hottest ≤ ``max_new`` pairs whose merged
    expansion fits 8 bytes into new codes, and rewrite the stream with
    the same greedy run-parity selection the byte-level pass uses.
    Existing codes keep their values, so merging composes."""
    n = len(enc)
    if n < 2 or len(expans) >= 255:
        return enc, expans
    esc = _greedy_select_positions(enc == ESCAPE)
    prot = np.zeros(n, dtype=bool)
    prot[esc] = True
    if len(esc):
        prot[np.minimum(esc + 1, n - 1)] = True
    pairs = (enc[:-1].astype(np.int64) << 8) | enc[1:]
    ok = ~prot[:-1] & ~prot[1:]
    elen = np.zeros(256, dtype=np.int64)
    elen[: len(expans)] = [len(e) for e in expans]
    ok &= (elen[enc[:-1]] + elen[enc[1:]]) <= 8
    if not ok.any():
        return enc, expans
    vals, cts = np.unique(pairs[ok], return_counts=True)
    avail = 255 - len(expans)
    order = np.argsort(-cts)
    good = [int(vals[i]) for i in order if cts[i] >= min_count]
    good = good[: min(max_new, avail)]
    if not good:
        return enc, expans
    pair_code = np.full(65536, -1, dtype=np.int32)
    new_exp = list(expans)
    for i, p in enumerate(good):
        pair_code[p] = len(expans) + i
        new_exp.append(expans[p >> 8] + expans[p & 0xFF])
    cand = np.zeros(n, dtype=bool)
    cand[:-1] = (pair_code[pairs] >= 0) & ok
    sel = _greedy_select_positions(cand)
    out_len = np.ones(n, dtype=np.uint8)
    out_len[sel + 1] = 0
    off = np.empty(n, dtype=np.int64)
    off[0] = 0
    np.cumsum(out_len[:-1], out=off[1:])
    total = int(off[-1] + out_len[-1])
    out = np.empty(total, dtype=np.uint8)
    keep = out_len > 0
    out[off[keep]] = enc[keep]
    out[off[sel]] = pair_code[pairs[sel]].astype(np.uint8)
    return out, new_exp


def _expansions_to_table(expans: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    lens = np.array([len(e) for e in expans], dtype=np.uint8)
    w = int(lens.max()) if len(lens) else 1
    b = np.zeros((len(expans), max(w, 1)), dtype=np.uint8)
    for c, e in enumerate(expans):
        b[c, : len(e)] = np.frombuffer(e, dtype=np.uint8)
    return lens, b


def _fsst_encode_stream(
    data: np.ndarray, rounds: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(enc, sym_lens, sym_bytes) for a byte stream: round-1 digram
    pass, then ``rounds`` pair-merge rounds (the ratio profile)."""
    md = FSST_ROUNDS_MAX_DIGRAMS if rounds > 0 else 192
    sym_lens, sym_bytes = train_fsst(data[:FSST_SAMPLE_BYTES], max_digrams=md)
    dig_code, sing_code = _tables(sym_lens, sym_bytes)
    enc = fsst_compress(data, dig_code, sing_code)
    if rounds > 0 and len(sym_lens):
        expans = [bytes(sym_bytes[c, : sym_lens[c]]) for c in range(len(sym_lens))]
        for _ in range(rounds):
            enc, expans = _merge_round(enc, expans, FSST_MERGE_PER_ROUND)
        sym_lens, sym_bytes = _expansions_to_table(expans)
    return enc, sym_lens, sym_bytes


def encode_fsst(block: StrBlock, rounds: int = 0) -> tuple[bytes, dict]:
    data = np.frombuffer(block.payload, dtype=np.uint8)
    enc, sym_lens, sym_bytes = _fsst_encode_stream(data, rounds)
    lens_payload, _ = encode_for_int(block.lengths)
    payload = pack_sections(
        _serialize_table(sym_lens, sym_bytes), lens_payload, enc.tobytes()
    )
    return payload, {"codec": "fsst", "n_values": block.n, "dict_len": len(sym_lens)}


def decode_fsst(payload, n: int) -> pa.Array:
    table_sec, lens_sec, enc_sec = unpack_sections(payload)
    sym_lens, sym_bytes = _deserialize_table(table_sec)
    data = fsst_decompress(np.frombuffer(enc_sec, dtype=np.uint8), sym_lens, sym_bytes)
    return _rows(lens_sec, data, n)


def estimate_fsst_bytes(block: StrBlock, rounds: int = 0) -> int:
    """Selector estimate: train + encode on a payload sample, scale the
    ratio to the full payload; add lengths + table overhead. The ratio
    profile (rounds > 0) also applies the post-pass codec to the sample
    so the comparison against plain (whose estimate is post-aware via
    zstd_sample_ratio) stays apples-to-apples."""
    data = np.frombuffer(block.payload, dtype=np.uint8)
    if len(data) == 0:
        return 64
    sample = data[: min(len(data), 65536)]
    enc, sym_lens, _sym_bytes = _fsst_encode_stream(sample, rounds)
    if len(sym_lens) == 0:
        return len(data) * 2
    enc_bytes = zstd_compressed_len(enc.tobytes()) if rounds > 0 else len(enc)
    ratio = enc_bytes / len(sample)
    lens_size = len(encode_for_int(block.lengths)[0])
    return int(len(data) * ratio) + lens_size + int(sym_lens.sum()) + len(sym_lens) + 16


# ------------------------------------------------------ the block view


def decode_str_payload(payload, meta) -> tuple[np.ndarray | None, pa.Array | None]:
    """``(codes, entries)`` of one string payload (post-pass already
    undone) — the only reader of the five payload layouts. ``codes`` is
    int64 row → entry index, or None for plain/fsst, whose entries are
    the rows themselves; ``entries`` is the block's own dictionary (the
    rle_str uniques, the dict_local segment) or None for dict_global,
    whose codes index the running dictionary (``core.str_codes``).
    Null rows hold b'' sentinels; validity lives outside the payload."""
    codec, n = meta["codec"], meta["n_values"]
    if codec == "plain":
        return None, decode_plain(payload, n)
    if codec == "fsst":
        return None, decode_fsst(payload, n)
    if codec == "rle_str":
        return decode_rle_str(payload, meta)
    if codec not in ("dict_local", "dict_global"):  # pragma: no cover
        raise ValueError(codec)
    codes = unpack_uints(payload, meta["code_width"], n).view(np.int64)
    return codes, (decode_values(meta["seg"]) if codec == "dict_local" else None)
