"""Single-block encode/decode API: profile → select → encode, with the
validity bitmap and codec payload framed into one self-describing blob.
This is the pure-Python core the Spark kernels (encode.py / decode.py)
call per Arrow batch — unit-testable without a SparkSession.

Blob layout: sections(validity_bitmap, codec_payload). Everything else
(codec id, widths, dict lineage, zone map) lives in the chunk's manifest
row — the queryable analogue of ARCADE's ``struct D`` header
(process.h:5-14).
"""

from __future__ import annotations

from typing import Any

import numpy as np

from arcade_spark.bits import pack_sections, pack_validity, unpack_sections, unpack_validity
from arcade_spark.blocks import IntBlock, StrBlock, strblock_from_arrow
from arcade_spark.codecs.intcodecs import INT_DECODERS, INT_ENCODERS
from arcade_spark.codecs import strcodecs as sc
from arcade_spark.gdict import GlobalDict, GlobalDictDecoder
from arcade_spark.postpass import maybe_post, unpost
from arcade_spark.selector import choose_int_codec, choose_str_codec
from arcade_spark.stats import profile_int_block, profile_str_block


def _str_zone(block: StrBlock, stats) -> tuple[bytes | None, bytes | None, bool, bool]:
    """Zone-map bounds over NON-NULL values only (FORMAT_REV 8): null
    slots hold b'' sentinels that would poison the minimum, and SQL
    min/max exclude nulls — so do the zone maps (safe for filter
    pruning too: null rows never match a predicate)."""
    if block.validity is None:
        return stats.min_val, stats.max_val, stats.min_exact, stats.max_exact
    import pyarrow.compute as pc

    from arcade_spark.stats import ZONE_MAX_LEN

    arr = block.to_arrow(binary=True).drop_null()
    if len(arr) == 0:
        return None, None, False, False
    mm = pc.min_max(arr)
    mn_full, mx_full = mm["min"].as_py(), mm["max"].as_py()
    return (
        mn_full[:ZONE_MAX_LEN],
        mx_full[:ZONE_MAX_LEN],
        len(mn_full) <= ZONE_MAX_LEN,
        len(mx_full) <= ZONE_MAX_LEN,
    )


def encode_str_block(
    block: StrBlock, gdict: GlobalDict, fsst_rounds: int = 0
) -> tuple[bytes, dict[str, Any]]:
    """``fsst_rounds`` selects the string-codec profile: 0 (default,
    THROUGHPUT) keeps 1-2-byte FSST symbols; >0 (RATIO) enables that
    many pair-merge rounds (symbols up to 8 bytes) with a post-aware
    size estimate — measured Pareto in BENCH/BASELINE.md."""
    stats = profile_str_block(block)
    decision = choose_str_codec(stats, gdict, block, fsst_rounds=fsst_rounds)

    if decision.reset_before:
        gdict.reset()

    codec = decision.codec
    if codec == "plain":
        payload, cmeta = sc.encode_plain(block)
    elif codec == "fsst":
        payload, cmeta = sc.encode_fsst(block, rounds=fsst_rounds)
    elif codec == "rle_str":
        payload, cmeta = sc.encode_rle_str(block, stats.fact)
    elif codec == "dict_local":
        payload, cmeta = sc.encode_dict_local(block, stats.fact)
        if decision.seed_gdict:
            gdict.append([bytes(v) for v in stats.fact.uniques])
    elif codec == "dict_global":
        payload, cmeta = sc.encode_dict_global(block, stats.fact, gdict)
    else:  # pragma: no cover
        raise ValueError(codec)

    seg = cmeta.pop("seg", b"")
    payload, post = maybe_post(payload, codec)
    blob = pack_sections(pack_validity(block.validity), payload)
    zmin, zmax, zmin_exact, zmax_exact = _str_zone(block, stats)
    meta: dict[str, Any] = {
        "codec": codec,
        "post": post,
        "n_values": block.n,
        "raw_bytes": block.nbytes,
        "encoded_bytes": len(blob) + len(seg),
        "seg": seg,
        "n_distinct": stats.n_distinct,
        "n_runs": stats.n_runs,
        "n_nulls": int((~block.validity).sum()) if block.validity is not None else 0,
        "code_width": cmeta.get("code_width", 0),
        "dict_len": cmeta.get("dict_len", 0),
        "global_start": cmeta.get("global_start", -1),
        "global_size": cmeta.get("global_size", -1),
        "gdict_epoch": gdict.epoch,
        "gdict_reset": decision.reset_before,
        "gdict_seed": decision.seed_gdict,
        "min_bin": zmin,
        "max_bin": zmax,
        "min_exact": zmin_exact,
        "max_exact": zmax_exact,
        "min_int": None,
        "max_int": None,
        "entropy": stats.entropy,
    }
    return blob, meta


def str_codes(blob, meta: dict[str, Any], gdec: GlobalDictDecoder):
    """The one view of a string block: ``(codes, entries, validity)``.
    ``entries`` is the Arrow array ``codes`` (int64 per row) index — the
    block's dictionary (dict_local, rle_str) or the running dictionary
    (dict_global, ``gdec.entries``); plain/fsst blocks have no codes
    (None) and their entries are the rows. Null rows hold b'' entries
    and are False in ``validity`` (None = all valid). Advances ``gdec``
    exactly as a full decode does (``replay_str_block``). Every string
    decode, predicate and group-by reads blocks through here."""
    validity_sec, payload = unpack_sections(blob)
    codes, entries = sc.decode_str_payload(unpost(payload, meta.get("post")), meta)
    replay_str_block(meta, gdec, entries)
    if entries is None:
        entries = gdec.entries
    return codes, entries, unpack_validity(validity_sec, meta["n_values"])


def decode_str_block(blob, meta: dict[str, Any], gdec: GlobalDictDecoder) -> StrBlock:
    codes, entries, validity = str_codes(blob, meta, gdec)
    out = strblock_from_arrow(entries if codes is None else entries.take(codes))
    out.validity = validity
    return out


def replay_str_block(meta: dict[str, Any], gdec: GlobalDictDecoder, local=None) -> None:
    """The running-dictionary rule, and its only copy: a reset empties
    ``gdec``; a dict_global block then appends its segment, which must
    start at ``len(gdec)`` (its ``global_start``); a seeding dict_local
    block appends its dictionary (``local`` when already parsed).
    ``str_codes`` runs it for every read block; zone-pruned blocks run
    it alone — it needs only the chunk's ``seg``, as the blob never
    ships for them (FORMAT_REV 6; SURVEY.md §4 O2, the reference
    resolves skipped blocks' segments via previndex,
    process.cpp:88-123)."""
    if meta.get("gdict_reset"):
        gdec.reset()
    codec = meta["codec"]
    if codec == "dict_global":
        if meta.get("global_start", len(gdec)) != len(gdec):
            raise ValueError(
                f"global dict replay out of sync: expected start {len(gdec)}, "
                f"chunk says {meta.get('global_start')}"
            )
        gdec.append(sc.decode_values(meta["seg"]))
    elif codec == "dict_local" and meta.get("gdict_seed"):
        gdec.append(sc.decode_values(meta["seg"]) if local is None else local)


def encode_int_block(block: IntBlock, vtype: str = "int") -> tuple[bytes, dict[str, Any]]:
    stats = profile_int_block(block)
    decision = choose_int_codec(stats)
    # zone extrema over NON-NULL slots only (FORMAT_REV 8): null slots
    # hold 0 sentinels that would poison min/max; filters never match
    # null rows, so the narrower zones stay prune-safe and make
    # column_minmax metadata-exact under nulls. All-null ⇒ no zone.
    zvals = block.values if block.validity is None else block.values[block.validity]
    if len(zvals) == 0:
        zone_min = zone_max = None
    elif vtype in ("double", "float"):
        # zone maps for float columns live in the order-preserving key
        # domain (bits.float_order_keys) — raw bitcast min/max is not
        # ordered for negative floats and would prune wrongly
        from arcade_spark.bits import float_order_keys

        keys = float_order_keys(zvals)
        zone_min, zone_max = int(keys.min()), int(keys.max())
    else:
        zone_min, zone_max = int(zvals.min()), int(zvals.max())
    payload, cmeta = INT_ENCODERS[decision.codec](block.values)
    payload, post = maybe_post(payload, decision.codec)
    blob = pack_sections(pack_validity(block.validity), payload)
    meta: dict[str, Any] = {
        "codec": decision.codec,
        "post": post,
        "n_values": block.n,
        "raw_bytes": block.nbytes,
        "encoded_bytes": len(blob),
        "seg": b"",
        "n_distinct": stats.n_distinct,
        "n_runs": stats.n_runs,
        "n_nulls": int((~block.validity).sum()) if block.validity is not None else 0,
        "code_width": cmeta.get("code_width", 0),
        "dict_len": 0,
        "global_start": -1,
        "global_size": -1,
        "gdict_epoch": 0,
        "gdict_reset": False,
        "gdict_seed": False,
        "min_bin": None,
        "max_bin": None,
        "min_exact": True,
        "max_exact": True,
        "min_int": zone_min,
        "max_int": zone_max,
        "entropy": 0.0,
    }
    return blob, meta


def decode_int_block(blob, meta: dict[str, Any]) -> IntBlock:
    validity_sec, payload = unpack_sections(blob)
    payload = unpost(payload, meta.get("post"))
    validity = unpack_validity(validity_sec, meta["n_values"])
    values = INT_DECODERS[meta["codec"]](payload, meta)
    return IntBlock(values=np.asarray(values, dtype=np.int64), validity=validity)


def decode_str_positions(blob, meta: dict[str, Any], positions, gdec: GlobalDictDecoder):
    """Late materialization (ARCADE R6, process.cpp:4-180): the rows at
    ``positions`` (any order, repeats allowed) of a string block,
    advancing running-dict state exactly as a full decode would. For
    dictionary codecs this takes codes[positions] from the entries; for
    plain/fsst it takes the byte slices of those rows. Returns a
    StrBlock of len(positions) with validity applied."""
    codes, entries, validity = str_codes(blob, meta, gdec)
    pos = np.asarray(positions, dtype=np.int64)
    out = strblock_from_arrow(entries.take(pos if codes is None else codes[pos]))
    out.validity = validity[pos] if validity is not None else None
    return out
