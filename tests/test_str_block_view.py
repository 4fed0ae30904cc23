"""The one string-block view (``core.str_codes``) under every consumer,
without Spark: a block sequence forced through each string codec —
plain, fsst, dict_local, dict_local seeding the running dictionary,
dict_global across a mid-sequence reset, rle_str — with null rows and
replay-only (skipped) blocks, walked the way the part kernels walk it.
Every predicate kind and its negation, the group-by codes and resolved
values, and positional decode are checked against pure Python; a
dict_global block whose ``global_start`` is out of sync raises on each
path."""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pytest

from arcade_spark import core
from arcade_spark.blocks import object_array_to_strblock
from arcade_spark.core import decode_str_positions, replay_str_block, str_codes
from arcade_spark.gdict import GlobalDict, GlobalDictDecoder
from arcade_spark.partread import _str_group_codes
from arcade_spark.readops import _Pred
from arcade_spark.selector import StrDecision

# (codec, reset_before, seed_gdict, read) per block; unread blocks
# replay their segment only, as zone-pruned blocks do
SEQUENCE = [
    ("plain", True, False, True),
    ("dict_local", True, True, True),
    ("dict_global", False, False, True),
    ("dict_global", False, False, False),
    ("fsst", False, False, False),
    ("dict_global", False, False, True),
    ("dict_global", True, False, True),
    ("dict_global", False, False, False),
    ("dict_global", False, False, True),
    ("rle_str", False, False, True),
    ("dict_local", False, False, True),
    ("fsst", False, False, True),
    ("dict_global", False, False, True),
]

WORDS = [b"", b"alpha", b"alphabet", b"beta", b"b%eta", b"gamma", b"Gamma",
         b"delta\n", b"epsilon", b"\xff\x00zeta", b"eta_", b"theta"]

PREDICATES = [
    ("eq", b"beta"),
    ("eq", b""),
    ("eq", "gamma"),
    ("eq", b"absent"),
    ("in", [b"alpha", b"theta", b"absent", b""]),
    ("range", b"b", b"eps"),
    ("prefix", b"alpha"),
    ("contains", b"ta"),
    ("suffix", b"a"),
    ("like", b"%a_"),
    ("like", b"b\\%eta"),
    ("like", b"_eta%"),
    ("sample", 3, 7),
]


def _neg(pred: tuple) -> tuple:
    return ("neq" if pred[0] == "eq" else "not_" + pred[0], *pred[1:])


def _like_ref(pattern: bytes, v: bytes) -> bool:
    rx = b"".join(b".*" if c == b"%" else b"." if c == b"_" else re.escape(c)
                  for c in (pattern[i:i + 1] for i in range(len(pattern))))
    return re.fullmatch(rx, v, re.DOTALL) is not None


def _ref(pred: tuple, v: bytes) -> bool:
    kind, arg = pred[0], pred[1]
    enc = arg.encode() if isinstance(arg, str) else arg
    if kind == "eq":
        return v == enc
    if kind == "in":
        return v in enc
    if kind == "range":
        return enc <= v <= pred[2]
    if kind == "prefix":
        return v.startswith(enc)
    if kind == "contains":
        return enc in v
    if kind == "suffix":
        return v.endswith(enc)
    if kind == "like":
        return _like_ref(enc, v)
    assert kind == "sample"
    return int(hashlib.md5(v).hexdigest()[:15], 16) % pred[2] < arg


def _blocks(monkeypatch) -> list[tuple[list, bytes, dict, bool]]:
    """The encoded sequence: (values, blob, meta, read) per block."""
    rng = np.random.default_rng(15)
    gdict = GlobalDict()
    out = []
    for i, (codec, reset, seed, read) in enumerate(SEQUENCE):
        n = 300 + 37 * i
        vocab = WORDS + [b"novel-%d-%d" % (i, k) for k in range(3)]
        picks = rng.integers(0, len(vocab), n)
        if codec == "rle_str":
            picks = np.sort(picks)
        vals = [None if rng.random() < 0.1 else vocab[j] for j in picks]
        decision = StrDecision(codec, reset_before=reset, seed_gdict=seed,
                               diff=None, estimates={})
        monkeypatch.setattr(core, "choose_str_codec",
                            lambda *a, d=decision, **k: d)
        blob, meta = core.encode_str_block(
            object_array_to_strblock(np.array(vals, dtype=object)), gdict
        )
        assert (meta["codec"], meta["gdict_reset"], meta["gdict_seed"]) == (codec, reset, seed)
        out.append((vals, blob, meta, read))
    return out


@pytest.fixture
def blocks(monkeypatch):
    return _blocks(monkeypatch)


def test_every_predicate_and_its_negation(blocks):
    """All predicates on the column share one view per block and one
    running dictionary, as in the part kernel; each keeps its own flags."""
    cases = [(raw, neg) for raw in PREDICATES for neg in (False, True)]
    preds = [_Pred("c", "str", _neg(raw) if neg else raw) for raw, neg in cases]
    states = [p.new_state() for p in preds]
    gdec = GlobalDictDecoder()
    checked = 0
    for vals, blob, meta, read in blocks:
        if not read:
            replay_str_block(meta, gdec)
            continue
        view = str_codes(blob, meta, gdec)
        for p, st, (raw, neg) in zip(preds, states, cases):
            want = [i for i, v in enumerate(vals)
                    if v is not None and _ref(raw, v) != neg]
            assert list(p.positions(view, st, gdec)) == want, (meta["codec"], raw, neg)
            checked += len(want)
    assert checked > 0


def test_group_codes_and_resolved_values(blocks):
    gdec = GlobalDictDecoder()
    for vals, blob, meta, read in blocks:
        if not read:
            replay_str_block(meta, gdec)
            continue
        codes, validity, resolve = _str_group_codes(blob, meta, gdec)
        valid = [v is not None for v in vals]
        assert list(validity) == valid if validity is not None else all(valid)
        rows = np.flatnonzero(valid)
        got = resolve(codes[rows]).to_pylist()
        assert got == [vals[i] for i in rows], meta["codec"]
        # one code per distinct value
        pairs = {(int(codes[i]), vals[i]) for i in rows}
        assert len(pairs) == len({c for c, _ in pairs}) == len({v for _, v in pairs})


def test_positional_decode(blocks):
    gdec = GlobalDictDecoder()
    for vals, blob, meta, read in blocks:
        if not read:
            replay_str_block(meta, gdec)
            continue
        n = len(vals)
        pos = np.array(sorted([0, n - 1, n // 2, n // 2, 7, 7, 7, n // 3]))
        out = decode_str_positions(blob, meta, pos, gdec)
        assert list(out.to_object_array()) == [vals[i] for i in pos], meta["codec"]


def _first_bad_global(blocks):
    """gdec replayed up to the first read dict_global block after the
    start, and that block's blob with a shifted ``global_start``."""
    gdec = GlobalDictDecoder()
    for vals, blob, meta, read in blocks:
        if meta["codec"] == "dict_global" and meta["global_start"] > 0:
            return gdec, blob, {**meta, "global_start": meta["global_start"] + 1}
        replay_str_block(meta, gdec)
    raise AssertionError("no dict_global block")


@pytest.mark.parametrize("path", ["predicate", "group_by", "positions", "replay"])
def test_out_of_sync_global_start_raises(blocks, path):
    gdec, blob, meta = _first_bad_global(blocks)
    with pytest.raises(ValueError, match="out of sync"):
        if path == "predicate":
            p = _Pred("c", "str", ("eq", b"beta"))
            p.positions(str_codes(blob, meta, gdec), p.new_state(), gdec)
        elif path == "group_by":
            _str_group_codes(blob, meta, gdec)
        elif path == "positions":
            decode_str_positions(blob, meta, np.array([0, 1]), gdec)
        else:
            replay_str_block(meta, gdec)
