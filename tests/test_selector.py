"""Selector decision-boundary tests replicating ARCADE's rules
(FIXTURES.md §2): distinct ratio 0.80 → plain (writer.cpp:63),
diff ratio 0.99 → local reset (writer.cpp:117), memory cap → local
reset (writer.cpp:114-116), plus our codec crossovers and the greedy
min-size property."""

from __future__ import annotations

import numpy as np
import pytest

import arcade_spark
from arcade_spark.blocks import object_array_to_strblock
from arcade_spark.core import decode_str_block, encode_str_block
from arcade_spark.gdict import GlobalDict, GlobalDictDecoder
from arcade_spark.selector import choose_int_codec, choose_str_codec
from arcade_spark.stats import profile_int_block, profile_str_block
from arcade_spark.blocks import IntBlock

rng = np.random.default_rng(42)


def decide(values, gdict=None):
    gdict = gdict or GlobalDict()
    blk = object_array_to_strblock(np.array(values, dtype=object))
    stats = profile_str_block(blk)
    return choose_str_codec(stats, gdict, blk), gdict, blk, stats


def test_constant_block_is_rle_or_dict():
    # dict_local with 0-bit codes and rle with one run are equally tiny;
    # either is the right answer for a constant block
    d, _, _, stats = decide([b"x"] * 4096)
    assert d.codec in ("rle_str", "dict_local")
    assert min(d.estimates.values()) < 100


def test_low_card_shuffled_is_dict():
    vals = [f"v{i % 8}".encode() for i in rng.permutation(4096)]
    d, *_ = decide(vals)
    assert d.codec in ("dict_local", "rle_str")


def test_ratio_above_080_forces_plain_or_fsst_and_reset():
    # high-entropy unique values: distinct/count = 1.0 > 0.80
    vals = [rng.integers(0, 256, 40, dtype=np.uint8).tobytes() for _ in range(2048)]
    gdict = GlobalDict()
    gdict.append([b"seeded"])
    d, g, _, _ = decide(vals, gdict)
    assert d.codec in ("plain", "fsst")
    assert d.reset_before  # writer.cpp:66-71 — high-cardinality block resets dict


def test_ratio_below_080_allows_dict():
    """ARCADE's plain rule (writer.cpp:63) on both sides of the 0.80
    edge, same value shape. At 0.79 distinct the dictionary path runs
    (a dict_local estimate exists) and the layer-3 tournament picks its
    smallest estimate — which may be plain. At 0.81 the rule skips the
    dictionaries (no estimate for them) and resets the running dict."""
    n = 4000

    def block(ratio):
        uniq = int(n * ratio)
        return [f"{i:06d}".encode() for i in range(uniq)] + [b"000000"] * (n - uniq)

    d, _, _, stats = decide(block(0.79))
    assert stats.distinct_ratio == pytest.approx(0.79)
    assert "dict_local" in d.estimates
    tournament = {k: d.estimates[k] for k in ("dict_local", "rle_str", "fsst", "plain")}
    assert d.estimates[d.codec] == min(tournament.values()), d.estimates

    d, _, _, stats = decide(block(0.81))
    assert stats.distinct_ratio == pytest.approx(0.81)
    assert not {"dict_local", "dict_global"} & set(d.estimates), d.estimates
    assert d.codec in ("plain", "fsst")
    assert d.reset_before


def test_unique_urls_pick_compressive_codec():
    # large unique-url block: plain(+zstd post) or fsst, whichever the
    # size estimates favor — never a dictionary codec (ratio > 0.80)
    vals = [f"https://docs.example.com/articles/topic/{i}/view?session=abc".encode()
            for i in range(4096)]
    d, *_ = decide(vals)
    assert d.codec in ("fsst", "plain")
    assert d.estimates[d.codec] == min(d.estimates["fsst"], d.estimates["plain"])


def test_small_unique_urls_pick_fsst():
    # below the post-pass sample threshold the FSST estimate wins on
    # redundant-but-unique strings
    vals = [f"https://ex.com/a/{i}".encode() for i in range(150)]
    d, *_ = decide(vals)
    assert d.codec == "fsst", d.estimates


def test_sorted_low_card_picks_rle():
    vals = sorted(f"lang{i % 6}".encode() for i in range(4096))
    d, *_ = decide(vals)
    assert d.codec == "rle_str"


def test_overlapping_blocks_pick_dict_global():
    gdict = GlobalDict()
    base = [f"shared-{i}".encode() for i in range(600)]
    # block 1 seeds (local), block 2 overlaps 90% → differential global
    b1 = [base[i % 600] for i in rng.integers(0, 600, 4096)]
    d1, g, blk1, s1 = decide(b1, gdict)
    assert d1.codec in ("dict_local", "rle_str")
    if d1.codec != "dict_local":
        # force seeding path as encode would for dict_local
        pytest.skip("rle chosen; global-dict path covered below")
    gdict.reset()
    gdict.append([bytes(v) for v in s1.fact.uniques])
    b2 = [base[i % 600] for i in rng.integers(0, 600, 4096)] + [b"novel-1", b"novel-2"]
    d2, *_ = decide(b2, gdict)
    assert d2.codec == "dict_global"
    assert d2.diff is not None and len(d2.diff) == 2  # only novel values


def test_novelty_ratio_forces_local():
    gdict = GlobalDict()
    gdict.append([b"old-1", b"old-2"])
    vals = [f"new-{i % 500}".encode() for i in range(4096)]  # 100% novel
    d, *_ = decide(vals, gdict)
    assert d.codec != "dict_global"  # novelty rule bans growing the global dict
    if d.codec == "dict_local":
        assert d.reset_before and d.seed_gdict


def test_memory_cap_forces_local():
    gdict = GlobalDict()
    big = [bytes([65 + (i % 26)]) * 4096 for i in range(4000)]  # ~16 MB of dict
    gdict.append(big)
    assert gdict.nbytes > arcade_spark.DICT_MEMORY_CAP // 2
    # push over the cap with a large diff
    vals = [f"{i:04d}".encode() * 512 for i in range(3000)] * 2
    d, *_ = decide(vals, gdict)
    # either forced local (cap) or rle/fsst by size; must not be dict_global
    assert d.codec != "dict_global"


def test_selected_codec_is_smallest_actual():
    """Greedy-optimality: actual encoded size of the selection is within
    20% of the best actual candidate (estimates are near-exact for
    dict/rle, sample-scaled for fsst)."""
    from arcade_spark.codecs import strcodecs as sc

    cases = {
        "low_card": [f"v{i % 12}".encode() for i in rng.integers(0, 12, 4096)],
        "runs": sorted(f"l{i % 6}".encode() for i in range(4096)),
        "urls": [f"https://example.com/p/{i}".encode() for i in range(4096)],
    }
    from arcade_spark.postpass import maybe_post

    for name, vals in cases.items():
        d, gdict, blk, stats = decide(vals)
        actual = {}
        actual["plain"] = len(maybe_post(sc.encode_plain(blk)[0], "plain")[0])
        actual["dict_local"] = len(sc.encode_dict_local(blk, stats.fact)[0])
        actual["rle_str"] = len(sc.encode_rle_str(blk, stats.fact)[0])
        actual["fsst"] = len(maybe_post(sc.encode_fsst(blk)[0], "fsst")[0])
        best = min(actual.values())
        chosen = actual.get(d.codec)
        assert chosen is not None, f"{name}: chose {d.codec}"
        assert chosen <= best * 1.2, f"{name}: chose {d.codec} {actual}"


def test_int_selector_regimes():
    cases = {
        "small_range_ints": (rng.integers(1000, 1128, 5000).astype(np.int64),
                             {"for_int", "bitpack"}),
        "sorted_ints": (np.sort(rng.integers(1_600_000_000, 1_602_000_000, 5000))
                        .astype(np.int64), {"delta_int", "for_int", "bitpack"}),
        "constant": (np.full(5000, 7, dtype=np.int64), {"rle_int", "bitpack", "for_int"}),
        "random_wide": (rng.integers(-(2**62), 2**62, 5000).astype(np.int64),
                        {"plain_int", "for_int", "delta_int"}),
    }
    for name, (vals, allowed) in cases.items():
        d = choose_int_codec(profile_int_block(IntBlock(values=vals)))
        assert d.codec in allowed, f"{name}: {d.codec} {d.estimates}"


def test_encode_decode_sequence_with_resets():
    """Mixed regime sequence through the full core API: overlap blocks,
    then a unique block (reset), then overlap again — decode replays the
    same lineage and every block round-trips."""
    gdict, gdec = GlobalDict(), GlobalDictDecoder()
    base = [f"host-{i}.example.com".encode() for i in range(400)]
    seq = []
    for b in range(3):
        seq.append([base[i % 400] for i in rng.integers(0, 400, 3000)])
    seq.append([f"unique-{i}".encode() for i in range(3000)])  # forces reset
    for b in range(2):
        seq.append([base[i % 400] for i in rng.integers(0, 400, 3000)])
    encoded = []
    for vals in seq:
        blk = object_array_to_strblock(np.array(vals, dtype=object))
        blob, meta = encode_str_block(blk, gdict)
        encoded.append((blob, meta, vals))
    for blob, meta, vals in encoded:
        out = decode_str_block(blob, meta, gdec)
        assert list(out.to_object_array()) == vals, meta["codec"]


def test_forward_projection_at_width_boundary():
    """ARCADE's forward-projection cost model (writer.cpp:119-161):
    when the global dict's code width exceeds what a fresh local dict
    would use, the selector projects pblocks = (CACHE - used)/diffdump
    future blocks (writer.cpp:140) and compares
        pblocks*(w_g-wide codes) + sizeofdiff        [keep global]
    vs  pblocks*(w_local-wide codes + diffavg) + sizelocal  [reset local]
    choosing local when the greedy this-block choice locks in wider
    codes for the rest of the partition. Constructed so greedy says
    global (tiny diff) but the projection says local (150 distinct fit
    8-bit codes vs 10-bit global codes forever after)."""
    gdict = GlobalDict()
    # 600 resident values -> global codes are 10 bits wide
    gdict.append([f"resident-{i:04d}".encode() for i in range(600)])
    # block re-uses 150 resident values -> empty diff, 8-bit local codes
    vals = [f"resident-{i % 150:04d}".encode() for i in rng.permutation(3000)]
    d, g, _, stats = decide(vals, gdict)
    assert "dict_global" in d.estimates  # greedy candidate was computed
    assert d.estimates["dict_global"] < d.estimates["dict_local"]  # greedy says global
    assert d.estimates["proj_global"] > d.estimates["proj_local"]  # projection flips it
    assert d.codec == "dict_local"
    assert d.reset_before and d.seed_gdict


def test_no_projection_when_widths_equal():
    """Same-width global vs local: projection must not fire; the cheap
    tiny-diff global dictionary wins as before."""
    gdict = GlobalDict()
    gdict.append([f"w-{i:03d}".encode() for i in range(140)])
    vals = [f"w-{i % 140:03d}".encode() for i in rng.permutation(3000)]
    d, *_ = decide(vals, gdict)
    # 140 resident, 140 distinct -> both widths are 8 bits
    assert d.codec == "dict_global"
    assert "proj_global" not in d.estimates
