"""Compression-size bound vs the ARCADE reference format (BASELINE.md):
our encoded bytes per string-column block must be ≤ the size the
reference format would produce for the same block, computed from its
format math:

- plain chunk (distinct/count > 0.80, writer.cpp:63): 32-B `struct D`
  header (process.h:5-14) + hps varint-serialized raw values
  (writer.cpp:74-81; varint framing per
  hps/basic_type/string_serializer.h:14-18).
- dict chunk: header + zone-map payload + hps varint-serialized sorted
  distinct set + {1,2,4}-byte codes × n (width by dict size,
  writer.cpp:198-252).

The model uses the *local*-dict size (no differential credit), which is
an upper bound the reference could only improve on via diffs — our
engine gets the same credit via dict_global, so the comparison is fair
per ARCADE's own rules.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from arcade_spark.convert import arrow_to_block
from arcade_spark.core import encode_str_block
from arcade_spark.corpus import corpus_pandas
from arcade_spark.gdict import GlobalDict
from arcade_spark.schema import arrow_type_for
from arcade_spark.stats import profile_str_block


def series_block(s, vt):
    """A pandas column slice → block, through the encoder's own path."""
    return arrow_to_block(pa.Array.from_pandas(s, type=arrow_type_for(vt)), vt)


def _varint_len(x: int) -> int:
    n = 1
    while x >= 128:
        x >>= 7
        n += 1
    return n


def _hps_values_bytes(values) -> int:
    total = _varint_len(len(values))
    for v in values:
        total += _varint_len(len(v)) + len(v)
    return total


def arcade_reference_size(block, stats) -> int:
    """Reference-format bytes for one block per ARCADE's own rules."""
    n = stats.n
    header = 32
    if n == 0:
        return header
    if stats.distinct_ratio > 0.80:
        obj = block.to_object_array()
        return header + _hps_values_bytes([v or b"" for v in obj])
    uniques = stats.fact.uniques
    u = len(uniques)
    width = 1 if u < 256 else (2 if u < 65536 else 4)
    zone = _hps_values_bytes([bytes(uniques[0]), bytes(uniques[-1])] * 2)
    return header + zone + _hps_values_bytes(list(uniques)) + width * n


@pytest.mark.parametrize("col,vt", [("url", "str"), ("text", "str"),
                                    ("html", "binary"), ("lang", "str")])
def test_encoded_size_beats_reference_model(col, vt):
    df = corpus_pandas(20000, seed=11)
    gdict = GlobalDict()
    ours = theirs = 0
    for s in range(0, len(df), 4096):
        block = series_block(df[col].iloc[s : s + 4096], vt)
        stats = profile_str_block(block)
        blob, meta = encode_str_block(block, gdict)
        ours += len(blob)
        theirs += arcade_reference_size(block, stats)
    assert ours <= theirs, f"{col}: ours={ours} reference-model={theirs}"
    print(f"{col}: ours={ours} reference={theirs} ({ours/theirs:.2%})")


def test_low_cardinality_column_much_smaller():
    df = corpus_pandas(20000, seed=11)
    gdict = GlobalDict()
    block = series_block(df["lang"], "str")
    stats = profile_str_block(block)
    blob, _ = encode_str_block(block, gdict)
    ref = arcade_reference_size(block, stats)
    # 20 distinct → 5-bit packed codes vs the reference's 1-byte codes
    assert len(blob) < ref * 0.7


@pytest.mark.parametrize("col,vt,bound", [("text", "str", 0.33),
                                          ("html", "binary", 0.40)])
def test_plain_post_pass_ratio_floor(col, vt, bound):
    """The long free-text columns go plain + zstd post-pass, and the
    post-pass level decides their stored size: at level 3 they store
    text 0.298 and html 0.362 of raw on this fixture (level 1: 0.391
    and 0.445)."""
    df = corpus_pandas(20000, seed=11)
    gdict = GlobalDict()
    raw = stored = 0
    for s in range(0, len(df), 4096):
        block = series_block(df[col].iloc[s : s + 4096], vt)
        _blob, meta = encode_str_block(block, gdict)
        assert (meta["codec"], meta["post"]) == ("plain", "zstd")
        raw += meta["raw_bytes"]
        stored += meta["encoded_bytes"]
    assert stored / raw <= bound, f"{col}: stored/raw {stored / raw:.4f}"
