"""String column_topk (round-4): prefix-envelope zone pruning with
sequential dictionary replay — correctness vs brute force, null
handling, long shared-prefix values past ZONE_MAX_LEN, and a direct
probe proving pruned blocks' blobs are never fetched."""

from __future__ import annotations

import numpy as np
import pytest

from arcade_spark.encode import encode_job
from arcade_spark.readops import column_topk


def test_next_prefix():
    from arcade_spark.partread import _next_prefix

    assert _next_prefix(b"abc") == b"abd"
    assert _next_prefix(b"ab\xff") == b"ac"
    assert _next_prefix(b"\xff\xff") is None
    # every extension of p sorts below next_prefix(p)
    assert b"abc\xff\xff\xff" < _next_prefix(b"abc")


@pytest.fixture(scope="module")
def str_table(spark, tmp_path_factory):
    from arcade_spark.stats import ZONE_MAX_LEN

    rng = np.random.default_rng(11)
    vals: list[str | None] = []
    for i in range(3000):
        r = rng.random()
        if r < 0.03:
            vals.append(None)
        elif r < 0.08:
            # long shared-prefix values (truncated zone bounds)
            vals.append("z" * ZONE_MAX_LEN + f"tail{rng.integers(0, 50):03d}")
        else:
            vals.append(f"doc-{rng.integers(0, 10_000):05d}")
    rows = [(f"u{i:05d}", v) for i, v in enumerate(vals)]
    src = spark.createDataFrame(rows, "url string, s string")
    out = str(tmp_path_factory.mktemp("tks") / "enc")
    encode_job(spark, src, out, num_parts=2, block_rows=128, order_col="url")
    return out, [v for v in vals if v is not None]


def test_column_topk_str_desc_asc(spark, str_table):
    out, valid = str_table
    for k in (5, 25):
        got = [r["v"] for r in column_topk(spark, out, "s", k).collect()]
        assert got == sorted(valid, reverse=True)[:k]
        got = [r["v"] for r in
               column_topk(spark, out, "s", k, descending=False).collect()]
        assert got == sorted(valid)[:k]


def test_column_topk_str_prunes_blobs(spark, tmp_path_factory):
    """On a column sorted by the order key, the top-k lives in few
    blocks — the probe shows pruned blocks' blobs were never fetched."""
    from arcade_spark.partread import _ColFile, _topk_part, load_manifest

    rows = [(f"u{i:05d}", f"v{i:05d}") for i in range(4000)]
    src = spark.createDataFrame(rows, "url string, s string")
    out = str(tmp_path_factory.mktemp("tkp") / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=128, order_col="url")
    _, parts = load_manifest(out)
    pid = parts[0][0]
    nb = _ColFile(out, pid, "s", "str").cm.n
    assert nb >= 20
    probe: dict = {}
    best = _topk_part(out, pid, "s", "str", 10, True, probe=probe)
    assert [b.decode() for b in reversed(best)] == [
        f"v{i:05d}" for i in range(3999, 3989, -1)
    ]
    # sorted data: only the tail block(s) can beat the metadata
    # threshold; the vast majority of blobs are never requested
    assert len(probe["blob_rows"]) <= 2
    probe_asc: dict = {}
    best = _topk_part(out, pid, "s", "str", 10, False, probe=probe_asc)
    assert [b.decode() for b in best] == [f"v{i:05d}" for i in range(10)]
    assert len(probe_asc["blob_rows"]) <= 2


def test_column_topk_str_all_null_blocks(spark, tmp_path_factory):
    rows = [(f"u{i:03d}", None if i < 64 else f"w{i:03d}") for i in range(128)]
    src = spark.createDataFrame(rows, "url string, s string")
    out = str(tmp_path_factory.mktemp("tkn") / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=64, order_col="url")
    got = [r["v"] for r in column_topk(spark, out, "s", 3).collect()]
    assert got == ["w127", "w126", "w125"]
