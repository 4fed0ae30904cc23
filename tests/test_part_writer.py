"""The one part writer: ``PartWriter`` writes every blocks and manifest
file, for encode (files and shuffle mode) and for compaction alike.
Checks its row-group layout on each kind of table, its refusal to commit
columns that disagree, and compaction's metadata arithmetic chunk row by
chunk row."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from arcade_spark.compact import compact_job
from arcade_spark.encode import encode_files_job, encode_job
from arcade_spark.manifest import BLOCKS_ARROW_SCHEMA, PartWriter, completed_parts

_ADJUSTED = ["part_id", "block_id", "row_start", "gdict_reset"]


def _chunk(column: str, block_id: int, n: int) -> dict:
    row = dict.fromkeys(BLOCKS_ARROW_SCHEMA.names, 0)
    row.update(
        part_id=0, block_id=block_id, column=column, vtype="int",
        codec="plain_int", post="none", n_values=n, row_start=block_id * n,
        gdict_reset=False, gdict_seed=False, min_exact=True, max_exact=True,
        min_bin=None, max_bin=None, min_int=None, max_int=None,
        entropy=0.0, kernel_ms=1.0, blob=b"x", seg=None,
    )
    return row


def _blocks_files(out: str) -> list[str]:
    return sorted(glob.glob(os.path.join(out, "blocks", "part-*.parquet")))


@pytest.mark.parametrize("case", ["blocks", "rows"])
def test_commit_refuses_columns_that_disagree(tmp_path, case):
    """A column with one block fewer, or the same blocks holding other
    row totals, is a corrupt part: commit raises before renaming any
    file or writing the marker."""
    out = str(tmp_path / "enc")
    w = PartWriter(out, 0, "run", columns=[("a", "int"), ("b", "int")])
    for b in range(20):
        w.write_block([_chunk("a", b, 8), _chunk("b", b, 8 if case == "blocks" else 9)])
    if case == "blocks":
        w.write_block([_chunk("a", 20, 8)])
    with pytest.raises(ValueError, match="disagree"):
        w.commit()
    w.abort()
    assert completed_parts(out) == set()
    assert os.listdir(os.path.join(out, "blocks")) == []


def test_commit_marker_figures_come_from_rows_written(tmp_path):
    out = str(tmp_path / "enc")
    w = PartWriter(out, 3, "run", columns=[("a", "int")])
    for b in range(40):
        w.write_block([_chunk("a", b, 8)])
    assert (w.n_blocks, w.n_rows) == (40, 320)
    row = w.commit()
    assert (row["n_blocks"], row["n_rows"], row["n_cols"]) == (40, 320, 1)
    assert json.loads(row["codec_counts"]) == {"plain_int": 40}
    assert row["encode_seconds"] == pytest.approx(0.04)
    md = pq.ParquetFile(_blocks_files(out)[0]).metadata
    assert [md.row_group(i).num_rows for i in range(md.num_row_groups)] == [16, 16, 8]


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """A files-mode table (3 source files), a shuffle-mode table of the
    same rows (4 parts) and the shuffle table compacted 2 → 1; blocks of
    32 rows, so parts span several row groups."""
    rng = np.random.default_rng(16)
    n = 3000
    pdf = pd.DataFrame({
        "url": [f"https://h{i % 7}.ex/{i:05d}" for i in range(n)],
        "lang": np.array(["en", "de", "fr", "el"])[rng.integers(0, 4, n)],
        "x": rng.integers(-1000, 1000, n).astype(np.int64),
    })
    base = tmp_path_factory.mktemp("writer")
    src = base / "src"
    src.mkdir()
    for i, lo in enumerate(range(0, n, 1000)):
        pq.write_table(pa.Table.from_pandas(pdf.iloc[lo:lo + 1000], preserve_index=False),
                       str(src / f"f{i}.parquet"))
    files, shuffle, compacted = (str(base / d) for d in ("files", "shuffle", "compact"))
    encode_files_job(spark, str(src), files, block_rows=32)
    encode_job(spark, spark.createDataFrame(pdf), shuffle, num_parts=4, block_rows=32)
    compact_job(spark, shuffle, compacted, group_size=2)
    return {"files": files, "shuffle": shuffle, "compact": compacted}


@pytest.mark.parametrize("kind", ["files", "shuffle", "compact"])
def test_row_groups_hold_flush_rows_chunks(tables, kind):
    """``_ColFile`` prunes payload reads by row group: every blocks file
    is cut into full ``_FLUSH_ROWS``-chunk row groups plus a tail."""
    paths = _blocks_files(tables[kind])
    assert paths
    flush = PartWriter._FLUSH_ROWS
    groups = 0
    for path in paths:
        md = pq.ParquetFile(path).metadata
        sizes = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
        assert max(sizes) <= flush, (path, sizes)
        assert all(s == flush for s in sizes[:-1]), (path, sizes)
        groups = max(groups, len(sizes))
    assert groups > 1


def test_compacted_chunk_rows_are_source_rows_adjusted(tables):
    """Each compacted column file is its sources' chunk rows in part
    order: every field equal except block_id (renumbered), row_start
    (shifted by the rows of the parts before), gdict_reset (forced on
    each appended part's first chunk) and part_id."""
    src, dest = tables["shuffle"], tables["compact"]
    markers = pq.read_table(os.path.join(dest, "manifest")).to_pylist()
    assert len(markers) == 2
    for m in markers:
        src_pids = json.loads(m["source"])
        for col, _vt in json.loads(m["columns"]):
            got = pq.read_table(os.path.join(dest, "blocks", f"part-{m['part_id']:05d}-{col}.parquet"))
            parts = [pq.read_table(os.path.join(src, "blocks", f"part-{p:05d}-{col}.parquet"))
                     for p in src_pids]
            want = pa.concat_tables(parts)
            assert got.drop_columns(_ADJUSTED).equals(want.drop_columns(_ADJUSTED))
            assert got["part_id"].to_pylist() == [m["part_id"]] * got.num_rows
            assert got["block_id"].to_pylist() == list(range(want.num_rows))
            row_off, firsts, shifted = 0, [], []
            for t in parts:
                firsts.append(len(shifted))
                shifted += [r + row_off for r in t["row_start"].to_pylist()]
                row_off += sum(t["n_values"].to_pylist())
            assert got["row_start"].to_pylist() == shifted
            reset = want["gdict_reset"].to_pylist()
            for i in firsts[1:]:
                reset[i] = True
            assert got["gdict_reset"].to_pylist() == reset
            assert m["n_rows"] == row_off and m["n_blocks"] == want.num_rows
