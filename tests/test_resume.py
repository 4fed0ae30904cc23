"""Mid-run resumability (FIXTURES.md §4): a run that only completed a
subset of partitions leaves durable per-partition checkpoints; the next
run encodes only the missing partitions and the final decode is
identical to an uninterrupted run."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from arcade_spark.corpus import write_corpus
from arcade_spark.decode import scan
from arcade_spark.encode import _PART_COL, encode_job, with_part_id
from arcade_spark.manifest import PartWriter, completed_parts, verify_integrity

N_PARTS = 6


@pytest.fixture(scope="module")
def small_corpus(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rcorpus") / "c.parquet")
    write_corpus(path, n_rows=4000, seed=7)
    return path


def test_partial_run_then_resume(spark, small_corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume") / "enc")
    src = spark.read.parquet(small_corpus)

    # simulate a run killed after 3 of 6 partitions committed: encode
    # only rows belonging to parts {0,1,2} (deterministic assignment)
    partial = (
        with_part_id(src, N_PARTS)
        .filter(F.col(_PART_COL) < 3)
        .drop(_PART_COL, "__arcade_key")
    )
    m1 = encode_job(spark, partial, out, num_parts=N_PARTS, block_rows=512)
    done_after_kill = completed_parts(out)
    assert done_after_kill == {0, 1, 2}
    assert m1["new_parts"] == 3

    # resume with the full input: only the missing partitions encode
    m2 = encode_job(spark, src, out, num_parts=N_PARTS, block_rows=512)
    assert m2["skipped_parts"] == 3
    assert m2["new_parts"] == 3
    assert completed_parts(out) == set(range(N_PARTS))

    # decode equals the source exactly
    decoded = scan(spark, out)
    assert decoded.count() == 4000
    diff = decoded.select("url", "text").exceptAll(src.select("url", "text")).count()
    assert diff == 0

    # and equals an uninterrupted run byte-for-byte at the blocks level
    out2 = str(tmp_path_factory.mktemp("resume") / "enc2")
    encode_job(spark, src, out2, num_parts=N_PARTS, block_rows=512)
    a = spark.read.parquet(f"{out}/blocks").select("part_id", "block_id", "column", "blob")
    b = spark.read.parquet(f"{out2}/blocks").select("part_id", "block_id", "column", "blob")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    assert verify_integrity(spark, out)["ok"]


def test_aborted_partition_leaves_no_visible_file(tmp_path):
    out = str(tmp_path / "enc")
    w = PartWriter(out, 0, "testrun")
    w.write_block(
        [
            {
                "part_id": 0, "block_id": 0, "column": "c", "vtype": "str",
                "codec": "plain", "n_values": 1, "row_start": 0, "raw_bytes": 10,
                "encoded_bytes": 10, "n_distinct": 1, "n_runs": 1, "n_nulls": 0,
                "code_width": 0, "dict_len": 0, "global_start": -1,
                "global_size": -1, "gdict_epoch": 0, "gdict_reset": False,
                "gdict_seed": False, "min_bin": b"a", "max_bin": b"a",
                "min_exact": True, "max_exact": True, "min_int": None,
                "max_int": None, "entropy": 0.0, "kernel_ms": 1.0, "blob": b"x",
            }
        ]
    )
    w.abort()
    assert completed_parts(out) == set()
    assert glob.glob(f"{out}/blocks/part-*.parquet") == []


def test_integrity_detects_missing_blocks(spark, small_corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("integ") / "enc")
    src = spark.read.parquet(small_corpus)
    encode_job(spark, src, out, num_parts=4, block_rows=512)
    assert verify_integrity(spark, out)["ok"]
    import os

    victims = sorted(glob.glob(f"{out}/blocks/part-*.parquet"))
    os.remove(victims[0])
    res = verify_integrity(spark, out)
    assert not res["ok"] and len(res["bad_parts"]) == 1


def test_integrity_accepts_zero_row_part(spark, tmp_path):
    """An empty source file commits a marker with n_rows 0 and no column
    files: a valid part, not a missing one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from arcade_spark.encode import encode_files_job

    d = tmp_path / "src"
    d.mkdir()
    t = pa.table({"url": [f"u{i:03d}" for i in range(300)],
                  "x": pa.array(range(300), pa.int64())})
    pq.write_table(t, str(d / "a.parquet"))
    pq.write_table(t.slice(0, 0), str(d / "b.parquet"))
    out = str(tmp_path / "enc")
    m = encode_files_job(spark, str(d), out, block_rows=64)
    assert m["rows"] == 300 and m["new_parts"] == 2
    assert verify_integrity(spark, out) == {"ok": True, "bad_parts": []}


def test_files_mode_roundtrip_and_resume(spark, tmp_path_factory):
    from arcade_spark.corpus import write_corpus_files
    from arcade_spark.encode import encode_files_job
    from arcade_spark.decode import scan

    d = str(tmp_path_factory.mktemp("fcorp") / "files")
    write_corpus_files(d, 3000, 4, seed=9)
    out = str(tmp_path_factory.mktemp("fenc") / "enc")
    m = encode_files_job(spark, d, out, block_rows=512)
    assert m["rows"] == 3000 and m["new_parts"] == 4
    src = spark.read.parquet(d)
    dec = scan(spark, out)
    assert dec.count() == 3000
    assert dec.exceptAll(src).count() == 0 and src.exceptAll(dec).count() == 0
    m2 = encode_files_job(spark, d, out, block_rows=512)
    assert m2["skipped_parts"] == 4 and m2["new_parts"] == 0
