"""Files-mode sources keep their own timestamp unit (pandas writes
nanoseconds, other writers milliseconds or seconds); blocks hold
microseconds, so the encoder scales every unit and refuses a value it
could not store exactly."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from arcade_spark.decode import scan
from arcade_spark.encode import encode_files_job

_UNITS = {"ns": pa.timestamp("ns"), "ms": pa.timestamp("ms", tz="UTC"), "s": pa.timestamp("s")}


def test_timestamp_units_scan_as_source(spark, tmp_path):
    base = dt.datetime(2024, 1, 2, 3, 4, 5)
    vals = [None if i % 13 == 0 else base + dt.timedelta(seconds=17 * i) for i in range(200)]
    src = pa.table({"url": [f"u{i:03d}" for i in range(200)],
                    **{u: pa.array(vals, t) for u, t in _UNITS.items()}})
    d = tmp_path / "src"
    d.mkdir()
    pq.write_table(src, str(d / "a.parquet"))
    assert pq.read_schema(str(d / "a.parquet")).field("ns").type == pa.timestamp("ns")
    out = str(tmp_path / "enc")
    encode_files_job(spark, str(d), out, block_rows=64)
    got = scan(spark, out).toArrow().sort_by("url")
    for u, t in _UNITS.items():
        want = src.column(u).cast(pa.timestamp("us", tz=t.tz))
        assert got.column(u).type == want.type
        assert got.column(u).equals(want), u


def test_sub_microsecond_timestamp_refused(spark, tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    ns = pa.array([1_704_164_645_000_000_001], pa.timestamp("ns"))
    pq.write_table(pa.table({"url": ["u0"], "ns": ns}), str(d / "a.parquet"))
    with pytest.raises(Exception, match="would lose data"):
        encode_files_job(spark, str(d), str(tmp_path / "enc"))
