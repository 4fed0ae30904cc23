"""Gather-expand attach (partread.attach_rowids_parts): every stream
row passes through unchanged with the table's projected columns decoded
at its rowid — rowids may repeat, may be null, and a rowid range may
span parts; a hot rowid's rows spread over several groups."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

import arcade_spark.partread as pr
from arcade_spark.decode import scan
from arcade_spark.encode import encode_job

PROJECT = ["url", "tag", "n", "v"]


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """3 parts of ~1000 rows, nullable int and double columns; ``ref``
    lists the projected values in rowid order."""
    src = spark.createDataFrame(
        [(f"u{i:05d}", f"t-{i % 7}", None if i % 5 == 0 else i, i / 4.0)
         for i in range(3000)],
        "url string, tag string, n long, v double",
    )
    out = str(tmp_path_factory.mktemp("attach") / "enc")
    encode_job(spark, src, out, num_parts=3, block_rows=128, order_col="url")
    ref = [
        tuple(r)
        for r in scan(spark, out, emit_meta=True)
        .orderBy("part_id", "block_id", "pos").select(*PROJECT).collect()
    ]
    return out, ref


def _check(rows, ref):
    for r in rows:
        got = tuple(r[c] for c in PROJECT)
        if r["rid"] is None:
            assert got == (None,) * len(PROJECT)
        else:
            assert got == ref[r["rid"]]


def test_attach_expands_duplicate_rids(spark, table):
    out, ref = table
    data = [(seq, rid) for seq, rid in enumerate(
        rid for rid in range(0, 3000, 7) for _ in range(rid % 4))]
    stream = spark.createDataFrame(data, "seq long, rid long")
    got = pr.attach_rowids_parts(spark, pr.Manifest.read(out), stream, "rid", PROJECT,
                                 dup_bound=3)
    assert got.columns == ["seq", "rid", *PROJECT]
    rows = got.collect()
    assert sorted((r["seq"], r["rid"]) for r in rows) == data
    _check(rows, ref)


@pytest.mark.parametrize("keep_null", [True, False])
def test_attach_null_rids(spark, table, keep_null):
    out, ref = table
    data = [(seq, None if seq % 3 == 0 else (seq * 11) % 3000)
            for seq in range(600)]
    stream = spark.createDataFrame(data, "seq long, rid long")
    got = pr.attach_rowids_parts(spark, pr.Manifest.read(out), stream, "rid", PROJECT,
                                 keep_null=keep_null)
    rows = got.collect()
    want = data if keep_null else [d for d in data if d[1] is not None]
    assert sorted((r["seq"], r["rid"]) for r in rows) == want
    _check(rows, ref)


def test_attach_rid_range_spans_parts(spark, table, monkeypatch):
    """A rowid-range group that straddles part boundaries decodes from
    every part it touches: groups of 700 rowids never align with the
    ~1000-row parts."""
    out, ref = table
    _cols, parts = pr.load_manifest(out)
    assert sum(1 for _p, n in parts if n) >= 2
    monkeypatch.setattr(pr, "_MAT_SPLIT_ROWS", 700)
    stream = spark.range(0, 3000, 2).select(F.col("id").alias("rid"))
    rows = pr.attach_rowids_parts(spark, pr.Manifest.read(out), stream, "rid", PROJECT).collect()
    assert sorted(r["rid"] for r in rows) == list(range(0, 3000, 2))
    _check(rows, ref)


def test_attach_hot_rid_spreads_over_groups(spark, table, monkeypatch):
    """One rowid matched by N >> split rows lands in >= N / split
    groups; the salt is a pure function of the row, so a recomputed
    grouping is identical."""
    out, ref = table
    split, n_hot = 64, 2000
    monkeypatch.setattr(pr, "_MAT_SPLIT_ROWS", split)
    data = [(seq, 5) for seq in range(n_hot)] + [
        (n_hot + i, i * 9) for i in range(300)]
    stream = spark.createDataFrame(data, "seq long, rid long")

    def hot_groups():
        keys = pr._attach_keys(stream, "rid", n_hot)
        g = stream.filter("rid = 5").groupBy(*keys).count()
        return sorted(r["count"] for r in g.collect())

    sizes = hot_groups()
    assert len(sizes) >= n_hot / split
    assert sum(sizes) == n_hot and max(sizes) <= 2 * split
    assert hot_groups() == sizes
    got = pr.attach_rowids_parts(spark, pr.Manifest.read(out), stream, "rid", PROJECT,
                                 dup_bound=n_hot)
    rows = got.collect()
    assert sorted((r["seq"], r["rid"]) for r in rows) == data
    _check(rows, ref)


def test_attach_passes_stream_columns_unchanged(spark, table):
    out, ref = table
    ts0 = dt.datetime(2024, 1, 1, 12, 30)
    data = [
        (i, bytes([i % 256, 0, 255]), f"s{i}" if i % 4 else None,
         i * 0.5 - 3.25, ts0 + dt.timedelta(seconds=i * 97),
         None if i % 6 == 0 else i - 50, (i * 13) % 3000)
        for i in range(400)
    ]
    stream = spark.createDataFrame(
        data,
        "seq long, b binary, s string, d double, ts timestamp, ni int, "
        "rid long",
    )
    got = pr.attach_rowids_parts(spark, pr.Manifest.read(out), stream, "rid", PROJECT)
    assert got.schema.fields[:7] == stream.schema.fields
    rows = got.collect()
    assert sorted(tuple(r)[:7] for r in rows) == sorted(
        tuple(r) for r in stream.collect())
    _check(rows, ref)


def test_row_chunks_hold_at_most_cap_rows():
    """The attach kernel decodes and expands a group ``cap`` stream rows
    at a time, whatever the batch sizes the group arrives in."""
    import pyarrow as pa

    cap, sizes = 64, [10, 200, 1, 63, 64, 65, 0, 7]
    rids = [i % 5 for i in range(sum(sizes))]  # many rows per rid
    batches, at = [], 0
    for n in sizes:
        batches.append(pa.record_batch({"rid": pa.array(rids[at:at + n],
                                                         pa.int64())}))
        at += n
    chunks = list(pr._row_chunks(iter(batches), cap))
    assert [c.num_rows for c in chunks[:-1]] == [cap] * (len(chunks) - 1)
    assert 0 < chunks[-1].num_rows <= cap
    assert [v for c in chunks for v in c.column("rid").to_pylist()] == rids


def test_attach_many_to_many_range_chunks(spark, table, monkeypatch):
    """A rowid range full of repeated rowids (every rowid matched ~10
    times, no salt) streams through the kernel in split-sized chunks:
    same rows as the unsplit attach, all expanded correctly."""
    out, ref = table
    data = [(seq, rid) for seq, rid in enumerate(
        rid for rid in range(0, 3000, 5) for _ in range(1 + rid % 19))]
    stream = spark.createDataFrame(data, "seq long, rid long")
    whole = sorted(tuple(r) for r in pr.attach_rowids_parts(
        spark, pr.Manifest.read(out), stream, "rid", PROJECT).collect())
    monkeypatch.setattr(pr, "_MAT_SPLIT_ROWS", 64)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "50")
    try:
        rows = pr.attach_rowids_parts(spark, pr.Manifest.read(out), stream, "rid",
                                      PROJECT).collect()
    finally:
        spark.conf.set(conf, old)
    assert sorted(tuple(r) for r in rows) == whole
    assert sorted((r["seq"], r["rid"]) for r in rows) == data
    _check(rows, ref)


@pytest.fixture(scope="module")
def lane_named(spark, tmp_path_factory):
    """A table whose columns carry the attach callers' internal lane
    names (rid, k0, pos, rn)."""
    rows = [(i % 10, (i * 37) % 200, i * 3, f"s{i}", i + 1000, i % 4)
            for i in range(200)]
    src = spark.createDataFrame(
        rows, "g long, v long, rid long, k0 string, pos long, rn long")
    out = str(tmp_path_factory.mktemp("lanes") / "enc")
    encode_job(spark, src, out, num_parts=2, block_rows=64, order_col="g")
    return out, rows


def test_orderby_projects_lane_named_columns(spark, lane_named):
    from arcade_spark.readops import orderby_export

    out, rows = lane_named
    got = orderby_export(spark, out, "v", ["rid", "k0", "pos"],
                         persist=False).collect()
    want = [(p, r[2], r[3], r[4])
            for p, r in enumerate(sorted(rows, key=lambda r: r[1]))]
    assert sorted(tuple(r) for r in got) == want


def test_top_per_key_projects_lane_named_columns(spark, lane_named):
    from arcade_spark.readops import top_per_key

    out, rows = lane_named
    got = top_per_key(spark, out, "g", "v", 2,
                      project=["rid", "k0", "rn"]).collect()
    want = []
    for g in range(10):
        best = sorted((r for r in rows if r[0] == g), key=lambda r: r[1])[:2]
        want += [(g, i + 1, r[2], r[3], r[5]) for i, r in enumerate(best)]
    assert sorted(tuple(r) for r in got) == want


def test_join_projects_lane_named_columns(spark, lane_named):
    from arcade_spark.readops import join_encoded

    out, rows = lane_named
    got = join_encoded(spark, out, out, "g", project_a=["rid"],
                       project_b=["k0"]).collect()
    want = sorted((a[0], a[2], b[3]) for a in rows for b in rows
                  if a[0] == b[0])
    assert sorted(tuple(r) for r in got) == want
