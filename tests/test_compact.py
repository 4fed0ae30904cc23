"""Zero-decode compaction: merged partitions must be byte-equivalent
to the originals for every reader — full scan, filters (dict replay
across the forced reset boundaries), random access (global row ids
preserved), group_count, and the integrity checker."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from arcade_spark.compact import compact_job
from arcade_spark.decode import scan
from arcade_spark.encode import encode_job
from arcade_spark.manifest import verify_integrity
from arcade_spark.readops import (
    equi_filter,
    filter_like,
    group_count,
    random_access,
    table_count,
)


@pytest.fixture(scope="module")
def compacted(spark, tmp_path_factory):
    rng = np.random.default_rng(55)
    langs = np.array(["en", "de", "fr", "es", "el", "sv", "zz"])
    n = 3000
    pdf = pd.DataFrame(
        {
            "url": [f"https://h{int(i)}.ex/{j}" for j, i in enumerate(rng.integers(0, 5, n))],
            "lang": langs[rng.integers(0, len(langs), n)],
            "x": rng.integers(-50, 50, n).astype(np.int64),
        }
    )
    pdf.loc[rng.random(n) < 0.05, "lang"] = None
    base = tmp_path_factory.mktemp("compact")
    src = str(base / "src")
    dest = str(base / "dest")
    encode_job(spark, spark.createDataFrame(pdf), src, num_parts=8,
               block_rows=128, order_col="url")
    stats = compact_job(spark, src, dest, group_size=3)
    return src, dest, pdf, stats


def test_compact_stats(spark, compacted):
    _src, dest, pdf, stats = compacted
    assert stats["parts_in"] == 8
    assert stats["parts_out"] == 3  # ceil(8/3)
    assert stats["n_rows"] == len(pdf)
    assert table_count(spark, dest).collect()[0]["cnt"] == len(pdf)
    assert verify_integrity(spark, dest)["ok"]


def test_compact_scan_identical(spark, compacted):
    src, dest, _pdf, _stats = compacted
    a = scan(spark, src).toPandas().sort_values("url").reset_index(drop=True)
    b = scan(spark, dest).toPandas().sort_values("url").reset_index(drop=True)
    assert a.equals(b)


def test_compact_filters_cross_reset_boundaries(spark, compacted):
    """Dictionary replay must restart at each merged-part boundary —
    equality and LIKE filters exercise the running-dict paths."""
    src, dest, _pdf, _stats = compacted
    for col, val in [("lang", "en"), ("lang", "sv")]:
        a = sorted(equi_filter(spark, src, col, val, project=["url"]).toPandas()["url"])
        b = sorted(equi_filter(spark, dest, col, val, project=["url"]).toPandas()["url"])
        assert a == b and len(a) > 0
    a = sorted(filter_like(spark, src, "url", "%.ex/2%", project=["url"]).toPandas()["url"])
    b = sorted(filter_like(spark, dest, "url", "%.ex/2%", project=["url"]).toPandas()["url"])
    assert a == b and len(a) > 0


def test_compact_random_access_row_ids_preserved(spark, compacted):
    src, dest, _pdf, _stats = compacted
    ids = [0, 127, 128, 1500, 2999]
    a = {r["row_id"]: (r["url"], r["lang"], r["x"])
         for r in random_access(spark, src, ids).collect()}
    b = {r["row_id"]: (r["url"], r["lang"], r["x"])
         for r in random_access(spark, dest, ids).collect()}
    assert a == b and set(a) == set(ids)


def test_compact_group_count(spark, compacted):
    src, dest, _pdf, _stats = compacted
    a = {r["lang"]: r["cnt"] for r in group_count(spark, src, "lang").collect()}
    b = {r["lang"]: r["cnt"] for r in group_count(spark, dest, "lang").collect()}
    assert a == b


def test_compact_into_rewritten_path_reads_new_types(spark, tmp_path):
    """Deleting a table path and compacting a table with a different
    agg column type into it, within one session, must read the new
    manifest: a stale per-path vtype sends the double fixed-point lane
    out as an integer (sum 7500 instead of 75.0)."""
    import shutil

    from arcade_spark.readops import group_by

    n = 200
    base = pd.DataFrame({
        "url": [f"https://h.ex/{i}" for i in range(n)],
        "k": np.arange(n, dtype=np.int64) % 4,
    })
    a, b, dest = (str(tmp_path / d) for d in ("a", "b", "p"))
    encode_job(spark, spark.createDataFrame(base.assign(v=np.arange(n, dtype=np.int64))),
               a, num_parts=2, block_rows=64, order_col="url")
    encode_job(spark, spark.createDataFrame(base.assign(v=1.5)),
               b, num_parts=2, block_rows=64, order_col="url")

    def sums(path):
        return {r["k"]: r["sum_v"] for r in group_by(spark, path, ["k"], "v").collect()}

    compact_job(spark, a, dest, group_size=2)
    assert sums(dest) == sums(a)
    shutil.rmtree(dest)
    compact_job(spark, b, dest, group_size=2)
    assert sums(dest) == sums(b) == {k: 75.0 for k in range(4)}


def test_compact_refuses_nonempty_dest(spark, compacted):
    src, dest, _pdf, _stats = compacted
    with pytest.raises(ValueError, match="not empty"):
        compact_job(spark, src, dest, group_size=2)


def test_compact_column_projection(spark, compacted, tmp_path):
    """Dropping a column at compact time: the projected table scans
    identically on the kept columns; the dropped column's files are
    absent."""
    import os

    from arcade_spark.partread import load_manifest

    src, _dest, pdf, _stats = compacted
    dest2 = str(tmp_path / "proj")
    compact_job(spark, src, dest2, group_size=4, columns=["url", "lang"])
    cols, _parts = load_manifest(dest2)
    assert [c for c, _ in cols] == ["url", "lang"]
    got = scan(spark, dest2).toPandas().sort_values("url").reset_index(drop=True)
    want = pdf[["url", "lang"]].sort_values("url").reset_index(drop=True)
    assert got.equals(want)
    assert not any("-x.parquet" in f for f in os.listdir(os.path.join(dest2, "blocks")))

    with pytest.raises(KeyError, match="no such column"):
        compact_job(spark, src, str(tmp_path / "bad"), columns=["nope"])


def test_compact_property_sweep(spark, tmp_path_factory):
    """Format-level property: for random (num_parts, block_rows,
    group_size) combinations, the compacted table's full scan equals
    the source exactly and filters agree — dict resets at every merged
    boundary, uneven tail groups, single-part groups."""
    rng = np.random.default_rng(77)
    langs = np.array(["en", "de", "fr", "es", "el"])
    for trial in range(3):
        n = 1200
        pdf = pd.DataFrame(
            {
                "url": [f"t{trial}-u{j:05d}" for j in range(n)],
                "lang": langs[rng.integers(0, len(langs), n)],
                "x": rng.integers(-9, 9, n).astype(np.int64),
            }
        )
        num_parts = int(rng.choice([3, 5, 9]))
        block_rows = int(rng.choice([32, 100, 450]))
        group_size = int(rng.choice([1, 2, 4, 16]))
        base = tmp_path_factory.mktemp(f"cps{trial}")
        src, dest = str(base / "s"), str(base / "d")
        encode_job(spark, spark.createDataFrame(pdf), src,
                   num_parts=num_parts, block_rows=block_rows, order_col="url")
        stats = compact_job(spark, src, dest, group_size=group_size)
        assert stats["n_rows"] == n
        a = scan(spark, src).toPandas().sort_values("url").reset_index(drop=True)
        b = scan(spark, dest).toPandas().sort_values("url").reset_index(drop=True)
        assert a.equals(b), (trial, num_parts, block_rows, group_size)
        lang = str(rng.choice(langs))
        fa = sorted(equi_filter(spark, src, "lang", lang, project=["url"])
                    .toPandas()["url"])
        fb = sorted(equi_filter(spark, dest, "lang", lang, project=["url"])
                    .toPandas()["url"])
        assert fa == fb and len(fa) > 0


def test_compact_orderby_and_ranks_identical(spark, compacted):
    """Round-5 readers over a compacted table: orderby_export and
    column_rank_values agree exactly with the uncompacted original
    (zone splits, bucketize, rowid math all ride the merged
    manifest)."""
    from arcade_spark.readops import column_rank_values, orderby_export

    src, dest, pdf, _ = compacted
    a = (orderby_export(spark, src, ["x", "url"], ["url", "x"], buckets=5)
         .toPandas().sort_values("pos").reset_index(drop=True))
    b = (orderby_export(spark, dest, ["x", "url"], ["url", "x"], buckets=5)
         .toPandas().sort_values("pos").reset_index(drop=True))
    assert list(a["url"]) == list(b["url"])
    assert list(a["x"]) == list(b["x"])

    ra = column_rank_values(spark, src, "x",
                            quantiles=[0.1, 0.5, 0.9]).collect()
    rb = column_rank_values(spark, dest, "x",
                            quantiles=[0.1, 0.5, 0.9]).collect()
    assert sorted(map(tuple, ra)) == sorted(map(tuple, rb))


def test_compact_window_ops_identical(spark, compacted):
    """Round-6 readers over a compacted table: top_per_key, sessionize,
    rolling_agg and join_asof agree exactly with the uncompacted
    original (key streams, rowid math and late materialization all
    ride the merged manifest; rowids are preserved so even the rid
    tie-break matches)."""
    from arcade_spark.readops import (
        join_asof,
        rolling_agg,
        sessionize,
        top_per_key,
    )

    src, dest, _pdf, _ = compacted

    def rows(df):
        return sorted(
            (tuple(r) for r in df.collect()),
            key=lambda r: tuple((v is None, str(v)) for v in r),
        )

    a = rows(top_per_key(spark, src, "lang", ["x", "url"], 3,
                         project=["url"]))
    b = rows(top_per_key(spark, dest, "lang", ["x", "url"], 3,
                         project=["url"]))
    assert a == b and len(a) > 0

    a = rows(sessionize(spark, src, "lang", "x", gap=5))
    b = rows(sessionize(spark, dest, "lang", "x", gap=5))
    assert a == b

    a = rows(rolling_agg(spark, src, "lang", "x", window=20,
                         agg_col="x", aggs=("count", "sum")))
    b = rows(rolling_agg(spark, dest, "lang", "x", window=20,
                         agg_col="x", aggs=("count", "sum")))
    assert a == b

    a = rows(join_asof(spark, src, src, "x", "lang", project_b=["url"]))
    b = rows(join_asof(spark, dest, dest, "x", "lang",
                       project_b=["url"]))
    assert a == b
