"""Round-3 files-mode read path (partread.py): every operator against
the source pandas frame, disjunctive (OR) filter algebra,
±0.0 float-equality semantics (ADVICE r2), null-tolerant / string
column_minmax, and the truncated-buffer guard in bits.unpack_uints."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from arcade_spark.encode import encode_job
from arcade_spark.readops import (
    equi_filter,
    filter_and,
    filter_count,
    filter_in,
    filter_or,
    filter_range,
    group_count,
    random_access,
)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    rng = np.random.default_rng(31)
    n = 1200
    langs = np.array(["en", "de", "fr", "es", "el"])
    v = np.round(rng.normal(0, 5, n), 1)
    v[:20] = -0.0  # explicit negative zeros (np.round also produces them)
    v[20:40] = 0.0
    pdf = pd.DataFrame(
        {
            "url": [f"https://h{int(i)}.ex/{j}" for j, i in
                    enumerate(rng.integers(0, 4, n))],
            "lang": langs[rng.integers(0, len(langs), n)],
            "x": rng.integers(-30, 30, n).astype(np.int64),
            "v": v,
        }
    )
    src = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("pr") / "enc")
    encode_job(spark, src, out, num_parts=2, block_rows=256, order_col="url")
    return out, pdf


def test_modes_agree_filter(spark, table):
    out, pdf = table
    got = equi_filter(spark, out, "lang", "de", project=["url", "x"])
    want = pdf.loc[pdf["lang"] == "de"]
    g = got.toPandas().sort_values("url").reset_index(drop=True)
    w = want[["url", "x"]].sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w)


def test_modes_agree_count_only(spark, table):
    out, pdf = table
    a = filter_count(spark, out, "lang", "el").collect()[0]
    assert a["cnt"] == int((pdf["lang"] == "el").sum())


def test_modes_agree_random_access(spark, table):
    """Rowids address the scan order (part_id, block_id, pos); every
    projected column of a looked-up row equals its source row."""
    from arcade_spark.decode import scan

    out, pdf = table
    ids = [0, 7, 300, 301, 1199]
    order = (
        scan(spark, out, emit_meta=True)
        .orderBy("part_id", "block_id", "pos")
        .select("url")
        .toPandas()["url"]
    )
    got = random_access(spark, out, ids).toPandas().sort_values("row_id")
    got = got.reset_index(drop=True)
    assert list(got["row_id"]) == ids
    assert list(got["url"]) == [order[i] for i in ids]
    want = pdf.set_index("url").loc[got["url"]].reset_index()
    pd.testing.assert_frame_equal(got[list(pdf.columns)], want[list(pdf.columns)])
    # a projection keeps the caller's column order; unknown names and an
    # empty projection are rejected before any Spark job
    sub = random_access(spark, out, ids, project=["lang", "url"])
    assert sub.columns == ["row_id", "lang", "url"]
    sub = sub.toPandas().sort_values("row_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(sub, got[["row_id", "lang", "url"]])
    with pytest.raises(KeyError):
        random_access(spark, out, ids, project=["nope"])
    with pytest.raises(ValueError):
        random_access(spark, out, ids, project=[])


def test_modes_agree_scan(spark, table):
    from arcade_spark.decode import scan

    out, pdf = table
    a = scan(spark, out).toPandas().sort_values("url").reset_index(drop=True)
    w = pdf.sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, w)
    # bit-identical doubles: -0.0 survives as -0.0
    assert (a["v"].to_numpy().view(np.int64) == w["v"].to_numpy().view(np.int64)).all()
    # a projection keeps the caller's column order; an unknown name
    # raises instead of returning no columns
    sub = scan(spark, out, ["v", "url"])
    assert sub.columns == ["v", "url"]
    sub = sub.toPandas().sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(sub, a[["v", "url"]])
    with pytest.raises(KeyError):
        scan(spark, out, ["nope"])
    with pytest.raises(ValueError):
        scan(spark, out, [])


def test_modes_agree_group_count(spark, table):
    out, pdf = table
    a = {r["lang"]: r["cnt"] for r in group_count(spark, out, "lang").collect()}
    assert a == pdf.groupby("lang").size().to_dict()


def test_filter_or_cross_column(spark, table):
    out, pdf = table
    got = filter_or(
        spark, out,
        [("eq", "lang", "el"), ("range", "x", 10, 20)],
        project=["url"],
    ).toPandas()
    want = pdf.loc[(pdf["lang"] == "el") | ((pdf["x"] >= 10) & (pdf["x"] <= 20)), "url"]
    assert sorted(got["url"]) == sorted(want)


def test_filter_or_same_column_repeats(spark, table):
    out, pdf = table
    got = filter_or(
        spark, out,
        [("eq", "lang", "en"), ("eq", "lang", "fr"), ("in", "lang", ["es"])],
        project=["url"],
    ).toPandas()
    want = pdf.loc[pdf["lang"].isin(["en", "fr", "es"]), "url"]
    assert sorted(got["url"]) == sorted(want)


def test_filter_or_count_only(spark, table):
    out, pdf = table
    per_block = filter_or(
        spark, out, [("eq", "lang", "el"), ("eq", "lang", "de")], count_only=True
    )
    from pyspark.sql import functions as F

    total = per_block.agg(F.sum("matches")).collect()[0][0]
    assert total == int(pdf["lang"].isin(["el", "de"]).sum())


def test_float_zero_equality_both_signs(spark, table):
    """SQL 0.0 = -0.0: an eq/IN literal of zero must match both stored
    bit patterns and survive zone pruning on blocks holding only -0.0
    (ADVICE r2, readops.py:424)."""
    out, pdf = table
    n_zero = int((pdf["v"] == 0.0).sum())  # pandas == matches ±0.0
    assert n_zero >= 40
    got = equi_filter(spark, out, "v", 0.0, project=["url"]).toPandas()
    assert len(got) == n_zero
    got_neg = equi_filter(spark, out, "v", -0.0, project=["url"]).toPandas()
    assert len(got_neg) == n_zero
    got_in = filter_in(spark, out, "v", [0.0, 123.456], project=["url"]).toPandas()
    assert len(got_in) == n_zero
    # range bounds touching zero admit both patterns
    got_r = filter_range(spark, out, "v", 0.0, 50.0, project=["url"]).toPandas()
    want_r = pdf.loc[(pdf["v"] >= 0.0) & (pdf["v"] <= 50.0), "url"]
    assert sorted(got_r["url"]) == sorted(want_r)


def test_group_count_folds_negative_zero(spark, tmp_path_factory):
    """GROUP BY value-equality: ±0.0 fold into one group (ADVICE r2,
    readops.py:797)."""
    import pyspark.sql.types as T

    vals = [0.0, -0.0, -0.0, 1.5, 1.5]
    src = spark.createDataFrame(
        [(f"u{i}", v) for i, v in enumerate(vals)],
        T.StructType([T.StructField("url", T.StringType()),
                      T.StructField("v", T.DoubleType())]),
    )
    out = str(tmp_path_factory.mktemp("gz") / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=8)
    got = {r["v"]: r["cnt"] for r in group_count(spark, out, "v").collect()}
    assert got == {0.0: 3, 1.5: 2}


def test_minmax_string_long_values_decode_fallback(spark, tmp_path_factory):
    """Strings longer than ZONE_MAX_LEN make the zone bounds inexact →
    the per-part decode fallback must still answer exactly."""
    import pyspark.sql.types as T

    from arcade_spark.readops import column_minmax
    from arcade_spark.stats import ZONE_MAX_LEN

    rows = [(f"u{i}", chr(ord("b") + (i % 3)) * (ZONE_MAX_LEN + 50) + f"tail{i}")
            for i in range(40)]
    rows.append(("umin", "a" * (ZONE_MAX_LEN + 50) + "zz"))  # true min, truncated
    src = spark.createDataFrame(
        rows,
        T.StructType([T.StructField("url", T.StringType()),
                      T.StructField("s", T.StringType())]),
    )
    out = str(tmp_path_factory.mktemp("mml") / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=16)
    row = column_minmax(spark, out, "s").collect()[0]
    want_min = min(s for _, s in rows)
    want_max = max(s for _, s in rows)
    assert (row["min_v"], row["max_v"], row["cnt"]) == (want_min, want_max, len(rows))


def test_unpack_uints_rejects_truncated_buffer():
    """ADVICE r2 (bits.py:106): short buffers must raise, not decode to
    trailing zeros; legitimate word-alignment tails still pad."""
    from arcade_spark.bits import pack_uints, unpack_uints

    a = np.arange(100, dtype=np.uint64) % 32
    buf = pack_uints(a, 5)
    out = unpack_uints(buf, 5, 100)
    assert (out == a).all()
    with pytest.raises(ValueError, match="too short"):
        unpack_uints(buf[:-10], 5, 100)


def test_encode_rejects_reserved_column_names(spark, tmp_path_factory):
    """ADVICE r2 (encode.py:224): user columns named like the internal
    partitioning columns must fail loudly instead of silently dropping."""
    src = spark.range(5).selectExpr("cast(id as string) as url",
                                    "id as __arcade_part")
    out = str(tmp_path_factory.mktemp("rsv") / "enc")
    with pytest.raises(ValueError, match="reserved"):
        encode_job(spark, src, out, num_parts=1)


def test_column_topk_desc_asc_int_and_float(spark, table):
    from arcade_spark.readops import column_topk

    out, pdf = table
    for k in (7, 40):
        got = [r["v"] for r in column_topk(spark, out, "x", k, descending=True).collect()]
        want = sorted(pdf["x"].tolist(), reverse=True)[:k]
        assert sorted(got, reverse=True) == want
        got = [r["v"] for r in column_topk(spark, out, "x", k, descending=False).collect()]
        assert sorted(got) == sorted(pdf["x"].tolist())[:k]
        got = [r["v"] for r in column_topk(spark, out, "v", k, descending=True).collect()]
        want = sorted(pdf["v"].tolist(), reverse=True)[:k]
        assert sorted(got, reverse=True) == pytest.approx(want)


def test_column_topk_reads_each_row_group_once(spark, tmp_path_factory, monkeypatch):
    """The per-part top-k reads every row group of its column file at
    most once, and the partials merge to the exact top k."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from arcade_spark.corpus import write_corpus
    from arcade_spark.partread import _ColFile, _topk_part, load_manifest

    root = tmp_path_factory.mktemp("topk_reads")
    corpus = write_corpus(str(root / "c.parquet"), n_rows=8000)
    out = str(root / "enc")
    encode_job(spark, spark.read.parquet(corpus), out, num_parts=3, block_rows=128)
    ts = pq.read_table(corpus, columns=["warc_ts"]).column(0)
    ref = sorted(ts.cast(pa.int64()).drop_null().to_pylist())
    reads = []
    real = _ColFile.read

    def counted(self, rows):
        first = min(int(r[0]) for r in rows.values())
        reads.append((self.path, int(np.searchsorted(self.rg_off, first, side="right"))))
        return real(self, rows)

    monkeypatch.setattr(_ColFile, "read", counted)
    cols, parts = load_manifest(out)
    vt = dict(cols)["warc_ts"]
    for k, desc in ((2000, True), (2000, False), (10, True)):
        reads.clear()
        best = np.concatenate([
            _topk_part(out, pid, "warc_ts", vt, k, desc) for pid, _ in parts
        ])
        assert reads and len(reads) == len(set(reads)), (k, desc, reads)
        want = ref[-k:][::-1] if desc else ref[:k]
        assert sorted(best.tolist(), reverse=desc)[:k] == want


def test_column_agg_with_nulls(spark, tmp_path_factory):
    """sum/avg exclude nulls; count(*) includes them (SQL semantics)."""
    import pyspark.sql.types as T

    from arcade_spark.readops import column_agg

    src = spark.createDataFrame(
        [("a", 5), ("b", None), ("c", -2), ("d", 9)],
        T.StructType([T.StructField("url", T.StringType()),
                      T.StructField("x", T.LongType(), True)]),
    )
    out = str(tmp_path_factory.mktemp("agg") / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=8)
    row = column_agg(spark, out, "x").collect()[0]
    assert (row["sum_v"], row["cnt_all"], row["cnt_col"]) == (12, 4, 3)
    assert row["avg_v"] == pytest.approx(4.0)

    # an all-null column: SQL SUM and AVG over zero valid values are NULL
    src = spark.createDataFrame(
        [("a", None), ("b", None), ("c", None)],
        T.StructType([T.StructField("url", T.StringType()),
                      T.StructField("x", T.LongType(), True)]),
    )
    out = str(tmp_path_factory.mktemp("agg_nulls") / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=8)
    row = column_agg(spark, out, "x").collect()[0]
    assert row["sum_v"] is None
    assert (row["cnt_all"], row["cnt_col"]) == (3, 0)
    assert row["avg_v"] is None


def test_empty_source_file_part_is_skipped(spark, tmp_path_factory):
    """A zero-row source file commits a manifest marker but no column
    files — the files-mode readers must skip it, not crash opening
    missing files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from arcade_spark.decode import scan
    from arcade_spark.encode import encode_files_job

    src_dir = str(tmp_path_factory.mktemp("esrc"))
    schema = pa.schema([("url", pa.string()), ("x", pa.int64())])
    pq.write_table(
        pa.table({"url": [f"u{i}" for i in range(20)],
                  "x": list(range(20))}, schema=schema),
        f"{src_dir}/a.parquet",
    )
    pq.write_table(pa.table({"url": [], "x": []}, schema=schema),
                   f"{src_dir}/b.parquet")
    out = str(tmp_path_factory.mktemp("eenc") / "enc")
    m = encode_files_job(spark, src_dir, out, resume=False)
    assert m["rows"] == 20
    assert scan(spark, out).count() == 20
    got = equi_filter(spark, out, "url", "u3", project=["x"]).collect()
    assert [r["x"] for r in got] == [3]


def test_predicate_column_in_projection(spark, table):
    """Projecting the filter column itself: the projection pass replays
    its own dictionary state independently of the predicate pass."""
    out, pdf = table
    got = equi_filter(
        spark, out, "lang", "fr", project=["lang", "url"]
    ).toPandas().sort_values("url").reset_index(drop=True)
    want = (
        pdf.loc[pdf["lang"] == "fr", ["lang", "url"]]
        .sort_values("url").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_files_mode_on_reset_heavy_corpus(spark, tmp_path_factory):
    """Blocks alternating low/high cardinality force dict resets and
    local-dict seeds mid-partition; filter and scan must replay the
    dictionary lineage exactly (checked against the source frame)."""
    import numpy as np

    from arcade_spark.decode import scan

    rng = np.random.default_rng(99)
    n = 4000
    # alternate runs of repeated short values and unique long values so
    # consecutive blocks flip between dict and plain codecs
    texts = []
    for i in range(n):
        if (i // 200) % 2 == 0:
            texts.append(f"rep{int(rng.integers(0, 5))}")
        else:
            texts.append("uniq-" + rng.bytes(24).hex())
    pdf = pd.DataFrame({
        "url": [f"https://h{i % 7}.x/{i}" for i in range(n)],
        "tag": texts,
    })
    src = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("reset") / "enc")
    encode_job(spark, src, out, num_parts=2, block_rows=128, order_col="url")
    # codec mix sanity: both dict and plain/fsst paths present
    codecs = {r["codec"] for r in
              spark.read.parquet(f"{out}/blocks").filter("column='tag'")
              .select("codec").distinct().collect()}
    assert len(codecs) >= 2, codecs
    a = scan(spark, out).toPandas().sort_values("url").reset_index(drop=True)
    w = pdf.sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, w)
    got = equi_filter(spark, out, "tag", "rep3", project=["url"])
    assert sorted(r["url"] for r in got.collect()) == sorted(
        pdf.loc[pdf["tag"] == "rep3", "url"]
    )


def test_random_access_duplicate_ids_files_mode(spark, table):
    out, pdf = table
    ra = random_access(spark, out, [5, 5, 700, 5], project=["url"]).collect()
    assert sorted(r["row_id"] for r in ra) == [5, 5, 5, 700]
    urls = {r["row_id"]: r["url"] for r in ra}
    assert len({r["url"] for r in ra if r["row_id"] == 5}) == 1


def test_filter_dnf_or_of_ands(spark, table):
    from arcade_spark.readops import filter_dnf

    out, pdf = table
    got = filter_dnf(
        spark, out,
        [
            [("eq", "lang", "el"), ("range", "x", -10, 10)],
            [("eq", "lang", "de"), ("range", "v", 0.0, 5.0)],
        ],
        project=["url"],
    ).toPandas()
    want = pdf.loc[
        ((pdf["lang"] == "el") & (pdf["x"] >= -10) & (pdf["x"] <= 10))
        | ((pdf["lang"] == "de") & (pdf["v"] >= 0.0) & (pdf["v"] <= 5.0)),
        "url",
    ]
    assert sorted(got["url"]) == sorted(want)


def test_crosscheck_dnf_random(spark, table):
    """Randomized DNF trees (repeated columns across conjuncts) against
    pandas."""
    from arcade_spark.readops import filter_dnf

    out, pdf = table
    rng = np.random.default_rng(17)
    langs = ["en", "de", "fr", "es", "el"]
    for _ in range(4):
        l1, l2 = rng.choice(langs, 2, replace=False)
        a_lo, a_hi = sorted(rng.integers(-40, 40, 2).tolist())
        b_lo, b_hi = sorted(rng.integers(-40, 40, 2).tolist())
        got = filter_dnf(
            spark, out,
            [
                [("eq", "lang", str(l1)), ("range", "x", int(a_lo), int(a_hi))],
                [("eq", "lang", str(l2)), ("range", "x", int(b_lo), int(b_hi))],
                [("in", "lang", [str(l1), str(l2)]), ("range", "v", -1.0, 1.0)],
            ],
            project=["url"],
        ).toPandas()
        m1 = (pdf["lang"] == l1) & (pdf["x"] >= a_lo) & (pdf["x"] <= a_hi)
        m2 = (pdf["lang"] == l2) & (pdf["x"] >= b_lo) & (pdf["x"] <= b_hi)
        m3 = pdf["lang"].isin([l1, l2]) & (pdf["v"] >= -1.0) & (pdf["v"] <= 1.0)
        want = pdf.loc[m1 | m2 | m3, "url"]
        assert sorted(got["url"]) == sorted(want)


def test_negated_predicates(spark, table):
    """neq / not_in / not_range — complement within valid rows, usable
    anywhere in the DNF tree."""
    from arcade_spark.readops import filter_and, filter_dnf

    out, pdf = table
    got = filter_and(spark, out, [("neq", "lang", "en")], project=["url"]).toPandas()
    want = pdf.loc[pdf["lang"] != "en", "url"]
    assert sorted(got["url"]) == sorted(want)

    got = filter_and(
        spark, out, [("not_in", "lang", ["en", "de"]), ("range", "x", -20, 20)],
        project=["url"],
    ).toPandas()
    want = pdf.loc[~pdf["lang"].isin(["en", "de"]) & pdf["x"].between(-20, 20), "url"]
    assert sorted(got["url"]) == sorted(want)

    got = filter_and(
        spark, out, [("not_range", "x", -25, 25)], project=["url"]
    ).toPandas()
    want = pdf.loc[(pdf["x"] < -25) | (pdf["x"] > 25), "url"]
    assert sorted(got["url"]) == sorted(want)

    got = filter_dnf(
        spark, out,
        [[("neq", "lang", "en"), ("range", "x", 0, 15)],
         [("eq", "lang", "en"), ("not_range", "v", -3.0, 3.0)]],
        project=["url"],
    ).toPandas()
    want = pdf.loc[
        ((pdf["lang"] != "en") & pdf["x"].between(0, 15))
        | ((pdf["lang"] == "en") & ~pdf["v"].between(-3.0, 3.0)),
        "url",
    ]
    assert sorted(got["url"]) == sorted(want)


def test_negated_with_nulls_excluded(spark, tmp_path_factory):
    """SQL three-valued logic: NULL rows satisfy neither x = v nor
    x <> v."""
    import pyspark.sql.types as T

    from arcade_spark.readops import filter_and

    src = spark.createDataFrame(
        [("a", "x"), ("b", None), ("c", "y"), ("d", "x"), ("e", None)],
        T.StructType([T.StructField("url", T.StringType()),
                      T.StructField("s", T.StringType(), True)]),
    )
    out = str(tmp_path_factory.mktemp("neg") / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=8)
    got = filter_and(spark, out, [("neq", "s", "x")], project=["url"]).collect()
    assert sorted(r["url"] for r in got) == ["c"]


def test_negated_all_match_zone_prune(spark, tmp_path_factory):
    """A constant block equal to the neq target prunes entirely (the
    zone proves every valid row matches → empty complement)."""
    from arcade_spark.readops import filter_and

    src = spark.createDataFrame(
        [(f"u{i:02d}", "const" if i < 64 else f"v{i}") for i in range(96)],
        "url string, s string",
    )
    out = str(tmp_path_factory.mktemp("negz") / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=32, order_col="url")
    got = filter_and(spark, out, [("neq", "s", "const")], project=["url"]).collect()
    assert sorted(r["url"] for r in got) == [f"u{i:02d}" for i in range(64, 96)]


def test_crosscheck_or_trees_random(spark, table):
    """Randomized OR trees (mixed columns/kinds) against pandas."""
    out, pdf = table
    rng = np.random.default_rng(13)
    for _ in range(4):
        l1, l2 = rng.choice(["en", "de", "fr", "es", "el"], 2, replace=False)
        lo, hi = sorted(rng.integers(-40, 40, 2).tolist())
        flo, fhi = sorted(np.round(rng.normal(0, 5, 2), 1).tolist())
        got = filter_or(
            spark, out,
            [("eq", "lang", str(l1)), ("in", "lang", [str(l2)]),
             ("range", "x", int(lo), int(hi)), ("range", "v", float(flo), float(fhi))],
            project=["url"],
        ).toPandas()
        want = pdf.loc[
            (pdf["lang"] == l1) | (pdf["lang"] == l2)
            | ((pdf["x"] >= lo) & (pdf["x"] <= hi))
            | ((pdf["v"] >= flo) & (pdf["v"] <= fhi)),
            "url",
        ]
        assert sorted(got["url"]) == sorted(want)


def test_reads_reject_other_format_rev(spark, tmp_path):
    """A manifest part written by another FORMAT_REV is refused by every
    read operator with a re-encode hint, never decoded."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from arcade_spark.decode import scan
    from arcade_spark.manifest import FORMAT_REV

    src = spark.createDataFrame(
        [(f"u{i:02d}", i) for i in range(40)], "url string, x long"
    )
    out = str(tmp_path / "enc")
    encode_job(spark, src, out, num_parts=2, block_rows=16, order_col="url")
    mdir = tmp_path / "enc" / "manifest"
    mpath = str(sorted(mdir.glob("part-*.parquet"))[-1])
    t = pq.read_table(mpath)
    i = t.schema.get_field_index("format_rev")
    rev = pa.array([FORMAT_REV + 1] * t.num_rows, type=t.schema.field(i).type)
    pq.write_table(t.set_column(i, t.schema.field(i), rev), mpath)
    for read in (
        lambda: scan(spark, out),
        lambda: equi_filter(spark, out, "url", "u03", project=["x"]),
        lambda: random_access(spark, out, [0]),
    ):
        with pytest.raises(ValueError, match="re-encode"):
            read().collect()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("size", ["1", "par-1", "par", "2par+1", "5par", "100"])
def test_assignment_slices_match_parallelize(spark, size):
    """Part assignment is built in the JVM (spark.range + a literal
    part-id array), with the slice count and contiguous slices the
    earlier parallelize → createDataFrame source had, and no PythonRDD
    scan in the executed plan."""
    from arcade_spark.partread import _assign_df

    sc = spark.sparkContext
    par = sc.defaultParallelism
    n = {"1": 1, "par-1": par - 1, "par": par, "2par+1": 2 * par + 1,
         "5par": 5 * par, "100": 100}[size]
    ids = [3 * i + 1 for i in range(n)]
    slices = max(1, min(n, max(par, min(n // 2, 4 * par))))
    got = [[r.part_id for r in s] for s in _assign_df(spark, ids).rdd.glom().collect()]
    old = sc.parallelize([(p,) for p in ids], slices).glom().collect()
    old = [[t[0] for t in s] for s in old]
    assert got == [ids[j * n // slices:(j + 1) * n // slices] for j in range(slices)]
    if n % slices == 0 or n < 2 * slices:
        assert got == old
    else:
        # PySpark slices a Python list by serialized batches of
        # n // slices items, so its last slice took the remainder
        # (100 on 16: 15×6 + 10); range slicing spreads it evenly
        assert len(got) == len(old) and sum(got, []) == sum(old, [])
        assert max(map(len, got)) <= max(map(len, old))
    plan = _executed_plan(_assign_df(spark, ids).mapInArrow(
        lambda it: it, "part_id int"))
    assert "Range" in plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan


def test_encode_groups_assignment_is_one_per_task(spark):
    """encode_files_job's (gid, paths) groups go through the same
    helper with one slice per group — the 1:1 slicing parallelize
    gave it."""
    import json

    from arcade_spark.partread import range_rows_df

    groups = [(g, json.dumps([[g, f"/src/f{g}'\".parquet"]])) for g in range(7)]
    df = range_rows_df(spark, [
        ("gid", "int", [g for g, _ in groups]),
        ("paths", "string", [p for _, p in groups]),
    ], len(groups))
    got = [[tuple(r) for r in s] for s in df.rdd.glom().collect()]
    assert got == spark.sparkContext.parallelize(groups, len(groups)).glom().collect()
    plan = _executed_plan(df)
    assert "Range" in plan and "ExistingRDD" not in plan


def test_materialize_carry_names_must_not_collide(spark, table):
    """A projected column named like a stream column the attach carries
    would put duplicate fields in the applyInArrow schema."""
    from arcade_spark.partread import Manifest, attach_rowids_parts

    out, _ = table
    m = Manifest.read(out)
    rids = spark.createDataFrame([(0, 5, 6)], "rid long, pos long, x long")
    for project in (["url", "x"], ["rid"], ["pos", "url"]):
        with pytest.raises(ValueError, match="collide"):
            attach_rowids_parts(spark, m, rids, "rid", project)
    got = attach_rowids_parts(spark, m, rids, "rid", ["url"])
    assert got.columns == ["rid", "pos", "x", "url"]
    assert [tuple(r) for r in got.select("rid", "pos", "x").collect()] == [(0, 5, 6)]