"""group_sum (GROUP BY + integer SUM on the encoded table),
distinct_values / distinct_count, and filter_semijoin — checked against
pandas brute force on tables with nulls in both the group and agg
columns, across dict/rle/plain codecs."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from arcade_spark.encode import encode_job
from arcade_spark.readops import (
    column_null_count,
    distinct_count,
    distinct_values,
    filter_semijoin,
    group_by,
    group_sum,
    table_count,
)


@pytest.fixture(scope="module")
def gs_table(spark, tmp_path_factory):
    rng = np.random.default_rng(23)
    langs = np.array(["en", "de", "fr", "es", "el", "sv", "zz"])
    n = 2500
    pdf = pd.DataFrame(
        {
            "url": [
                f"https://h{int(i)}.ex/{j}"
                for j, i in enumerate(rng.integers(0, 5, n))
            ],
            "lang": langs[rng.integers(0, len(langs), n)],
            "x": rng.integers(-50, 50, n).astype(np.int64),
            "v": np.round(rng.normal(0, 10, n), 2),
        }
    )
    pdf.loc[rng.random(n) < 0.05, "lang"] = None
    pdf["xn"] = pd.array(pdf["x"], dtype="Int64")
    pdf.loc[rng.random(n) < 0.04, "xn"] = pd.NA
    src = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("gs") / "enc")
    encode_job(spark, src, out, num_parts=2, block_rows=200, order_col="url")
    return out, pdf


def test_group_sum_str_key(spark, gs_table):
    out, pdf = gs_table
    got = group_sum(spark, out, "lang", "x").toPandas()
    got = got.sort_values("lang").reset_index(drop=True)
    want = (
        pdf.dropna(subset=["lang"])
        .groupby("lang")
        .agg(sum_v=("x", "sum"), cnt=("x", "size"))
        .reset_index()
        .sort_values("lang")
        .reset_index(drop=True)
        .astype({"sum_v": "int64", "cnt": "int64"})
    )
    assert got.equals(want)


def test_group_sum_nullable_agg(spark, gs_table):
    """Null agg values: excluded from the sum, rows still counted."""
    out, pdf = gs_table
    got = group_sum(spark, out, "lang", "xn").toPandas()
    got = got.sort_values("lang").reset_index(drop=True)
    want = (
        pdf.dropna(subset=["lang"])
        .groupby("lang")
        .agg(sum_v=("xn", "sum"), cnt=("xn", "size"))
        .reset_index()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    want["sum_v"] = want["sum_v"].astype("int64")
    want["cnt"] = want["cnt"].astype("int64")
    assert got.equals(want)


def test_group_sum_int_and_float_keys(spark, gs_table):
    out, pdf = gs_table
    got = group_sum(spark, out, "x", "x").toPandas().sort_values("x").reset_index(drop=True)
    want = (
        pdf.groupby("x").agg(sum_v=("x", "sum"), cnt=("x", "size")).reset_index()
        .sort_values("x").reset_index(drop=True)
        .astype({"sum_v": "int64", "cnt": "int64"})
    )
    assert got.equals(want)

    got = group_sum(spark, out, "v", "x").toPandas().sort_values("v").reset_index(drop=True)
    want = (
        pdf.groupby("v").agg(sum_v=("x", "sum"), cnt=("x", "size")).reset_index()
        .sort_values("v").reset_index(drop=True)
    )
    assert np.allclose(got["v"], want["v"])
    assert (got["sum_v"].to_numpy() == want["sum_v"].to_numpy()).all()
    assert (got["cnt"].to_numpy() == want["cnt"].to_numpy()).all()


def test_group_sum_double_agg_fixed_point(spark, gs_table):
    """Round-4: double agg columns ride the fixed-point lane — the
    result equals the exact integer sum of floor(v*100+0.5) divided by
    100 (for this 2-decimal data, the exact decimal answer)."""
    out, pdf = gs_table
    got = group_sum(spark, out, "lang", "v").toPandas()
    got = got.sort_values("lang").reset_index(drop=True)
    q = np.floor(pdf["v"].to_numpy() * 100.0 + 0.5).astype(np.int64)
    ref = pdf.assign(q=q).dropna(subset=["lang"])
    want = (
        ref.groupby("lang")
        .agg(qsum=("q", "sum"), cnt=("q", "size"))
        .reset_index()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    assert list(got["lang"]) == list(want["lang"])
    assert (got["sum_v"].to_numpy()
            == want["qsum"].to_numpy().astype(np.float64) / 100.0).all()
    assert (got["cnt"].to_numpy() == want["cnt"].to_numpy()).all()


def test_group_sum_rejects_ts_agg(spark, tmp_path_factory):
    import datetime

    src = spark.createDataFrame(
        [(f"u{i}", datetime.datetime(2024, 1, 1 + i)) for i in range(5)],
        "url string, t timestamp",
    )
    out = str(tmp_path_factory.mktemp("gsts") / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=4)
    with pytest.raises(NotImplementedError, match="fixed-point|meaningless"):
        group_sum(spark, out, "url", "t")


def test_group_by_multi_key_sum(spark, gs_table):
    """Composite key (str, str-ish int) with SUM: a row joins a group
    iff EVERY key column is non-null."""
    out, pdf = gs_table
    got = (
        group_by(spark, out, ["lang", "x"], "x").toPandas()
        .sort_values(["lang", "x"]).reset_index(drop=True)
    )
    want = (
        pdf.dropna(subset=["lang"])
        .groupby(["lang", "x"])
        .agg(sum_v=("x", "sum"), min_v=("x", "min"), max_v=("x", "max"),
             cnt=("x", "size"))
        .reset_index()
        .sort_values(["lang", "x"])
        .reset_index(drop=True)
    )
    assert list(got.columns) == ["lang", "x", "sum_v", "min_v", "max_v", "cnt"]
    assert (got["lang"] == want["lang"]).all()
    assert (got["x"].to_numpy() == want["x"].to_numpy()).all()
    for c in ("sum_v", "min_v", "max_v", "cnt"):
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c


def test_group_by_count_only_and_float_key(spark, gs_table):
    out, pdf = gs_table
    got = (
        group_by(spark, out, ["lang", "v"]).toPandas()
        .sort_values(["lang", "v"]).reset_index(drop=True)
    )
    want = (
        pdf.dropna(subset=["lang"])
        .groupby(["lang", "v"])
        .agg(cnt=("v", "size"))
        .reset_index()
        .sort_values(["lang", "v"])
        .reset_index(drop=True)
    )
    assert list(got.columns) == ["lang", "v", "cnt"]
    assert (got["lang"] == want["lang"]).all()
    assert np.allclose(got["v"], want["v"])
    assert (got["cnt"].to_numpy() == want["cnt"].to_numpy()).all()


def test_group_by_all_null_agg_group(spark, tmp_path):
    """A group whose agg values are ALL null reports null sum/min/max
    and the full row count (SQL aggregate-over-empty rules)."""
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 50 + ["b"] * 50,
            "n": pd.array([1] * 50 + [None] * 50, dtype="Int64"),
        }
    )
    src = spark.createDataFrame(pdf)
    out = str(tmp_path / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=16, order_col="k")
    got = {r["k"]: r for r in group_by(spark, out, ["k"], "n").collect()}
    assert (got["a"]["sum_v"], got["a"]["min_v"], got["a"]["max_v"],
            got["a"]["cnt"]) == (50, 1, 1, 50)
    assert (got["b"]["sum_v"], got["b"]["min_v"], got["b"]["max_v"],
            got["b"]["cnt"]) == (None, None, None, 50)

    gs = {r["k"]: r for r in group_sum(spark, out, "k", "n").collect()}
    assert (gs["a"]["sum_v"], gs["a"]["cnt"]) == (50, 50)
    assert (gs["b"]["sum_v"], gs["b"]["cnt"]) == (None, 50)


def test_group_by_rejects_duplicates(spark, gs_table):
    out, _ = gs_table
    with pytest.raises(ValueError, match="duplicate"):
        group_by(spark, out, ["lang", "lang"])


def test_distinct_values_and_count(spark, gs_table):
    out, pdf = gs_table
    got = sorted(distinct_values(spark, out, "lang").toPandas()["lang"])
    want = sorted(pdf["lang"].dropna().unique())
    assert got == want

    got = distinct_count(spark, out, "x").collect()[0]["n_distinct"]
    assert got == pdf["x"].nunique()


def test_table_count_and_null_count(spark, gs_table):
    out, pdf = gs_table
    assert table_count(spark, out).collect()[0]["cnt"] == len(pdf)

    row = column_null_count(spark, out, "lang").collect()[0]
    n_nulls = int(pdf["lang"].isna().sum())
    assert (row["cnt"], row["n_valid"], row["n_nulls"]) == (
        len(pdf), len(pdf) - n_nulls, n_nulls
    )

    row = column_null_count(spark, out, "x").collect()[0]
    assert (row["cnt"], row["n_valid"], row["n_nulls"]) == (len(pdf), len(pdf), 0)


def test_filter_semijoin(spark, gs_table):
    out, pdf = gs_table
    dim = spark.createDataFrame(
        pd.DataFrame({"k": ["en", "fr", "nope"]})
    )
    got = filter_semijoin(spark, out, "lang", dim, project=["url"]).toPandas()
    want = pdf.loc[pdf["lang"].isin(["en", "fr"]), "url"]
    assert sorted(got["url"]) == sorted(want)


def test_filter_semijoin_int_keys(spark, gs_table):
    out, pdf = gs_table
    wanted = sorted(pdf["x"].unique())[:5]
    dim = spark.createDataFrame(pd.DataFrame({"k": wanted}))
    got = filter_semijoin(spark, out, "x", dim, project=["url"]).toPandas()
    want = pdf.loc[pdf["x"].isin(wanted), "url"]
    assert sorted(got["url"]) == sorted(want)


def test_filter_semijoin_empty_and_null_keys(spark, gs_table):
    out, pdf = gs_table
    empty = spark.createDataFrame([], "k long")
    got = filter_semijoin(spark, out, "x", empty, project=["url"]).toPandas()
    assert len(got) == 0 and list(got.columns) == ["url"]

    nulls = spark.createDataFrame([(None,), (None,)], "k long")
    got = filter_semijoin(spark, out, "x", nulls, project=["url"]).toPandas()
    assert len(got) == 0


def test_filter_semijoin_rejects_multicol(spark, gs_table):
    out, _ = gs_table
    dim = spark.createDataFrame(pd.DataFrame({"a": [1], "b": [2]}))
    with pytest.raises(ValueError, match="exactly one column"):
        filter_semijoin(spark, out, "x", dim)


def test_group_by_ts_key(spark, tmp_path):
    """Timestamp group keys reconstruct exactly through the epoch-micros
    int64 lane (integer math, no float division)."""
    import datetime as dt

    base = dt.datetime(2024, 5, 1, 12, 0, 0, 123456, tzinfo=dt.timezone.utc)
    rows = [(f"u{i:03d}", base + dt.timedelta(hours=i % 3), i) for i in range(90)]
    src = spark.createDataFrame(rows, "url string, ts timestamp, x long")
    out = str(tmp_path / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=16, order_col="url")
    got = {r["ts"]: (r["sum_v"], r["cnt"])
           for r in group_by(spark, out, ["ts"], "x").collect()}
    from collections import defaultdict
    want = defaultdict(lambda: [0, 0])
    for _u, t, x in rows:
        want[t][0] += x
        want[t][1] += 1
    # Spark returns session-tz-naive datetimes; compare in UTC micros
    got_us = {k.replace(tzinfo=dt.timezone.utc) if k.tzinfo is None else k: v
              for k, v in got.items()}
    assert got_us == {k: tuple(v) for k, v in want.items()}


def test_filter_agg_fused(spark, gs_table):
    from arcade_spark.readops import filter_agg

    out, pdf = gs_table
    r = filter_agg(
        spark, out, [("eq", "lang", "en"), ("range", "x", -10, 40)], "x"
    ).collect()[0]
    sub = pdf.loc[(pdf["lang"] == "en") & (pdf["x"] >= -10) & (pdf["x"] <= 40), "x"]
    assert (r["cnt_rows"], r["cnt_valid"], r["sum_v"], r["min_v"], r["max_v"]) == (
        len(sub), len(sub), int(sub.sum()), int(sub.min()), int(sub.max())
    )
    assert r["avg_v"] == float(int(sub.sum())) / len(sub)

    # nullable agg column: rows counted, nulls excluded from aggregates
    r = filter_agg(spark, out, [("eq", "lang", "de")], "xn").collect()[0]
    sub = pdf.loc[pdf["lang"] == "de", "xn"]
    assert r["cnt_rows"] == len(sub)
    assert r["cnt_valid"] == int(sub.notna().sum())
    assert r["sum_v"] == int(sub.dropna().sum())

    # empty match: SQL aggregate-over-empty
    r = filter_agg(spark, out, [("eq", "lang", "NOPE")], "x").collect()[0]
    assert (r["cnt_rows"], r["sum_v"], r["min_v"], r["max_v"], r["avg_v"]) == (
        0, None, None, None, None
    )

    # the zero-key count-only form of the same kernel is filter_count
    from arcade_spark.readops import filter_count, filter_group_by_multi

    def count_where(value):
        return filter_group_by_multi(
            spark, out, [("eq", "lang", value)], [], [("c", "count", None)]
        ).collect()

    got = count_where("en")
    assert len(got) == 1
    assert got[0]["c"] == filter_count(spark, out, "lang", "en").collect()[0]["cnt"]
    assert got[0]["c"] == int((pdf["lang"] == "en").sum())
    assert [r["c"] for r in count_where("NOPE")] == [0]

    # double agg column: fixed-point contract (round-4)
    r = filter_agg(spark, out, [("eq", "lang", "en")], "v").collect()[0]
    subq = np.floor(
        pdf.loc[pdf["lang"] == "en", "v"].to_numpy() * 100.0 + 0.5
    ).astype(np.int64)
    assert r["cnt_rows"] == len(subq)
    assert r["sum_v"] == float(subq.sum()) / 100.0
    assert r["min_v"] == float(subq.min()) / 100.0
    assert r["max_v"] == float(subq.max()) / 100.0
    assert r["avg_v"] == (float(subq.sum()) / 100.0) / len(subq)


def test_filter_group_by_fused(spark, gs_table):
    """Fused WHERE + GROUP BY + integer aggregates against pandas."""
    from arcade_spark.readops import filter_group_by

    out, pdf = gs_table
    got = (
        filter_group_by(spark, out, [("range", "x", 0, 49)], ["lang"], "x")
        .toPandas().sort_values("lang").reset_index(drop=True)
    )
    sub = pdf.loc[(pdf["x"] >= 0) & (pdf["x"] <= 49) & pdf["lang"].notna()]
    want = (
        sub.groupby("lang")
        .agg(sum_v=("x", "sum"), min_v=("x", "min"), max_v=("x", "max"),
             cnt=("x", "size"))
        .reset_index().sort_values("lang").reset_index(drop=True)
    )
    assert list(got.columns) == ["lang", "sum_v", "min_v", "max_v", "cnt"]
    for c in got.columns:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c

    # count-only grouping with a string-match predicate
    got = (
        filter_group_by(spark, out, [("prefix", "url", "https://h2")], ["lang"])
        .toPandas().sort_values("lang").reset_index(drop=True)
    )
    sub = pdf.loc[pdf["url"].str.startswith("https://h2") & pdf["lang"].notna()]
    want = (
        sub.groupby("lang").size().reset_index(name="cnt")
        .sort_values("lang").reset_index(drop=True)
    )
    assert (got["lang"] == want["lang"]).all()
    assert (got["cnt"].to_numpy() == want["cnt"].to_numpy()).all()

    # empty match: no groups
    got = filter_group_by(spark, out, [("eq", "lang", "NOPE")], ["lang"], "x")
    assert got.count() == 0


def _same_rows(got, want) -> bool:
    """Multiset equality of two DataFrames with the same columns
    (nulls compare equal, as in Spark's exceptAll)."""
    want = want.select(*got.columns)
    return got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_group_by_matches_spark_native_on_random_tables(spark, tmp_path_factory):
    """Cross-path check: the group-by kernel (every public wrapper) must
    agree with Spark's own groupBy over the decoded scan — two
    independent aggregation implementations over the same encoded
    bytes. The wide near-unique key drives the composite group index
    through both of its fallbacks: the running mixed-radix key
    re-densifies before 2^62, and the final span is too sparse to
    bincount."""
    import pyspark.sql.functions as F

    from arcade_spark.decode import scan
    from arcade_spark.readops import (
        filter_group_by,
        filter_group_by_sets,
        group_count,
        release_key_caches,
    )

    for seed in (7, 19):
        rng = np.random.default_rng(seed)
        langs = np.array(["en", "de", "fr", "es", None], dtype=object)
        n = 1800
        pdf = pd.DataFrame(
            {
                "url": [f"u{seed}-{j}" for j in range(n)],
                "lang": langs[rng.integers(0, len(langs), n)],
                "x": rng.integers(-30, 30, n).astype(np.int64),
            }
        )
        src = spark.createDataFrame(pdf)
        out = str(tmp_path_factory.mktemp("xgb") / f"enc{seed}")
        encode_job(spark, src, out, num_parts=2, block_rows=128, order_col="url")

        got = {
            (r["lang"],): (r["sum_v"], r["min_v"], r["max_v"], r["cnt"])
            for r in group_by(spark, out, ["lang"], "x").collect()
        }
        want = {
            (r["lang"],): (r["s"], r["mn"], r["mx"], r["c"])
            for r in (
                scan(spark, out)
                .filter(F.col("lang").isNotNull())
                .groupBy("lang")
                .agg(F.sum("x").alias("s"), F.min("x").alias("mn"),
                     F.max("x").alias("mx"), F.count("*").alias("c"))
                .collect()
            )
        }
        assert got == want, seed

        dec = scan(spark, out)
        keyed = dec.filter(F.col("lang").isNotNull()).groupBy("lang")
        assert _same_rows(
            group_count(spark, out, "lang"),
            keyed.agg(F.count("*").alias("cnt")),
        ), seed
        assert _same_rows(
            group_sum(spark, out, "lang", "x"),
            keyed.agg(F.sum("x").alias("sum_v"), F.count("*").alias("cnt")),
        ), seed
        assert _same_rows(
            filter_group_by(spark, out, [("range", "x", -10, 20)], ["lang", "x"], "x"),
            dec.filter(F.col("lang").isNotNull() & F.col("x").between(-10, 20))
            .groupBy("lang", "x")
            .agg(F.sum("x").alias("sum_v"), F.min("x").alias("min_v"),
                 F.max("x").alias("max_v"), F.count("*").alias("cnt")),
        ), seed

    # five near-unique int64 key columns in 16k-row blocks: each block's
    # per-column codes span ~14k values, so the running radix passes
    # 2^62 at the fifth column and the final span far exceeds 4·n
    rng = np.random.default_rng(31)
    n = 2 * 16384 + 700
    keys = [f"g{i}" for i in range(5)]
    pdf = pd.DataFrame({
        "id": np.arange(n, dtype=np.int64),
        **{k: pd.array(rng.integers(0, 40000, n) * 1_000_003 - 2**40,
                       dtype="Int64") for k in keys},
        "x": rng.integers(-1000, 1000, n).astype(np.int64),
    })
    for k in keys:
        pdf.loc[rng.random(n) < 0.03, k] = pd.NA
    out = str(tmp_path_factory.mktemp("xgb") / "wide")
    encode_job(spark, spark.createDataFrame(pdf), out, num_parts=2,
               block_rows=16384, order_col="id")
    dec = scan(spark, out)
    aggs = [F.sum("x").alias("sum_v"), F.min("x").alias("min_v"),
            F.max("x").alias("max_v"), F.count("*").alias("cnt")]
    assert _same_rows(
        group_by(spark, out, keys, "x"),
        dec.dropna(subset=keys).groupBy(*keys).agg(*aggs),
    )
    assert _same_rows(
        filter_group_by_sets(
            spark, out, [], keys,
            [("sum_v", "sum", "x"), ("min_v", "min", "x"),
             ("max_v", "max", "x"), ("cnt", "count", None)],
            sets="rollup",
        ),
        dec.rollup(*keys).agg(F.grouping_id().alias("grouping_id"), *aggs),
    )
    release_key_caches()


def test_distinct_values_multi_column(spark, gs_table):
    out, pdf = gs_table
    got = {
        (r["lang"], r["x"])
        for r in distinct_values(spark, out, ["lang", "x"]).collect()
    }
    want = {
        (l, int(x))
        for l, x in pdf.dropna(subset=["lang"])[["lang", "x"]]
        .drop_duplicates().itertuples(index=False)
    }
    assert got == want


def test_filter_group_by_same_column_pred_and_key(spark, gs_table):
    """A column used both as predicate and group key: independent
    dictionary replay states must not interfere."""
    from arcade_spark.readops import filter_group_by

    out, pdf = gs_table
    got = {
        r["lang"]: r["cnt"]
        for r in filter_group_by(
            spark, out, [("in", "lang", ["en", "de", "fr"])], ["lang"]
        ).collect()
    }
    sub = pdf.loc[pdf["lang"].isin(["en", "de", "fr"])]
    assert got == sub.groupby("lang").size().to_dict()


def test_filter_group_by_multi_q1_shape(spark, gs_table):
    """Round-4 multi-aggregate fused group-by: sums, a product
    aggregate, avg, and count in one pass — checked against pandas in
    the same fixed-point domain (v is the double column, x integer)."""
    from arcade_spark.readops import filter_group_by_multi

    out, pdf = gs_table
    got = (
        filter_group_by_multi(
            spark, out, [("range", "x", -30, 30)], ["lang"],
            [
                ("sum_x", "sum", "x"),
                ("sum_v", "sum", "v"),
                ("sum_xv", "sumprod", [("x", 1, 0), ("v", 1, 0)]),
                ("avg_v", "avg", "v"),
                ("cnt", "count", None),
            ],
        )
        .toPandas()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    sub = pdf[(pdf["x"] >= -30) & (pdf["x"] <= 30)].dropna(subset=["lang"]).copy()
    qv = np.floor(sub["v"].to_numpy() * 100.0 + 0.5).astype(np.int64)
    sub["qv"] = qv
    sub["xqv"] = sub["x"].to_numpy() * qv
    want = (
        sub.groupby("lang")
        .agg(sum_x=("x", "sum"), qv_sum=("qv", "sum"), xqv_sum=("xqv", "sum"),
             n=("v", "size"))
        .reset_index()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    assert list(got["lang"]) == list(want["lang"])
    assert (got["sum_x"].to_numpy() == want["sum_x"].to_numpy()).all()
    assert (got["sum_v"].to_numpy()
            == want["qv_sum"].to_numpy().astype(np.float64) / 100.0).all()
    assert (got["sum_xv"].to_numpy()
            == want["xqv_sum"].to_numpy().astype(np.float64) / 100.0).all()
    assert (got["avg_v"].to_numpy()
            == (want["qv_sum"].to_numpy().astype(np.float64) / 100.0)
            / want["n"].to_numpy().astype(np.float64)).all()
    assert (got["cnt"].to_numpy() == want["n"].to_numpy()).all()


def test_filter_group_by_multi_null_agg_rows(spark, gs_table):
    """Rows with a null referenced column feed count(*) but not the
    sums; all-null groups report NULL sums."""
    from arcade_spark.readops import filter_group_by_multi

    out, pdf = gs_table
    got = (
        filter_group_by_multi(
            spark, out, [("range", "x", -50, 50)], ["lang"],
            [("sum_xn", "sum", "xn"), ("cnt", "count", None)],
        )
        .toPandas()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    sub = pdf.dropna(subset=["lang"])
    want = (
        sub.groupby("lang")
        .agg(sum_xn=("xn", "sum"), cnt=("xn", "size"))
        .reset_index()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    assert (got["sum_xn"].to_numpy() == want["sum_xn"].astype("int64").to_numpy()).all()
    assert (got["cnt"].to_numpy() == want["cnt"].to_numpy()).all()


def test_filter_group_by_multi_min_max(spark, gs_table):
    """min/max kinds in the multi-agg grammar: exact for ints,
    quantized-domain for doubles, NULL for empty groups."""
    from arcade_spark.readops import filter_group_by_multi

    out, pdf = gs_table
    got = (
        filter_group_by_multi(
            spark, out, [("range", "x", 0, 50)], ["lang"],
            [("min_x", "min", "x"), ("max_x", "max", "x"),
             ("min_v", "min", "v"), ("max_v", "max", "v"),
             ("min_xn", "min", "xn"), ("cnt", "count", None)],
        )
        .toPandas()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    sub = pdf[(pdf["x"] >= 0) & (pdf["x"] <= 50)].dropna(subset=["lang"]).copy()
    qv = np.floor(sub["v"].to_numpy() * 100.0 + 0.5).astype(np.int64)
    sub["qv"] = qv
    want = (
        sub.groupby("lang")
        .agg(min_x=("x", "min"), max_x=("x", "max"),
             qv_min=("qv", "min"), qv_max=("qv", "max"),
             min_xn=("xn", "min"), cnt=("x", "size"))
        .reset_index()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    assert (got["min_x"].to_numpy() == want["min_x"].to_numpy()).all()
    assert (got["max_x"].to_numpy() == want["max_x"].to_numpy()).all()
    assert (got["min_v"].to_numpy()
            == want["qv_min"].to_numpy().astype(np.float64) / 100.0).all()
    assert (got["max_v"].to_numpy()
            == want["qv_max"].to_numpy().astype(np.float64) / 100.0).all()
    assert (got["min_xn"].to_numpy()
            == want["min_xn"].astype("int64").to_numpy()).all()
    assert (got["cnt"].to_numpy() == want["cnt"].to_numpy()).all()


def test_filter_group_by_multi_dnf(spark, gs_table):
    """DNF predicates compose with the multi-agg kernel: OR of two
    conjuncts, then grouped sums."""
    from arcade_spark.readops import filter_group_by_multi

    out, pdf = gs_table
    got = (
        filter_group_by_multi(
            spark, out, [], ["lang"],
            [("sum_x", "sum", "x"), ("cnt", "count", None)],
            dnf=[[("eq", "lang", "en"), ("range", "x", 0, 50)],
                 [("eq", "lang", "de")]],
        )
        .toPandas()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    m = ((pdf["lang"] == "en") & (pdf["x"] >= 0) & (pdf["x"] <= 50)) | (
        pdf["lang"] == "de"
    )
    sub = pdf[m].dropna(subset=["lang"])
    want = (
        sub.groupby("lang")
        .agg(sum_x=("x", "sum"), cnt=("x", "size"))
        .reset_index()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    assert list(got["lang"]) == list(want["lang"])
    assert (got["sum_x"].to_numpy() == want["sum_x"].to_numpy()).all()
    assert (got["cnt"].to_numpy() == want["cnt"].to_numpy()).all()


def test_bare_min_max_exact_past_2_62(spark, tmp_path):
    """MIN/MAX over one bare column is a comparison and cannot wrap, so
    it is exact at any int64 magnitude — the 2^62 overflow guard binds
    only aggregates that add or multiply (a sum here raises)."""
    from arcade_spark.readops import filter_group_by_multi

    big = 2 ** 62
    rows = [(f"u{i:03d}", f"g{i % 3}", (big + i) * (1 if i % 2 else -1))
            for i in range(60)]
    src = spark.createDataFrame(rows, "url string, g string, v long")
    out = str(tmp_path / "enc")
    encode_job(spark, src, out, num_parts=2, block_rows=16, order_col="url")
    want = {}
    for _u, g, v in rows:
        lo, hi, c = want.get(g, (v, v, 0))
        want[g] = (min(lo, v), max(hi, v), c + 1)
    got = {
        r["g"]: (r["mn"], r["mx"], r["cnt"])
        for r in filter_group_by_multi(
            spark, out, [], ["g"],
            [("mn", "min", "v"), ("mx", "max", "v"), ("cnt", "count", None)],
        ).collect()
    }
    assert got == want
    # every group's max is positive: a predicate keeping v >= 0 leaves it
    got = {
        r["g"]: r["mx"]
        for r in filter_group_by_multi(
            spark, out, [("range", "v", 0, big + 100)], ["g"],
            [("mx", "max", "v")],
        ).collect()
    }
    assert got == {g: mx for g, (_mn, mx, _c) in want.items()}
    # group_by and group_sum carry a sum spec: it could wrap, so it raises
    overflow = "ValueError: multi-agg affine term overflows int64"
    with pytest.raises(Exception, match=overflow):
        group_by(spark, out, ["g"], "v").collect()
    with pytest.raises(Exception, match=overflow):
        group_sum(spark, out, "g", "v").collect()


@pytest.mark.parametrize(
    "op", ["group_sum", "filter_group_by_multi", "column_agg", "filter_agg"]
)
def test_block_sum_past_2_62_raises(spark, tmp_path, op):
    """Eight rows of 2^61 + 3 in one block: every value passes the
    per-value 2^62 bar, but their int64 block sum wraps to 24. The
    kernel's per-block sum bound must raise instead, on every
    aggregate that runs a sum through it (grouped, global, filtered)."""
    from arcade_spark import readops

    rows = [(f"u{i}", "g", 2 ** 61 + 3) for i in range(8)]
    src = spark.createDataFrame(rows, "url string, g string, v long")
    out = str(tmp_path / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=16)
    run = {
        "group_sum": lambda: readops.group_sum(spark, out, "g", "v"),
        "filter_group_by_multi": lambda: readops.filter_group_by_multi(
            spark, out, [], ["g"], [("s", "sum", "v")]),
        "column_agg": lambda: readops.column_agg(spark, out, "v"),
        "filter_agg": lambda: readops.filter_agg(
            spark, out, [("eq", "g", "g")], "v"),
    }[op]
    with pytest.raises(Exception, match="multi-agg sum overflows int64"):
        run().collect()


@pytest.mark.parametrize("op", ["group_sum", "column_agg"])
def test_merged_sum_past_2_62_raises_without_ansi(spark, tmp_path, op):
    """Sixteen rows of 2^60 + 3 in eight two-row blocks: every block sum
    passes the kernel's per-block bound, but the total is 2^64 + 48.
    With spark.sql.ansi.enabled=false an int64 merge of the partials
    wraps to 48 silently; the decimal(38,0) merge and its checked cast
    must raise instead, grouped and global."""
    from arcade_spark import readops

    rows = [(f"u{i:02d}", "g", 2 ** 60 + 3) for i in range(16)]
    src = spark.createDataFrame(rows, "url string, g string, v long")
    out = str(tmp_path / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=2)
    run = {
        "group_sum": lambda: readops.group_sum(spark, out, "g", "v"),
        "column_agg": lambda: readops.column_agg(spark, out, "v"),
    }[op]
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="exceeds 2\\^62"):
            run().collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
