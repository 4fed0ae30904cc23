"""orderby_export (round-5): zone-map range buckets + per-bucket sort +
late-materialized projection — full ORDER BY with global rank, no
single-task sort. Checked against pandas orderings."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from arcade_spark.encode import encode_job
from arcade_spark.readops import orderby_export


@pytest.fixture(scope="module")
def ob_table(spark, tmp_path_factory):
    rng = np.random.default_rng(23)
    n = 4000
    pdf = pd.DataFrame(
        {
            "url": [f"https://h{rng.integers(0, 9)}.ex/p{i:05d}" for i in range(n)],
            "x": pd.array(rng.integers(-500, 500, n).astype(np.int64),
                          dtype="Int64"),
            "s": np.array(["kappa", "lambda", "mu", "nu", "xi"])[
                rng.integers(0, 5, n)],
            "qty": rng.integers(1, 100, n).astype(np.int64),
        }
    )
    pdf.loc[rng.random(n) < 0.03, "x"] = pd.NA
    src = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("ob") / "enc")
    encode_job(spark, src, out, num_parts=4, block_rows=256, order_col="url")
    return out, pdf


def test_orderby_int_unique_tuple(spark, ob_table):
    """ORDER BY (x, url): unique tuple → exact pos match vs pandas;
    nulls last."""
    out, pdf = ob_table
    got = (
        orderby_export(spark, out, ["x", "url"], ["url", "x", "qty"],
                       buckets=7)
        .toPandas().sort_values("pos").reset_index(drop=True)
    )
    want = (
        pdf.sort_values(["x", "url"], na_position="last")
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert list(got["pos"]) == list(range(len(want)))
    assert list(got["url"]) == list(want["url"])
    assert list(got["qty"]) == list(want["qty"])
    # nulls sorted last
    nn = want["x"].notna().sum()
    assert got["x"].iloc[:nn].notna().all() and got["x"].iloc[nn:].isna().all()


def test_orderby_str_desc(spark, ob_table):
    """ORDER BY (url) DESC on a string column — url is unique."""
    out, pdf = ob_table
    got = (
        orderby_export(spark, out, ["url"], ["url", "s"], desc=True,
                       buckets=5)
        .toPandas().sort_values("pos").reset_index(drop=True)
    )
    want = pdf.sort_values("url", ascending=False).reset_index(drop=True)
    assert list(got["url"]) == list(want["url"])
    assert list(got["s"]) == list(want["s"])


def test_orderby_with_preds(spark, ob_table):
    out, pdf = ob_table
    got = (
        orderby_export(spark, out, ["s", "url"], ["url", "s"],
                       preds=[("range", "qty", 10, 60)], buckets=4)
        .toPandas().sort_values("pos").reset_index(drop=True)
    )
    sub = pdf[(pdf["qty"] >= 10) & (pdf["qty"] <= 60)]
    want = sub.sort_values(["s", "url"]).reset_index(drop=True)
    assert list(got["url"]) == list(want["url"])
    assert list(got["s"]) == list(want["s"])


def test_orderby_ties_are_permutation_and_monotone(spark, ob_table):
    """Non-unique order col: pos must be a permutation of 0..n-1 and
    the order-col sequence non-decreasing (ties broken by rowid —
    deterministic across runs)."""
    out, pdf = ob_table
    got1 = (
        orderby_export(spark, out, ["s"], ["url", "s"], buckets=6)
        .toPandas().sort_values("pos").reset_index(drop=True)
    )
    got2 = (
        orderby_export(spark, out, ["s"], ["url", "s"], buckets=6)
        .toPandas().sort_values("pos").reset_index(drop=True)
    )
    n = len(pdf)
    assert list(got1["pos"]) == list(range(n))
    sv = list(got1["s"])
    assert sv == sorted(sv)
    # deterministic tie-break: two runs agree exactly
    assert list(got1["url"]) == list(got2["url"])


def test_orderby_double_order_col(spark, tmp_path_factory):
    """Double order columns ride the order-preserving int64 key lane —
    including negatives and a NaN (sorts above +inf)."""
    rng = np.random.default_rng(3)
    vals = list(np.round(rng.normal(0, 100, 500), 2))
    vals[7] = float("nan")
    src = spark.createDataFrame(
        [(f"u{i:03d}", float(v)) for i, v in enumerate(vals)],
        "url string, v double",
    )
    out = str(tmp_path_factory.mktemp("obf") / "enc")
    encode_job(spark, src, out, num_parts=2, block_rows=64, order_col="url")
    got = (
        orderby_export(spark, out, ["v", "url"], ["url", "v"], buckets=5)
        .toPandas().sort_values("pos").reset_index(drop=True)
    )
    pdf = pd.DataFrame({"url": [f"u{i:03d}" for i in range(500)], "v": vals})
    # numpy/pandas sort NaN last among non-null — same as the key
    # domain (NaN key exceeds every finite key)
    want = pdf.sort_values(["v", "url"]).reset_index(drop=True)
    assert list(got["url"]) == list(want["url"])
    gv, wv = got["v"].to_numpy(), want["v"].to_numpy()
    assert ((gv == wv) | (np.isnan(gv) & np.isnan(wv))).all()


def test_orderby_plan_has_no_global_sort(spark, ob_table):
    """The plan must not contain Spark's global-sort signature
    (Exchange rangepartitioning + Sort): sorting happens inside the
    per-bucket applyInArrow kernel."""
    out, _ = ob_table
    df = orderby_export(spark, out, ["x", "url"], ["url"], buckets=6)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan
    # local (within-partition) sorts are fine — SMJ join keys and the
    # applyInArrow group key; a GLOBAL sort (`Sort [...], true, 0`)
    # would mean Spark planned the single-range-exchange sort we exist
    # to avoid
    for line in plan.splitlines():
        if "Sort [" in line:
            assert ", true, " not in line, line


def test_column_rank_values(spark, ob_table):
    """Exact order statistics without a global sort: values at given
    ranks / quantiles match a full pandas sort, for int and string
    columns."""
    from arcade_spark.readops import column_rank_values

    out, pdf = ob_table
    xs = np.sort(pdf["x"].dropna().to_numpy().astype(np.int64))
    n = len(xs)
    got = {
        r["pos"]: r["v"]
        for r in column_rank_values(
            spark, out, "x", ranks=[0, n // 2, n - 1], buckets=6
        ).collect()
    }
    assert got == {0: xs[0], n // 2: xs[n // 2], n - 1: xs[-1]}

    qgot = {
        r["pos"]: r["v"]
        for r in column_rank_values(
            spark, out, "x", quantiles=[0.25, 0.5, 0.99], buckets=6
        ).collect()
    }
    for q in (0.25, 0.5, 0.99):
        rk = int(q * (n - 1))
        assert qgot[rk] == xs[rk]

    us = np.sort(pdf["url"].to_numpy())
    sgot = column_rank_values(spark, out, "url", ranks=[17], buckets=4).collect()
    assert sgot[0]["v"] == us[17]

    with pytest.raises(IndexError):
        column_rank_values(spark, out, "x", ranks=[n + 5])
    with pytest.raises(ValueError, match="exactly one"):
        column_rank_values(spark, out, "x")


def test_column_rank_values_double(spark, tmp_path_factory):
    from arcade_spark.readops import column_rank_values

    rng = np.random.default_rng(9)
    vals = sorted(float(x) for x in np.round(rng.normal(0, 50, 800), 3))
    src = spark.createDataFrame(
        [(f"u{i:03d}", v) for i, v in enumerate(
            rng.permutation(vals).tolist())],
        "url string, v double",
    )
    out = str(tmp_path_factory.mktemp("rvd") / "enc")
    encode_job(spark, src, out, num_parts=2, block_rows=64, order_col="url")
    got = {
        r["pos"]: r["v"]
        for r in column_rank_values(
            spark, out, "v", ranks=[0, 399, 799], buckets=5
        ).collect()
    }
    assert got == {0: vals[0], 399: vals[399], 799: vals[799]}


def test_orderby_mixed_first_asc(spark, ob_table):
    """desc as a LIST (round-6): ORDER BY x ASC, url DESC — unique
    tuple via url; the per-key NULLS LAST contract matches pandas
    na_position='last'."""
    out, pdf = ob_table
    got = (
        orderby_export(spark, out, ["x", "url"], ["url", "x", "qty"],
                       desc=[False, True], buckets=7)
        .toPandas().sort_values("pos").reset_index(drop=True)
    )
    want = (
        pdf.sort_values(["x", "url"], ascending=[True, False],
                        na_position="last")
        .reset_index(drop=True)
    )
    assert list(got["pos"]) == list(range(len(want)))
    assert list(got["url"]) == list(want["url"])
    assert list(got["qty"]) == list(want["qty"])
    nn = want["x"].notna().sum()
    assert got["x"].iloc[:nn].notna().all() and got["x"].iloc[nn:].isna().all()


def test_orderby_mixed_first_desc_binary(spark, ob_table):
    """First key DESCENDING on a BINARY column with a second ascending
    key: range buckets replay in reverse, null bucket stays last (none
    here — url is non-null), within-bucket Arrow sort runs the real
    direction mix."""
    out, pdf = ob_table
    got = (
        orderby_export(spark, out, ["s", "url"], ["url", "s"],
                       desc=[True, False], buckets=6)
        .toPandas().sort_values("pos").reset_index(drop=True)
    )
    want = (
        pdf.sort_values(["s", "url"], ascending=[False, True],
                        na_position="last")
        .reset_index(drop=True)
    )
    assert list(got["url"]) == list(want["url"])
    assert list(got["s"]) == list(want["s"])


def test_orderby_mixed_first_desc_int_nulls(spark, ob_table):
    """First key DESC over an int column WITH nulls: contract is NULLS
    LAST (vs legacy desc=True bool which reverses exactly → nulls
    first). Unique tuple via trailing url."""
    out, pdf = ob_table
    got = (
        orderby_export(spark, out, ["x", "url"], ["url", "x"],
                       desc=[True, True], buckets=7)
        .toPandas().sort_values("pos").reset_index(drop=True)
    )
    want = (
        pdf.sort_values(["x", "url"], ascending=[False, False],
                        na_position="last")
        .reset_index(drop=True)
    )
    assert list(got["url"]) == list(want["url"])
    nn = want["x"].notna().sum()
    assert got["x"].iloc[:nn].notna().all() and got["x"].iloc[nn:].isna().all()
    # legacy bool desc=True on the same query: nulls FIRST (exact
    # reverse contract) — both contracts stay available
    got_legacy = (
        orderby_export(spark, out, ["x", "url"], ["url", "x"],
                       desc=True, buckets=7)
        .toPandas().sort_values("pos").reset_index(drop=True)
    )
    n_null = pdf["x"].isna().sum()
    assert got_legacy["x"].iloc[:n_null].isna().all()


def test_orderby_mixed_all_false_equals_asc(spark, ob_table):
    out, pdf = ob_table
    a = (
        orderby_export(spark, out, ["s", "url"], ["url"], buckets=5)
        .toPandas().sort_values("pos").reset_index(drop=True)
    )
    b = (
        orderby_export(spark, out, ["s", "url"], ["url"],
                       desc=[False, False], buckets=5)
        .toPandas().sort_values("pos").reset_index(drop=True)
    )
    assert list(a["url"]) == list(b["url"])


def test_composite_splits_low_cardinality_first(spark, tmp_path_factory):
    """Round-6 done-bar: ORDER BY (lang, url) on 20 langs must produce
    MORE buckets than distinct first values (second-lane zone mins
    sub-split hot langs) and stay balanced — no bucket above ~2x the
    mean. Data clustered by lang (order_col), the layout where zone
    splits apply."""
    from arcade_spark.partread import key_rowid_parts
    from arcade_spark.readops import _bucketizer, _zone_splits
    from pyspark.sql import functions as F2

    rng = np.random.default_rng(7)
    n = 4000
    pdf = pd.DataFrame(
        {
            "lang": [f"l{rng.integers(0, 20):02d}" for _ in range(n)],
            "url": [f"https://{rng.integers(0, 10)}x.ex/{rng.integers(0, 10**9):09d}"
                    for _ in range(n)],
        }
    )
    src = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("csplit") / "enc")
    encode_job(spark, src, out, num_parts=4, block_rows=128, order_col="lang")

    from arcade_spark.partread import Manifest

    m = Manifest.read(out)
    splits = _zone_splits(spark, m, "lang", 24, second="url")
    assert len(splits) >= 20, f"only {len(splits)} split pairs"

    kvts = m.vts(["lang", "url"])
    keyed_b, _ = key_rowid_parts(
        spark, m, None, ["lang", "url"],
        post=_bucketizer(
            kvts, True, splits, len(splits) + 1,
            second_mode="col", null1_sentinel=np.iinfo(np.int64).max,
        ),
    )
    counts = [
        r["cnt"] for r in
        keyed_b.groupBy("bkt").agg(F2.count("*").alias("cnt")).collect()
    ]
    mean = n / len(counts)
    assert max(counts) <= 2.2 * mean, (sorted(counts), mean)

    # end-to-end: the export is still the exact pandas order
    got = (
        orderby_export(spark, out, ["lang", "url"], ["url", "lang"],
                       buckets=24)
        .toPandas().sort_values("pos").reset_index(drop=True)
    )
    want = pdf.sort_values(["lang", "url"]).reset_index(drop=True)
    assert list(got["url"]) == list(want["url"])
    assert list(got["lang"]) == list(want["lang"])


def test_composite_splits_mixed_desc_end_to_end(spark, ob_table):
    """Pair splits + mixed all-DESC directions: boundaries consumed in
    reverse, second-lane nulls in the lowest sub-bucket (NULLS LAST).
    x has nulls; (x DESC, url DESC) is unique via url."""
    out, pdf = ob_table
    got = (
        orderby_export(spark, out, ["x", "url"], ["url", "x"],
                       desc=[True, True], buckets=12)
        .toPandas().sort_values("pos").reset_index(drop=True)
    )
    want = (
        pdf.sort_values(["x", "url"], ascending=[False, False],
                        na_position="last")
        .reset_index(drop=True)
    )
    assert list(got["url"]) == list(want["url"])
