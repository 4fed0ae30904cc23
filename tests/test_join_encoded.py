"""join_encoded (round-4): encoded-to-encoded shuffle join — key+rowid
extraction, distributed late materialization, predicate pushdown, null
keys, int and string key lanes — checked against Spark's native join on
the source data."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from arcade_spark.encode import encode_job
from arcade_spark.readops import join_encoded


@pytest.fixture(scope="module")
def two_tables(spark, tmp_path_factory):
    rng = np.random.default_rng(31)
    na, nb = 3000, 800
    pa_ = pd.DataFrame(
        {
            "url": [f"https://a{i:05d}.ex/" for i in range(na)],
            "fk": rng.integers(0, 500, na).astype(np.int64),
            "lang": np.array(["en", "de", "fr", "el"])[rng.integers(0, 4, na)],
            "qty": rng.integers(1, 50, na).astype(np.int64),
        }
    )
    pa_.loc[rng.random(na) < 0.04, "fk"] = -1  # stand-in for later nulling
    pa_["fk"] = pd.array(pa_["fk"], dtype="Int64")
    pa_.loc[pa_["fk"] == -1, "fk"] = pd.NA
    pb = pd.DataFrame(
        {
            "pk": pd.array(
                np.concatenate([rng.permutation(500),
                                rng.integers(0, 500, nb - 500)]).astype(np.int64),
                dtype="Int64",
            ),
            "name": [f"dim-{i:04d}" for i in range(nb)],
            "grade": np.array(["x", "y", "z"])[rng.integers(0, 3, nb)],
        }
    )
    pb.loc[rng.random(nb) < 0.03, "pk"] = pd.NA
    sa = spark.createDataFrame(pa_)
    sb = spark.createDataFrame(pb)
    oa = str(tmp_path_factory.mktemp("ja") / "enc_a")
    ob = str(tmp_path_factory.mktemp("jb") / "enc_b")
    encode_job(spark, sa, oa, num_parts=2, block_rows=256, order_col="url")
    encode_job(spark, sb, ob, num_parts=2, block_rows=128, order_col="name")
    return oa, ob, sa, sb


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_join_int_key(spark, two_tables):
    oa, ob, sa, sb = two_tables
    got = join_encoded(
        spark, oa, ob, "fk", "pk",
        project_a=["url", "qty"], project_b=["name"],
    )
    assert got.columns == ["fk", "url", "qty", "name"]
    want = (
        sa.join(sb, sa["fk"] == sb["pk"])
        .select("fk", "url", "qty", "name")
    )
    assert _sorted_rows(got) == _sorted_rows(want)


def test_join_with_predicates_both_sides(spark, two_tables):
    oa, ob, sa, sb = two_tables
    got = join_encoded(
        spark, oa, ob, "fk", "pk",
        project_a=["qty"], project_b=["name"],
        preds_a=[("eq", "lang", "de")],
        preds_b=[("eq", "grade", "y")],
    )
    want = (
        sa.filter(sa["lang"] == "de")
        .join(sb.filter(sb["grade"] == "y"), sa["fk"] == sb["pk"])
        .select("fk", "qty", "name")
    )
    assert _sorted_rows(got) == _sorted_rows(want)
    assert got.count() > 0  # non-vacuous


def test_join_str_key(spark, tmp_path_factory):
    rng = np.random.default_rng(5)
    left = [(f"u{i:04d}", ["alpha", "beta", "gamma", None][rng.integers(0, 4)])
            for i in range(400)]
    right = [(k, len(k)) for k in ["alpha", "beta", "delta"]]
    sa = spark.createDataFrame(left, "url string, tag string")
    sb = spark.createDataFrame(right, "tag2 string, tlen long")
    oa = str(tmp_path_factory.mktemp("js") / "a")
    ob = str(tmp_path_factory.mktemp("js") / "b")
    encode_job(spark, sa, oa, num_parts=1, block_rows=64, order_col="url")
    encode_job(spark, sb, ob, num_parts=1, block_rows=64, order_col="tag2")
    got = join_encoded(spark, oa, ob, "tag", "tag2",
                       project_a=["url"], project_b=["tlen"])
    want = sa.join(sb, sa["tag"] == sb["tag2"]).select("tag", "url", "tlen")
    assert _sorted_rows(got) == _sorted_rows(want)


def test_join_projection_clash_and_float_key(spark, two_tables):
    oa, ob, _, _ = two_tables
    with pytest.raises(ValueError, match="clash"):
        join_encoded(spark, oa, oa, "fk", "fk",
                     project_a=["qty"], project_b=["qty"])
    with pytest.raises(KeyError):
        join_encoded(spark, oa, ob, "nope")


def test_join_no_projections_key_stream_only(spark, two_tables):
    oa, ob, sa, sb = two_tables
    got = join_encoded(spark, oa, ob, "fk", "pk")
    want = sa.join(sb, sa["fk"] == sb["pk"]).select(sa["fk"])
    assert _sorted_rows(got) == _sorted_rows(want)


def test_group_by_multi_full_table(spark, two_tables):
    """Empty-predicate multi-agg: full-table GROUP BY with sums and a
    product aggregate (round-4)."""
    from arcade_spark.readops import group_by_multi

    oa, _, sa, _ = two_tables
    got = {
        r["lang"]: r
        for r in group_by_multi(
            spark, oa, ["lang"],
            [("sum_qty", "sum", "qty"),
             ("sum_fkqty", "sumprod", [("fk", 1, 0), ("qty", 1, 0)]),
             ("cnt", "count", None)],
        ).collect()
    }
    import pandas as pd

    pdf = sa.toPandas()
    want = (
        pdf.assign(fkqty=pdf["fk"].astype("float") * pdf["qty"])
        .groupby("lang")
        .agg(sum_qty=("qty", "sum"), sum_fkqty=("fkqty", "sum"),
             cnt=("qty", "size"))
    )
    for lang, w in want.iterrows():
        r = got[lang]
        assert r["sum_qty"] == int(w["sum_qty"])
        assert r["sum_fkqty"] == int(w["sum_fkqty"])
        assert r["cnt"] == int(w["cnt"])


def test_query_job_join_cli(spark, two_tables):
    import argparse

    import arcade_spark.jobs.query_job as qj

    oa, ob, sa, sb = two_tables
    args = argparse.Namespace(
        cmd="join", encoded=oa, right=ob, key="fk", right_key="pk",
        project="qty", right_project="name",
    )
    df = qj.build_query(spark, args)
    assert df.columns == ["fk", "qty", "name"]
    assert df.count() == sa.join(sb, sa["fk"] == sb["pk"]).count()


def test_join_left_outer(spark, two_tables):
    """LEFT join preserves unmatched and null-key left rows with null
    right-side projections (round-4)."""
    oa, ob, sa, sb = two_tables
    got = join_encoded(
        spark, oa, ob, "fk", "pk",
        project_a=["url", "qty"], project_b=["name"], how="left",
    )
    want = (
        sa.join(sb, sa["fk"] == sb["pk"], "left")
        .select("fk", "url", "qty", "name")
    )
    assert _sorted_rows_none_safe(got) == _sorted_rows_none_safe(want)
    # non-vacuous: some left rows truly unmatched / null-keyed
    assert got.filter("name IS NULL").count() > 0


def test_join_left_with_right_predicate(spark, two_tables):
    oa, ob, sa, sb = two_tables
    got = join_encoded(
        spark, oa, ob, "fk", "pk",
        project_a=["qty"], project_b=["name"],
        preds_b=[("eq", "grade", "y")], how="left",
    )
    want = (
        sa.join(sb.filter(sb["grade"] == "y"), sa["fk"] == sb["pk"], "left")
        .select("fk", "qty", "name")
    )
    assert _sorted_rows_none_safe(got) == _sorted_rows_none_safe(want)


def _sorted_rows_none_safe(df):
    def key(t):
        return tuple((v is None, v) for v in t)

    return sorted((tuple(r) for r in df.collect()), key=key)


def test_join_right_outer(spark, two_tables):
    """RIGHT join (round-5): unmatched and null-key RIGHT rows survive
    with null left projections; the key column carries
    COALESCE(a.k, b.k) as in a USING join."""
    from pyspark.sql import functions as F

    oa, ob, sa, sb = two_tables
    got = join_encoded(
        spark, oa, ob, "fk", "pk",
        project_a=["url", "qty"], project_b=["name"], how="right",
    )
    want = (
        sa.join(sb, sa["fk"] == sb["pk"], "right")
        .select(F.coalesce(sa["fk"], sb["pk"]).alias("fk"),
                "url", "qty", "name")
    )
    assert _sorted_rows_none_safe(got) == _sorted_rows_none_safe(want)
    assert got.filter("url IS NULL").count() > 0


def test_join_full_outer(spark, two_tables):
    """FULL join (round-5): both sides' unmatched rows survive."""
    from pyspark.sql import functions as F

    oa, ob, sa, sb = two_tables
    got = join_encoded(
        spark, oa, ob, "fk", "pk",
        project_a=["qty"], project_b=["name"], how="full",
    )
    want = (
        sa.join(sb, sa["fk"] == sb["pk"], "full")
        .select(F.coalesce(sa["fk"], sb["pk"]).alias("fk"), "qty", "name")
    )
    assert _sorted_rows_none_safe(got) == _sorted_rows_none_safe(want)
    assert got.filter("qty IS NULL").count() > 0
    assert got.filter("name IS NULL").count() > 0


@pytest.fixture(scope="module")
def composite_tables(spark, tmp_path_factory):
    """Composite (int, str) join keys with nulls in either component."""
    rng = np.random.default_rng(17)
    n = 900
    left = pd.DataFrame(
        {
            "url": [f"u{i:04d}" for i in range(n)],
            "k1": pd.array(rng.integers(0, 12, n).astype(np.int64),
                           dtype="Int64"),
            "k2": np.array(["x", "y", "z"])[rng.integers(0, 3, n)],
            "qty": rng.integers(1, 9, n).astype(np.int64),
        }
    )
    left.loc[rng.random(n) < 0.05, "k1"] = pd.NA
    left.loc[rng.random(n) < 0.05, "k2"] = None
    m = 30
    right = pd.DataFrame(
        {
            "r1": pd.array(rng.integers(0, 14, m).astype(np.int64),
                           dtype="Int64"),
            "r2": np.array(["x", "y", "w"])[rng.integers(0, 3, m)],
            "label": [f"L{i:02d}" for i in range(m)],
        }
    )
    right.loc[2, "r1"] = pd.NA
    sa = spark.createDataFrame(left)
    sb = spark.createDataFrame(right)
    oa = str(tmp_path_factory.mktemp("jc") / "a")
    ob = str(tmp_path_factory.mktemp("jc") / "b")
    encode_job(spark, sa, oa, num_parts=2, block_rows=128, order_col="url")
    encode_job(spark, sb, ob, num_parts=1, block_rows=16, order_col="label")
    return oa, ob, sa, sb


def test_join_composite_key_inner(spark, composite_tables):
    oa, ob, sa, sb = composite_tables
    got = join_encoded(
        spark, oa, ob, ["k1", "k2"], ["r1", "r2"],
        project_a=["url", "qty"], project_b=["label"],
    )
    assert got.columns == ["k1", "k2", "url", "qty", "label"]
    want = (
        sa.join(sb, (sa["k1"] == sb["r1"]) & (sa["k2"] == sb["r2"]))
        .select("k1", "k2", "url", "qty", "label")
    )
    assert _sorted_rows(got) == _sorted_rows(want)
    assert got.count() > 0


def test_join_composite_key_left(spark, composite_tables):
    """Rows with ANY null key component never match but survive a LEFT
    join with their per-component null pattern intact."""
    oa, ob, sa, sb = composite_tables
    got = join_encoded(
        spark, oa, ob, ["k1", "k2"], ["r1", "r2"],
        project_a=["qty"], project_b=["label"], how="left",
    )
    want = (
        sa.join(sb, (sa["k1"] == sb["r1"]) & (sa["k2"] == sb["r2"]), "left")
        .select("k1", "k2", "qty", "label")
    )
    assert _sorted_rows_none_safe(got) == _sorted_rows_none_safe(want)
    assert got.filter("k1 IS NULL AND k2 IS NOT NULL").count() > 0


def test_join_composite_key_count_mismatch(spark, composite_tables):
    oa, ob, *_ = composite_tables
    with pytest.raises(ValueError, match="key count"):
        join_encoded(spark, oa, ob, ["k1", "k2"], "r1")


def test_materialize_split_key_multi_group(spark, tmp_path_factory, monkeypatch):
    """Round-5 (VERDICT r4 latent #4): late materialization splits the
    rowids into rowid-range groups — forced here by shrinking the cap —
    and the union of splits is byte-identical to the unsplit attach."""
    import arcade_spark.partread as pr

    src = spark.createDataFrame(
        [(f"u{i:05d}", f"t-{i % 7}", i) for i in range(3000)],
        "url string, tag string, n long",
    )
    out = str(tmp_path_factory.mktemp("msplit") / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=128, order_col="url")
    from pyspark.sql import functions as F

    rids = spark.range(0, 3000, 3).select(F.col("id").alias("rid"))
    whole = sorted(tuple(r) for r in pr.attach_rowids_parts(
        spark, pr.Manifest.read(out), rids, "rid", ["url", "tag", "n"]).collect())
    monkeypatch.setattr(pr, "_MAT_SPLIT_ROWS", 500)
    got = pr.attach_rowids_parts(spark, pr.Manifest.read(out), rids, "rid",
                                 ["url", "tag", "n"])
    rows = sorted(tuple(r) for r in got.collect())
    assert len(rows) == 1000
    assert rows[0] == (0, "u00000", "t-0", 0)
    assert all(r[0] % 3 == 0 and r[3] == r[0] for r in rows)
    assert rows == whole


def test_join_semi(spark, two_tables):
    """EXISTS at shuffle scale: left rows with >=1 match, never
    duplicated by multiple matches; null-key left rows dropped."""
    oa, ob, sa, sb = two_tables
    got = join_encoded(
        spark, oa, ob, "fk", "pk",
        project_a=["url", "qty"],
        preds_b=[("eq", "grade", "y")],
        how="semi",
    )
    assert got.columns == ["fk", "url", "qty"]
    want = (
        sa.join(sb.filter(sb["grade"] == "y"), sa["fk"] == sb["pk"],
                "left_semi")
        .select("fk", "url", "qty")
    )
    assert _sorted_rows(got) == _sorted_rows(want)


def test_join_anti(spark, two_tables):
    """NOT EXISTS: left rows with no match, null-key left rows KEPT
    (NOT EXISTS holds vacuously for a null key)."""
    oa, ob, sa, sb = two_tables
    got = join_encoded(
        spark, oa, ob, "fk", "pk",
        project_a=["url"],
        preds_b=[("eq", "grade", "y")],
        how="anti",
    )
    want = (
        sa.join(sb.filter(sb["grade"] == "y"), sa["fk"] == sb["pk"],
                "left_anti")
        .select("fk", "url")
    )

    def _nsafe(df):
        return sorted(
            (tuple(r) for r in df.collect()),
            key=lambda r: tuple((v is None, v) for v in r),
        )

    got_rows = _nsafe(got.select("fk", "url"))
    assert got_rows == _nsafe(want)
    # null-key rows present (Spark's left_anti keeps them too)
    assert any(r[0] is None for r in got_rows)
    # semi + anti partition the left side
    semi_n = join_encoded(spark, oa, ob, "fk", "pk",
                          preds_b=[("eq", "grade", "y")],
                          how="semi").count()
    assert semi_n + got.count() == 3000


def test_join_semi_anti_validation(spark, two_tables):
    oa, ob, _, _ = two_tables
    with pytest.raises(ValueError):
        join_encoded(spark, oa, ob, "fk", "pk",
                     project_b=["name"], how="semi")
    with pytest.raises(ValueError):
        join_encoded(spark, oa, ob, "fk", "pk", how="bogus")


def _executed_plan(df) -> str:
    df.collect()  # AQE finalizes the plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE's toString echoes the pre-adaptive plan below the final one —
    # only the Final Plan section says what actually ran
    return plan.split("== Initial Plan ==")[0]


def test_small_dim_side_broadcasts(spark, two_tables):
    """A dimension side whose manifest row total fits the broadcast cap
    must hint BroadcastHashJoin on the key-stream join — key streams
    come out of mapInArrow, which Catalyst cannot size statically, so
    without the hint the fact side's keys sort-merge-shuffle. Results
    must be identical with the hint disabled."""
    oa, ob, _, _ = two_tables
    j = join_encoded(spark, oa, ob, "fk", "pk",
                     project_a=["qty"], project_b=["grade"])
    plan = _executed_plan(j)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan

    def _nsafe(df):
        return sorted(
            (tuple(r) for r in df.collect()),
            key=lambda r: tuple((v is None, str(v)) for v in r),
        )

    off = join_encoded(spark, oa, ob, "fk", "pk",
                       project_a=["qty"], project_b=["grade"],
                       broadcast=None)
    assert _nsafe(j) == _nsafe(off)


def test_semi_and_outer_broadcast_and_match(spark, two_tables):
    """semi/anti and outer variants keep their semantics under the
    hint and still broadcast the deduped dim keys."""
    oa, ob, _, _ = two_tables
    for how in ("semi", "anti"):
        j = join_encoded(spark, oa, ob, "fk", "pk",
                         project_a=["url"], how=how)
        plan = _executed_plan(j)
        assert "BroadcastHashJoin" in plan, (how, plan)
        off = join_encoded(spark, oa, ob, "fk", "pk",
                           project_a=["url"], how=how, broadcast=None)
        assert sorted(
            (tuple(r) for r in j.collect()),
            key=lambda r: tuple((v is None, str(v)) for v in r),
        ) == sorted(
            (tuple(r) for r in off.collect()),
            key=lambda r: tuple((v is None, str(v)) for v in r),
        )
    full = join_encoded(spark, oa, ob, "fk", "pk",
                        project_b=["grade"], how="full")
    full_off = join_encoded(spark, oa, ob, "fk", "pk",
                            project_b=["grade"], how="full",
                            broadcast=None)
    key = lambda r: tuple((v is None, str(v)) for v in r)
    assert sorted((tuple(r) for r in full.collect()), key=key) == \
        sorted((tuple(r) for r in full_off.collect()), key=key)
