"""Fused join+aggregate (round-5): aggregation pushed below the join on
both sides — the TPC-H Q3/Q4 shape without materializing joined rows.
Checked against a pandas replay of the identical fixed-point
arithmetic, including duplicate build keys (multiplicity) and null
keys (inner semantics)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from arcade_spark.encode import encode_job


@pytest.fixture(scope="module")
def jg_tables(spark, tmp_path_factory):
    """fact: 600 rows with a skewed int key, double money columns and a
    side-A group col; dim: 80 rows, key DUPLICATED for some values and
    absent for others, plus null keys on both sides."""
    rng = np.random.default_rng(42)
    n = 600
    keys = rng.integers(0, 60, n).astype(object)
    keys[::97] = None  # null fact keys never join
    fact_rows = [
        (
            f"f{i:04d}",
            None if keys[i] is None else int(keys[i]),
            round(float(rng.integers(100, 99999)) / 100.0, 2),  # price
            round(float(rng.integers(0, 10)) / 100.0, 2),       # disc
            int(rng.integers(1, 50)),                           # qty
            ["A", "N", "R"][int(rng.integers(0, 3))],           # flag
        )
        for i in range(n)
    ]
    fact = spark.createDataFrame(
        fact_rows,
        "url string, k long, price double, disc double, qty long, flag string",
    )
    dim_rows = []
    for i in range(80):
        kv = i % 55  # keys 55..59 exist only in fact; keys 40..54 dup'd
        dim_rows.append(
            (f"d{i:04d}", kv if i % 19 else None,
             ["LOW", "MED", "HIGH"][kv % 3], int(kv // 20))
        )
    dim = spark.createDataFrame(
        dim_rows, "url string, k long, prio string, region long"
    )
    out_f = str(tmp_path_factory.mktemp("jgf") / "enc")
    out_d = str(tmp_path_factory.mktemp("jgd") / "enc")
    encode_job(spark, fact, out_f, num_parts=3, block_rows=64)
    encode_job(spark, dim, out_d, num_parts=2, block_rows=32)
    return out_f, out_d, fact.toPandas(), dim.toPandas()


def _joined(fpdf, dpdf, fact_pred=None, dim_pred=None):
    f = fpdf.dropna(subset=["k"]).copy()
    d = dpdf.dropna(subset=["k"]).copy()
    if fact_pred is not None:
        f = f[fact_pred(f)]
    if dim_pred is not None:
        d = d[dim_pred(d)]
    j = f.merge(d, on="k", suffixes=("", "_d"))
    j["qp"] = np.floor(j["price"].to_numpy() * 100.0 + 0.5).astype(np.int64)
    j["qd"] = np.floor(j["disc"].to_numpy() * 100.0 + 0.5).astype(np.int64)
    j["rev"] = j["qp"] * (100 - j["qd"])
    return j


def test_q3_shape_revenue_by_dim_group(spark, jg_tables):
    """revenue = Σ price·(1−disc) per dim-side priority, preds on both
    sides — the Q3 shape. Values must equal the pandas fixed-point
    replay exactly."""
    from arcade_spark.readops import join_group_by

    out_f, out_d, fpdf, dpdf = jg_tables
    got = (
        join_group_by(
            spark, out_f, out_d, "k",
            [("revenue", "sumprod", [("price", 1, 0), ("disc", -1, 100)]),
             ("cnt", "count", None)],
            group_b=["prio"],
            preds_a=[("range", "qty", 1, 40)],
            preds_b=[("in", "region", [0, 1])],
        )
        .toPandas().sort_values("prio").reset_index(drop=True)
    )
    j = _joined(
        fpdf, dpdf,
        fact_pred=lambda f: (f["qty"] >= 1) & (f["qty"] <= 40),
        dim_pred=lambda d: d["region"].isin([0, 1]),
    )
    want = (
        j.groupby("prio")
        .agg(rev=("rev", "sum"), cnt=("rev", "size"))
        .reset_index().sort_values("prio").reset_index(drop=True)
    )
    assert list(got["prio"]) == list(want["prio"])
    assert (got["revenue"].to_numpy()
            == want["rev"].to_numpy().astype(np.float64) / 10000.0).all()
    assert (got["cnt"].to_numpy() == want["cnt"].to_numpy()).all()


def test_groups_from_both_sides_with_key(spark, jg_tables):
    """group_a + group_b + include_key, sum/avg/min/max specs, full
    scan (no predicates). Duplicate dim keys multiply fact rows —
    counts and sums must reflect the multiplicity; min/max must not."""
    from arcade_spark.readops import join_group_by

    out_f, out_d, fpdf, dpdf = jg_tables
    got = (
        join_group_by(
            spark, out_f, out_d, "k",
            [("sum_qty", "sum", "qty"), ("avg_p", "avg", "price"),
             ("min_p", "min", "price"), ("max_p", "max", "price"),
             ("cnt", "count", None)],
            group_a=["flag"], group_b=["prio"], include_key=True,
        )
        .toPandas().sort_values(["k", "flag", "prio"]).reset_index(drop=True)
    )
    j = _joined(fpdf, dpdf)
    want = (
        j.groupby(["k", "flag", "prio"])
        .agg(sum_qty=("qty", "sum"), qp_sum=("qp", "sum"),
             qp_min=("qp", "min"), qp_max=("qp", "max"), n=("qp", "size"))
        .reset_index().sort_values(["k", "flag", "prio"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["k"].to_numpy() == want["k"].to_numpy().astype(np.int64)).all()
    assert list(got["flag"]) == list(want["flag"])
    assert list(got["prio"]) == list(want["prio"])
    assert (got["sum_qty"].to_numpy() == want["sum_qty"].to_numpy()).all()
    assert (got["avg_p"].to_numpy()
            == (want["qp_sum"].to_numpy().astype(np.float64) / 100.0)
            / want["n"].to_numpy().astype(np.float64)).all()
    assert (got["min_p"].to_numpy()
            == want["qp_min"].to_numpy().astype(np.float64) / 100.0).all()
    assert (got["max_p"].to_numpy()
            == want["qp_max"].to_numpy().astype(np.float64) / 100.0).all()
    assert (got["cnt"].to_numpy() == want["n"].to_numpy()).all()


def test_global_aggregate_no_groups(spark, jg_tables):
    """No group columns at all: one global row over the join."""
    from arcade_spark.readops import join_group_by

    out_f, out_d, fpdf, dpdf = jg_tables
    got = join_group_by(
        spark, out_f, out_d, "k",
        [("rev", "sumprod", [("price", 1, 0), ("disc", -1, 100)]),
         ("cnt", "count", None)],
    ).collect()
    j = _joined(fpdf, dpdf)
    assert len(got) == 1
    assert got[0]["rev"] == float(j["rev"].sum()) / 10000.0
    assert got[0]["cnt"] == len(j)


def test_keys_only_in_one_side_drop(spark, jg_tables):
    """Fact keys 55-59 have no dim row; dim null keys match nothing —
    inner semantics. Verified via include_key groups."""
    from arcade_spark.readops import join_group_by

    out_f, out_d, fpdf, dpdf = jg_tables
    got = join_group_by(
        spark, out_f, out_d, "k", [("cnt", "count", None)],
        include_key=True,
    ).toPandas()
    j = _joined(fpdf, dpdf)
    want = j.groupby("k").size()
    assert set(got["k"]) == set(want.index.astype(np.int64))
    assert got["cnt"].sum() == len(j)


def test_validation_errors(spark, jg_tables):
    from arcade_spark.readops import join_group_by

    out_f, out_d, *_ = jg_tables
    with pytest.raises(ValueError, match="name clash"):
        join_group_by(spark, out_f, out_d, "k",
                      [("prio", "count", None)], group_b=["prio"])
    with pytest.raises(Exception, match="float keys"):
        join_group_by(spark, out_f, out_d, "price", key_b="k",
                      aggs=[("cnt", "count", None)])
    with pytest.raises(ValueError, match="key lanes differ"):
        join_group_by(spark, out_f, out_d, "url", key_b="k",
                      aggs=[("cnt", "count", None)])
    with pytest.raises(ValueError, match="non-empty"):
        join_group_by(spark, out_f, out_d, "k", [])


def test_b_exists_semijoin_mode(spark, jg_tables):
    """b_exists=True (TPC-H Q4 shape): each matched A row aggregates
    once regardless of duplicate B keys — EXISTS, not a join
    multiplicity."""
    from arcade_spark.readops import join_group_by

    out_f, out_d, fpdf, dpdf = jg_tables
    got = {
        r["flag"]: (r["sum_qty"], r["cnt"])
        for r in join_group_by(
            spark, out_f, out_d, "k",
            [("sum_qty", "sum", "qty"), ("cnt", "count", None)],
            group_a=["flag"],
            preds_b=[("in", "region", [0, 1])],
            b_exists=True,
        ).collect()
    }
    d = dpdf.dropna(subset=["k"])
    keys = set(d[d["region"].isin([0, 1])]["k"].astype(int))
    f = fpdf.dropna(subset=["k"])
    sub = f[f["k"].astype(int).isin(keys)]
    want = {
        flag: (int(g["qty"].sum()), len(g))
        for flag, g in sub.groupby("flag")
    }
    assert got == want
    with pytest.raises(ValueError, match="b_exists"):
        join_group_by(spark, out_f, out_d, "k",
                      [("cnt", "count", None)],
                      group_b=["prio"], b_exists=True)


def test_aggs_from_both_sides(spark, jg_tables):
    """Round-6: side-B aggregate columns fold symmetrically as
    Σ S_B·na — sum/min/max/avg over dim columns next to fact-side
    specs, with duplicate keys multiplying BOTH directions."""
    from arcade_spark.readops import join_group_by

    out_f, out_d, fpdf, dpdf = jg_tables
    got = (
        join_group_by(
            spark, out_f, out_d, "k",
            [("revenue", "sumprod",
              [("price", 1, 0), ("disc", -1, 100)]),
             ("sum_region", "sum", "region", "b"),
             ("min_prio", "min", "prio", "b"),
             ("avg_region", "avg", "region", "b"),
             ("cnt", "count", None)],
            group_a=["flag"],
            preds_a=[("range", "qty", 1, 45)],
        )
        .toPandas().sort_values("flag").reset_index(drop=True)
    )
    j = _joined(
        fpdf, dpdf,
        fact_pred=lambda f: (f["qty"] >= 1) & (f["qty"] <= 45),
    )
    want = (
        j.groupby("flag")
        .agg(rev=("rev", "sum"), sum_region=("region", "sum"),
             min_prio=("prio", "min"), avg_region=("region", "mean"),
             n=("rev", "size"))
        .reset_index().sort_values("flag").reset_index(drop=True)
    )
    assert list(got["flag"]) == list(want["flag"])
    assert (got["revenue"].to_numpy()
            == want["rev"].to_numpy().astype(np.float64) / 10000.0).all()
    assert (got["sum_region"].to_numpy()
            == want["sum_region"].to_numpy()).all()
    assert list(got["min_prio"]) == list(want["min_prio"])
    assert np.allclose(got["avg_region"].to_numpy(),
                       want["avg_region"].to_numpy(), rtol=0, atol=0)
    assert (got["cnt"].to_numpy() == want["n"].to_numpy()).all()


def test_b_side_aggs_rejected_under_exists(spark, jg_tables):
    from arcade_spark.readops import join_group_by

    out_f, out_d, _f, _d = jg_tables
    with pytest.raises(ValueError, match="b_exists"):
        join_group_by(
            spark, out_d, out_f, "k",
            [("s", "sum", "qty", "b")],
            b_exists=True,
        )


@pytest.mark.parametrize("op", ["join_group_by", "join_group_by_chain"])
def test_hop_products_checked_without_ansi(spark, tmp_path, op):
    """One A row x = 2^61 on key 1 and eight B rows on key 1: the
    groupjoin sum S_A·nb is 2^64. With spark.sql.ansi.enabled=false an
    int64 product would wrap to 0 silently; the hop's decimal(38,0)
    products and checked cast must raise instead, on both the one-hop
    and the two-hop operator."""
    from arcade_spark.readops import join_group_by, join_group_by_chain

    a = spark.createDataFrame([("a0", 1, 2 ** 61)], "url string, k long, x long")
    b = spark.createDataFrame(
        [(f"b{i}", 1, 7) for i in range(8)], "url string, k long, kc long"
    )
    c = spark.createDataFrame([("c0", 7, "r")], "url string, kc long, region string")
    outs = {}
    for name, df in (("a", a), ("b", b), ("c", c)):
        outs[name] = str(tmp_path / name)
        encode_job(spark, df, outs[name], num_parts=1, block_rows=16)
    aggs = [("s", "sum", "x")]
    run = {
        "join_group_by": lambda: join_group_by(
            spark, outs["a"], outs["b"], "k", aggs),
        "join_group_by_chain": lambda: join_group_by_chain(
            spark, outs["a"], outs["b"], outs["c"], "k", "k", "kc", "kc",
            aggs, group_c=["region"]),
    }[op]
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="exceeds 2\\^62"):
            run().collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
