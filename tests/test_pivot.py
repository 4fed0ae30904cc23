"""pivot_table (round-7): fused kernel partials + relational pivot on
the tiny partial frame — checked against DuckDB conditional aggregation
(FILTER clauses) including empty cells, null pivot/group values
(dropped, the family contract), exact fixed-point double sums, and the
pinned-values / discovery-cap paths."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from arcade_spark.encode import encode_job
from arcade_spark.readops import pivot_table, release_key_caches


@pytest.fixture(scope="module")
def pv_table(spark, tmp_path_factory):
    rng = np.random.default_rng(41)
    n = 900
    df = pd.DataFrame({
        "url": [f"u{i:04d}" for i in range(n)],
        "lang": np.array(["en", "de", "fr", "el"])[rng.integers(0, 4, n)],
        "src": np.array(["web", "news", "wiki"])[rng.integers(0, 3, n)],
        "qty": pd.array(rng.integers(1, 40, n).astype(np.int64),
                        dtype="Int64"),
        "price": np.round(rng.integers(100, 9999, n) / 100.0, 2),
    })
    df.loc[rng.random(n) < 0.04, "src"] = None   # dropped rows
    df.loc[rng.random(n) < 0.1, "qty"] = pd.NA
    # make one (lang, src) cell empty: no greek wiki docs
    df = df[~((df["lang"] == "el") & (df["src"] == "wiki"))]
    out = str(tmp_path_factory.mktemp("pv") / "enc")
    encode_job(spark, spark.createDataFrame(df), out,
               num_parts=3, block_rows=128, order_col="url")
    con = duckdb.connect()
    con.register("t", df)
    return out, con


def _rows(df, keys):
    pdf = df.toPandas().sort_values(keys).reset_index(drop=True)
    release_key_caches()
    return [tuple(None if pd.isna(v) else v for v in r)
            for r in pdf.itertuples(index=False)]


def test_pivot_counts_and_sums(spark, pv_table):
    out, con = pv_table
    got = _rows(pivot_table(
        spark, out, ["lang"], "src",
        [("cnt", "count", None), ("sum_qty", "sum", "qty"),
         ("rev", "sumprod", [("price", 1, 0)])]), ["lang"])
    exp = [tuple(None if pd.isna(v) else v for v in r)
           for r in con.execute("""
        SELECT lang,
          count(*) FILTER (src = 'news') AS news_cnt,
          sum(qty) FILTER (src = 'news') AS news_sum,
          CAST(sum(CAST(floor(price*100 + 0.5) AS BIGINT))
               FILTER (src = 'news') AS DOUBLE)/100 AS news_rev,
          count(*) FILTER (src = 'web') AS web_cnt,
          sum(qty) FILTER (src = 'web') AS web_sum,
          CAST(sum(CAST(floor(price*100 + 0.5) AS BIGINT))
               FILTER (src = 'web') AS DOUBLE)/100 AS web_rev,
          count(*) FILTER (src = 'wiki') AS wiki_cnt,
          sum(qty) FILTER (src = 'wiki') AS wiki_sum,
          CAST(sum(CAST(floor(price*100 + 0.5) AS BIGINT))
               FILTER (src = 'wiki') AS DOUBLE)/100 AS wiki_rev
        FROM t WHERE src IS NOT NULL GROUP BY lang ORDER BY lang
    """).fetchall()]
    assert len(got) == len(exp) == 4
    for g, e in zip(got, exp):
        assert len(g) == len(e)
        for gv, ev in zip(g, e):
            if isinstance(gv, float) and isinstance(ev, float):
                assert gv == pytest.approx(ev, abs=1e-9), (g, e)
            else:
                assert gv == ev, (g, e)
    # the empty (el, wiki) cell: count 0, sums null
    el = [r for r in got if r[0] == "el"][0]
    assert el[7] == 0 and el[8] is None and el[9] is None


def test_pivot_pinned_values_and_preds(spark, pv_table):
    out, con = pv_table
    got = _rows(pivot_table(
        spark, out, ["lang"], "src",
        [("avg_q", "avg", "qty")],
        pivot_values=["web", "missing"],
        preds=[("range", "qty", 5, 30)]), ["lang"])
    exp = con.execute("""
        SELECT lang,
               CAST(sum(qty) FILTER (src = 'web') AS DOUBLE)
                 / count(qty) FILTER (src = 'web') AS web_avg
        FROM t WHERE qty BETWEEN 5 AND 30 AND src IS NOT NULL
        GROUP BY lang ORDER BY lang""").fetchall()
    assert [r[0] for r in got] == [r[0] for r in exp]
    for g, e in zip(got, exp):
        assert g[1] == pytest.approx(e[1], rel=1e-12)
        assert g[2] is None  # pinned value absent from data -> null


def test_pivot_validation_and_cap(spark, pv_table):
    out, _ = pv_table
    with pytest.raises(ValueError):
        pivot_table(spark, out, [], "src", [("c", "count", None)])
    with pytest.raises(ValueError):
        pivot_table(spark, out, ["src"], "src", [("c", "count", None)])
    with pytest.raises(ValueError, match="distinct values"):
        pivot_table(spark, out, ["lang"], "url",
                    [("c", "count", None)], max_pivot_values=5)
    release_key_caches()


def test_pivot_dotted_values(spark, pv_table, tmp_path):
    """Pivot values containing '.' (round-8, ADVICE r7): output columns
    must resolve positionally — Dataset.col would parse the dot as a
    struct-field separator and raise UNRESOLVED_COLUMN."""
    rng = np.random.default_rng(7)
    n = 300
    df = pd.DataFrame({
        "url": [f"u{i:04d}" for i in range(n)],
        "ver": np.array(["1.5", "2.0.1", "3"])[rng.integers(0, 3, n)],
        "lang": np.array(["en", "de"])[rng.integers(0, 2, n)],
        "qty": pd.array(rng.integers(1, 9, n).astype(np.int64),
                        dtype="Int64"),
    })
    out = str(tmp_path / "enc")
    encode_job(spark, spark.createDataFrame(df), out,
               num_parts=2, block_rows=128, order_col="url")
    got = pivot_table(
        spark, out, ["lang"], "ver",
        [("cnt", "count", None), ("sq", "sum", "qty")],
    )
    rows = _rows(got, ["lang"])
    con = duckdb.connect()
    con.register("t", df)
    exp = con.execute("""
        SELECT lang,
               count(*) FILTER (ver = '1.5')   AS a_cnt,
               sum(qty) FILTER (ver = '1.5')   AS a_sq,
               count(*) FILTER (ver = '2.0.1') AS b_cnt,
               sum(qty) FILTER (ver = '2.0.1') AS b_sq,
               count(*) FILTER (ver = '3')     AS c_cnt,
               sum(qty) FILTER (ver = '3')     AS c_sq
        FROM t GROUP BY lang ORDER BY lang""").fetchall()
    assert [tuple(r) for r in rows] == [tuple(r) for r in exp]
    assert list(got.columns) == [
        "lang", "1.5_cnt", "1.5_sq", "2.0.1_cnt", "2.0.1_sq",
        "3_cnt", "3_sq",
    ]


def test_pivot_colliding_output_names(spark, pv_table):
    """One pivot value being a prefix of another plus an agg name must
    be refused, not silently mis-projected."""
    out, _ = pv_table
    with pytest.raises(ValueError, match="collide"):
        pivot_table(
            spark, out, ["lang"], "src",
            [("x", "count", None), ("news_x", "sum", "qty")],
            pivot_values=["news", "news_news"],
        )


def test_pivot_value_named_like_key_lane(spark, tmp_path):
    """Pivot values literally named like the internal group-key lanes
    (k0, k1) must bind their pivot cells, not the group keys."""
    rng = np.random.default_rng(11)
    n = 240
    df = pd.DataFrame({
        "url": [f"u{i:04d}" for i in range(n)],
        "lang": np.array(["en", "de", "fr"])[rng.integers(0, 3, n)],
        "src": np.array(["web", "news"])[rng.integers(0, 2, n)],
        "tag": np.array(["k0", "k1", "k2"])[rng.integers(0, 3, n)],
    })
    out = str(tmp_path / "enc")
    encode_job(spark, spark.createDataFrame(df), out,
               num_parts=2, block_rows=64, order_col="url")
    got = pivot_table(spark, out, ["lang", "src"], "tag",
                      [("cnt", "count", None)])
    assert list(got.columns) == ["lang", "src", "k0_cnt", "k1_cnt", "k2_cnt"]
    exp = (df.groupby(["lang", "src", "tag"]).size().unstack("tag", fill_value=0)
           .reset_index().sort_values(["lang", "src"]))
    rows = _rows(got, ["lang", "src"])
    assert rows == [tuple(r) for r in exp[["lang", "src", "k0", "k1", "k2"]]
                    .itertuples(index=False)]
