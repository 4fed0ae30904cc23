"""Property-based check of orderby_export / column_rank_values /
group_rank_values: random values (ints or strings, with nulls and
heavy duplication) under a nullable group column, random chunking and
bucket counts — output always matches a reference sort."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from arcade_spark.encode import encode_job
from arcade_spark.readops import column_rank_values, group_rank_values, orderby_export


@st.composite
def table_case(draw):
    n = draw(st.integers(min_value=5, max_value=160))
    kind = draw(st.sampled_from(["int", "str"]))
    if kind == "int":
        pool = draw(st.lists(
            st.integers(min_value=-(2 ** 40), max_value=2 ** 40),
            min_size=1, max_size=12))
    else:
        pool = draw(st.lists(
            st.text(alphabet="abcXYZ012 é中", min_size=0, max_size=12),
            min_size=1, max_size=12))
    vals = [draw(st.one_of(st.none(), st.sampled_from(pool)))
            for _ in range(n)]
    groups = [draw(st.one_of(st.none(), st.sampled_from(["a", "b", "c"])))
              for _ in range(n)]
    block_rows = draw(st.sampled_from([4, 16, 64]))
    num_parts = draw(st.sampled_from([1, 2, 3]))
    buckets = draw(st.sampled_from([2, 4, 9]))
    return kind, vals, groups, block_rows, num_parts, buckets


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(case=table_case())
def test_orderby_and_ranks_match_reference(spark, case):
    kind, vals, groups, block_rows, num_parts, buckets = case
    n = len(vals)
    schema = f"url string, v {'long' if kind == 'int' else 'string'}, g string"
    src = spark.createDataFrame(
        [(f"u{i:04d}", vals[i], groups[i]) for i in range(n)], schema
    )
    key = (kind, tuple(vals), tuple(groups), block_rows, num_parts)
    out_dir = f"/tmp/ob_prop_{abs(hash(key))}"
    import shutil
    shutil.rmtree(out_dir, ignore_errors=True)
    encode_job(spark, src, out_dir, num_parts=num_parts,
               block_rows=block_rows, order_col="url")
    try:
        got = (
            orderby_export(spark, out_dir, ["v", "url"], ["url", "v"],
                           buckets=buckets)
            .toPandas().sort_values("pos").reset_index(drop=True)
        )
        # reference: (v, url) ascending, nulls last
        ref = sorted(
            ((vals[i], f"u{i:04d}") for i in range(n)),
            key=lambda t: (t[0] is None, t[0], t[1]),
        )
        assert list(got["pos"]) == list(range(n))
        assert list(got["url"]) == [u for _, u in ref]

        nn = sorted(v for v in vals if v is not None)
        if nn:
            ranks = sorted({0, len(nn) // 2, len(nn) - 1})
            rv = {
                r["pos"]: r["v"]
                for r in column_rank_values(
                    spark, out_dir, "v", ranks=ranks, buckets=buckets
                ).collect()
            }
            assert rv == {r: nn[r] for r in ranks}

        # per-group reference: rows with a null value or a null group
        # drop out, and a rank past its group's count emits nothing
        granks = [0, 1, 4]
        want = {}
        for g in {g for g in groups if g is not None}:
            gv = sorted(vals[i] for i in range(n)
                        if groups[i] == g and vals[i] is not None)
            want.update({(g, r): gv[r] for r in granks if r < len(gv)})
        got_g = [
            ((r["g"], r["pos"]), r["v"])
            for r in group_rank_values(
                spark, out_dir, ["g"], "v", ranks=granks, buckets=buckets
            ).collect()
        ]
        assert len(got_g) == len(want) and dict(got_g) == want
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
