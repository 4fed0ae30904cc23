"""Plan-shape guard for the late-materializing operators, the rank
values, the group-by family (grand totals and groupjoins included) and
the keyed-timeline operators: in the AQE final
plan no stage chains two Python execs (each task would need two Python
workers — past the idle-worker cap every such task re-forks and
re-imports one), nothing is read back from a cache, no join is keyed on ``row_id`` (projections attach by
gather-expand, not by joining decoded rows back), and join_asof runs its
merge kernel once."""

from __future__ import annotations

import pytest

from arcade_spark.encode import encode_job
from arcade_spark.planshape import stages
from arcade_spark.readops import (
    column_agg,
    column_rank_values,
    distinct_count_approx,
    filter_agg,
    filter_group_by,
    group_by,
    group_count,
    group_rank_values,
    group_sum,
    join_asof,
    join_band,
    join_encoded,
    join_group_by,
    join_group_by_chain,
    orderby_export,
    rolling_agg,
    sessionize,
    top_per_key,
    window_shift,
)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    a = spark.createDataFrame(
        [(i, i % 50, f"q{i % 9}", i * 10) for i in range(2000)],
        "id long, fk long, tag string, ts long",
    )
    b = spark.createDataFrame(
        [(j, f"g{j % 3}", j * 300) for j in range(60)],
        "pk long, grade string, w long",
    )
    root = tmp_path_factory.mktemp("shape")
    oa, ob = str(root / "a"), str(root / "b")
    encode_job(spark, a, oa, num_parts=2, block_rows=256, order_col="id")
    encode_job(spark, b, ob, num_parts=2, block_rows=256, order_col="pk")
    return oa, ob


OPS = {
    **{f"join_encoded_{how}": (lambda s, oa, ob, how=how: join_encoded(
        s, oa, ob, "fk", "pk", project_a=["tag", "id"],
        project_b=["grade"], how=how)) for how in ("inner", "left", "full")},
    **{f"join_asof_{how}": (lambda s, oa, ob, how=how: join_asof(
        s, oa, oa, "ts", "fk", project_a=["tag"], project_b=["id"],
        how=how)) for how in ("inner", "left")},
    "join_band": lambda s, oa, ob: join_band(
        s, oa, ob, "ts", "w", lo=-40, hi=40, project_a=["tag"],
        project_b=["grade"]),
    "top_per_key": lambda s, oa, ob: top_per_key(
        s, oa, "fk", "ts", 2, project=["tag", "id"]),
    # persist=False: the sort's own key-stream cache is an opt-out
    # hint for its two passes, not part of the attach under test
    "orderby_export": lambda s, oa, ob: orderby_export(
        s, oa, ["ts"], ["tag", "id"], persist=False),
    "column_rank_values": lambda s, oa, ob: column_rank_values(
        s, oa, "ts", quantiles=[0.5, 0.99], persist=False),
    "group_rank_values": lambda s, oa, ob: group_rank_values(
        s, oa, ["tag"], "ts", quantiles=[0.5, 0.99], persist=False),
    "group_count": lambda s, oa, ob: group_count(s, oa, "tag"),
    "group_sum": lambda s, oa, ob: group_sum(s, oa, "tag", "ts"),
    "group_by": lambda s, oa, ob: group_by(s, oa, ["tag", "fk"], "ts"),
    "filter_group_by": lambda s, oa, ob: filter_group_by(
        s, oa, [("range", "ts", 0, 9000)], ["tag"], "ts"),
    "distinct_count_approx": lambda s, oa, ob: distinct_count_approx(
        s, oa, "tag"),
    # the grand totals (zero-key group-by) and the groupjoins
    "filter_agg": lambda s, oa, ob: filter_agg(
        s, oa, [("eq", "tag", "q1")], "ts"),
    "column_agg": lambda s, oa, ob: column_agg(s, oa, "ts"),
    "join_group_by": lambda s, oa, ob: join_group_by(
        s, oa, ob, "fk", [("s", "sum", "ts"), ("w", "sum", "w", "b"),
                          ("n", "count", None)], key_b="pk",
        group_b=["grade"]),
    "join_group_by_chain": lambda s, oa, ob: join_group_by_chain(
        s, oa, ob, ob, "fk", "pk", "grade", "grade", [("s", "sum", "ts")],
        group_c=["w"]),
    # the keyed-timeline operators on their unsplit path
    **{f"sessionize_{emit}": (lambda s, oa, ob, emit=emit: sessionize(
        s, oa, "fk", "ts", gap=1000, emit=emit)) for emit in ("rows", "sessions")},
    "rolling_agg_bounded": lambda s, oa, ob: rolling_agg(
        s, oa, "fk", "ts", window=2000, agg_col="id",
        aggs=("count", "sum", "max")),
    "rolling_agg_cumulative": lambda s, oa, ob: rolling_agg(
        s, oa, "fk", "ts", window=None, agg_col="id", aggs=("count", "sum")),
    "window_shift": lambda s, oa, ob: window_shift(s, oa, "fk", ["ts"], "id"),
}


@pytest.mark.parametrize("op", sorted(OPS))
def test_attach_plan_shape(spark, tables, op):
    oa, ob = tables
    df = OPS[op](spark, oa, ob)
    assert df.count() == len(df.collect())
    shape = stages(df)
    assert len(shape) >= 2
    for st in shape:
        assert st["python_depth"] <= 1, st
        assert not {"InMemoryTableScanExec", "TableCacheQueryStageExec"} & set(st["ops"]), st
        assert not any("row_id" in k for keys in st["join_keys"] for k in keys), st
    merges = sum("asof_merge" in p for st in shape for p in st["python"])
    assert merges == (1 if op.startswith("join_asof") else 0)
