"""One manifest snapshot per operator call: every public operator reads
each table argument's manifest exactly once while it builds its plan and
never during the action, and an unknown column raises ``KeyError``
before any Spark job runs."""

from __future__ import annotations

import sys
from collections import Counter

import pytest

import arcade_spark.partread as pr
from arcade_spark import readops as ro
from arcade_spark.decode import scan
from arcade_spark.encode import encode_job


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """``ev``: 2,000 keyed events in 3 parts; ``dim``: 60 rows in 2."""
    root = tmp_path_factory.mktemp("snapshot")
    ev = spark.createDataFrame(
        [(i % 40, i % 60, (i * 37) % 5000, f"q{i % 9}", i % 97, i / 8.0)
         for i in range(2000)],
        "uid long, fk long, ts long, tag string, amt long, v double",
    )
    dim = spark.createDataFrame(
        [(j, f"g{j % 3}") for j in range(60)], "pk long, grade string"
    )
    out_ev, out_dim = str(root / "ev"), str(root / "dim")
    encode_job(spark, ev, out_ev, num_parts=3, block_rows=256, order_col="uid")
    encode_job(spark, dim, out_dim, num_parts=2, block_rows=256, order_col="pk")
    return {"ev": out_ev, "dim": out_dim}


@pytest.fixture
def reads(monkeypatch):
    """Manifest reads per table path, counted wherever the package binds
    ``load_manifest``."""
    seen: Counter = Counter()
    real = pr.load_manifest

    def counted(out_dir):
        seen[out_dir] += 1
        return real(out_dir)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("arcade_spark")
                and getattr(mod, "load_manifest", None) is real):
            monkeypatch.setattr(mod, "load_manifest", counted)
    return seen


Q1_AGGS = [
    ("sum_amt", "sum", "amt"),
    ("sum_disc", "sumprod", [("v", 1, 0), ("amt", -1, 100)]),
    ("avg_v", "avg", "v"),
    ("cnt", "count", None),
]

# (operator, table arguments in call order, plan builder)
OPS = [
    ("scan", ("ev",), lambda s, t: scan(s, t["ev"], ["uid", "amt"])),
    ("equi_filter", ("ev",),
     lambda s, t: ro.equi_filter(s, t["ev"], "tag", "q1", project=["amt"])),
    ("random_access", ("ev",),
     lambda s, t: ro.random_access(s, t["ev"], [0, 5, 1999], ["tag"])),
    ("filter_group_by_multi", ("ev",),
     lambda s, t: ro.filter_group_by_multi(
         s, t["ev"], [("range", "amt", 0, 90)], ["tag"], Q1_AGGS)),
    ("join_group_by", ("ev", "dim"),
     lambda s, t: ro.join_group_by(s, t["ev"], t["dim"], "fk",
                                   [("s", "sum", "amt")], key_b="pk",
                                   group_b=["grade"])),
    ("join_encoded", ("ev", "dim"),
     lambda s, t: ro.join_encoded(s, t["ev"], t["dim"], "fk", "pk",
                                  project_a=["amt"], project_b=["grade"])),
    ("join_asof", ("ev", "ev"),
     lambda s, t: ro.join_asof(s, t["ev"], t["ev"], "ts", "uid",
                               project_a=["tag"], project_b=["amt"])),
    ("join_band", ("ev", "ev"),
     lambda s, t: ro.join_band(s, t["ev"], t["ev"], "ts", lo=0, hi=5,
                               by="uid", project_a=["tag"],
                               project_b=["amt"])),
    ("rolling_agg", ("ev",),
     lambda s, t: ro.rolling_agg(s, t["ev"], "uid", "ts", 50, "amt",
                                 ("count", "sum"))),
    ("sessionize", ("ev",),
     lambda s, t: ro.sessionize(s, t["ev"], "uid", "ts", 30)),
    ("window_shift", ("ev",),
     lambda s, t: ro.window_shift(s, t["ev"], "uid", "ts", "amt")),
    ("top_per_key", ("ev",),
     lambda s, t: ro.top_per_key(s, t["ev"], "uid", "ts", 2, project=["tag"])),
    ("orderby_export", ("ev",),
     lambda s, t: ro.orderby_export(s, t["ev"], "amt", ["tag"], persist=False)),
    ("column_rank_values", ("ev",),
     lambda s, t: ro.column_rank_values(s, t["ev"], "amt", quantiles=[0.5],
                                        persist=False)),
    ("group_rank_values", ("ev",),
     lambda s, t: ro.group_rank_values(s, t["ev"], ["tag"], "amt",
                                       quantiles=[0.5], persist=False)),
]


@pytest.mark.parametrize("build, args", [(b, a) for _, a, b in OPS],
                         ids=[name for name, _, _ in OPS])
def test_one_manifest_read_per_table_argument(spark, tables, reads, build, args):
    df = build(spark, tables)
    assert reads == Counter(tables[a] for a in args)
    reads.clear()
    df.collect()
    assert not reads
    ro.release_key_caches()


def _keys(s):
    return s.createDataFrame([(1,), (2,)], "k long")


# one operator per family, each naming one column the table lacks
UNKNOWN = [
    ("scan", lambda s, t: scan(s, t["ev"], ["uid", "nope"])),
    ("filter", lambda s, t: ro.filter_or(
        s, t["ev"], [("eq", "tag", "q1"), ("eq", "nope", 1)])),
    ("filter_semijoin", lambda s, t: ro.filter_semijoin(
        s, t["ev"], "nope", _keys(s))),
    ("random_access", lambda s, t: ro.random_access(s, t["ev"], [1], ["nope"])),
    ("column_minmax", lambda s, t: ro.column_minmax(s, t["ev"], "nope")),
    ("group_by", lambda s, t: ro.filter_group_by_multi(
        s, t["ev"], [], ["tag"], [("x", "sum", "nope")])),
    ("join_group_by", lambda s, t: ro.join_group_by(
        s, t["ev"], t["dim"], "fk", [("c", "count", None)], key_b="nope")),
    ("join_encoded", lambda s, t: ro.join_encoded(
        s, t["ev"], t["dim"], "fk", "pk", project_b=["nope"])),
    ("join_asof", lambda s, t: ro.join_asof(
        s, t["ev"], t["ev"], "ts", "uid", project_b=["nope"],
        hot_key_threshold=10)),
    ("join_band", lambda s, t: ro.join_band(
        s, t["ev"], t["ev"], "ts", by="nope")),
    ("rolling_agg", lambda s, t: ro.rolling_agg(
        s, t["ev"], "uid", "ts", 50, "nope", ("sum",))),
    ("top_per_key", lambda s, t: ro.top_per_key(
        s, t["ev"], "uid", "ts", 2, project=["nope"])),
    ("column_rank_values", lambda s, t: ro.column_rank_values(
        s, t["ev"], "nope", ranks=[0])),
    ("orderby_export", lambda s, t: ro.orderby_export(
        s, t["ev"], "amt", ["nope"])),
]


@pytest.mark.parametrize("build", [b for _, b in UNKNOWN],
                         ids=[name for name, _ in UNKNOWN])
def test_unknown_column_raises_before_any_job(spark, tables, build):
    sc = spark.sparkContext
    group = f"unknown-column-{id(build)}"
    sc.setJobGroup(group, "unknown column")
    try:
        with pytest.raises(KeyError, match="no such column: nope"):
            build(spark, tables)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
