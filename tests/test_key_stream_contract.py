"""The key-stream contract of the join and keyed operators: one key-lane
rule (a float key column, or a str key joined to an integer-lane key,
raises with one message per rule) and distinct join output names, both
checked before any Spark job runs."""

from __future__ import annotations

import pytest

from arcade_spark import readops as ro
from arcade_spark.encode import encode_job

FLOAT_KEY = r"^float keys are not supported: v is double$"


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """``ev``: 600 keyed events in 2 parts; ``ev_s``: the same shape with
    a string ``uid``; ``dim``: 60 rows."""
    root = tmp_path_factory.mktemp("keystream")
    ev = spark.createDataFrame(
        [(i % 20, i % 60, i * 7, f"q{i % 9}", i % 97, i / 8.0)
         for i in range(600)],
        "uid long, fk long, ts long, tag string, amt long, v double",
    )
    ev_s = spark.createDataFrame(
        [(f"u{i % 20}", i * 7, i % 97) for i in range(200)],
        "uid string, ts long, amt long",
    )
    dim = spark.createDataFrame(
        [(j, f"g{j % 3}") for j in range(60)], "pk long, grade string"
    )
    out = {n: str(root / n) for n in ("ev", "ev_s", "dim")}
    encode_job(spark, ev, out["ev"], num_parts=2, block_rows=128, order_col="uid")
    encode_job(spark, ev_s, out["ev_s"], num_parts=2, block_rows=128,
               order_col="uid")
    encode_job(spark, dim, out["dim"], num_parts=1, block_rows=128,
               order_col="pk")
    return out


def _raises_before_any_job(spark, exc, match, build):
    sc = spark.sparkContext
    group = f"key-stream-{id(build)}"
    sc.setJobGroup(group, "key-stream contract")
    try:
        with pytest.raises(exc, match=match):
            build()
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


FLOAT_KEYS = [
    ("join_encoded", lambda s, t: ro.join_encoded(
        s, t["ev"], t["dim"], "v", "pk")),
    ("join_asof", lambda s, t: ro.join_asof(s, t["ev"], t["ev"], "ts", "v")),
    ("join_band", lambda s, t: ro.join_band(
        s, t["ev"], t["ev"], "ts", lo=0, hi=5, by="v")),
    ("sessionize", lambda s, t: ro.sessionize(s, t["ev"], "v", "ts", gap=5)),
    ("rolling_agg", lambda s, t: ro.rolling_agg(
        s, t["ev"], "v", "ts", window=5)),
    ("window_shift", lambda s, t: ro.window_shift(
        s, t["ev"], "v", "ts", "amt")),
    ("top_per_key", lambda s, t: ro.top_per_key(s, t["ev"], "v", "ts", 1)),
]


@pytest.mark.parametrize("build", [b for _, b in FLOAT_KEYS],
                         ids=[n for n, _ in FLOAT_KEYS])
def test_float_key_raises_one_message(spark, tables, build):
    _raises_before_any_job(spark, NotImplementedError, FLOAT_KEY,
                           lambda: build(spark, tables))


LANE_MISMATCH = [
    ("join_encoded", r"^key lanes differ: tag is str, pk is int$",
     lambda s, t: ro.join_encoded(s, t["ev"], t["dim"], "tag", "pk")),
    ("join_asof", r"^key lanes differ: uid is int, uid is str$",
     lambda s, t: ro.join_asof(s, t["ev"], t["ev_s"], "ts", "uid")),
    ("join_band", r"^key lanes differ: uid is str, uid is int$",
     lambda s, t: ro.join_band(
         s, t["ev_s"], t["ev"], "ts", lo=0, hi=5, by="uid")),
]


@pytest.mark.parametrize("match, build", [(m, b) for _, m, b in LANE_MISMATCH],
                         ids=[n for n, _, _ in LANE_MISMATCH])
def test_str_int_key_pair_raises_one_message(spark, tables, match, build):
    _raises_before_any_job(spark, ValueError, match,
                           lambda: build(spark, tables))


# each projection repeats a name the join already outputs: a key, the
# left ``on`` column, the right ``on`` column's ``_b`` name, or a by key
DUP_NAMES = [
    ("join_encoded_key", lambda s, t: ro.join_encoded(
        s, t["ev"], t["dim"], "fk", "pk", project_a=["fk", "amt"])),
    ("join_encoded_semi_key", lambda s, t: ro.join_encoded(
        s, t["ev"], t["dim"], "fk", "pk", project_a=["fk"], how="semi")),
    ("join_asof_on", lambda s, t: ro.join_asof(
        s, t["ev"], t["ev"], "ts", "fk", project_a=["ts"],
        project_b=["amt"])),
    ("join_asof_by", lambda s, t: ro.join_asof(
        s, t["ev"], t["ev"], "ts", "fk", project_b=["fk"])),
    ("join_band_by", lambda s, t: ro.join_band(
        s, t["ev"], t["ev"], "ts", lo=0, hi=5, by="uid", project_b=["uid"])),
    ("join_band_on", lambda s, t: ro.join_band(
        s, t["ev"], t["ev"], "ts", lo=0, hi=5, by="uid", project_a=["ts"])),
]


@pytest.mark.parametrize("build", [b for _, b in DUP_NAMES],
                         ids=[n for n, _ in DUP_NAMES])
def test_join_output_names_must_be_distinct(spark, tables, build):
    _raises_before_any_job(spark, ValueError, r"^join output name clash: \[",
                           lambda: build(spark, tables))


def test_distinct_names_still_join(spark, tables):
    """The name check leaves a projection of other columns alone."""
    got = ro.join_asof(spark, tables["ev"], tables["ev"], "ts", "fk",
                       project_a=["tag"], project_b=["amt"])
    assert got.columns == ["fk", "ts", "ts_b", "tag", "amt"]
    assert got.count() == 600
