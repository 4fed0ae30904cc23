"""Operators return the stored ``timestamp_ntz`` values whatever the
session time zone: a lane's micros map to the NTZ epoch without the
zone-dependent ``timestamp`` → ``timestamp_ntz`` cast."""

from __future__ import annotations

import datetime as dt

from arcade_spark.encode import encode_job
from arcade_spark.readops import (
    column_rank_values,
    column_topk,
    filter_group_by_multi,
    orderby_export,
)


def test_timestamp_ntz_outputs_ignore_session_zone(spark, tmp_path):
    base = dt.datetime(2024, 2, 6, 22, 0)
    rows = [
        (i, base + dt.timedelta(hours=i % 3), base + dt.timedelta(minutes=7 * i))
        for i in range(60)
    ]
    src = spark.createDataFrame(rows, "id long, g timestamp_ntz, t timestamp_ntz")
    out = str(tmp_path / "enc")
    encode_job(spark, src, out, num_parts=2, block_rows=16, order_col="id")

    def run():
        return (
            sorted(filter_group_by_multi(
                spark, out, [], ["g"], [("lo", "min", "t"), ("hi", "max", "t")],
            ).collect()),
            column_rank_values(spark, out, "t", ranks=[0, 59]).orderBy("pos").collect(),
            # every projected column is an order lane: the lane path
            orderby_export(spark, out, ["g", "t"], ["t", "g"]).orderBy("pos").collect(),
            column_topk(spark, out, "t", 3).collect(),
        )

    want = run()
    assert [r["v"] for r in want[1]] == [base, base + dt.timedelta(minutes=7 * 59)]
    assert want[0][0]["g"] == base and want[0][0]["lo"] == base
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        got = run()
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert got == want
