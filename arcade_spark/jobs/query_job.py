"""spark-submit entry point for the READ operators — the analogue of
the reference's runner CLI (runner.cpp: scan / equi-filter / random
access driven from main), covering every read surface of the engine:

    spark-submit --py-files arcade_spark.zip arcade_spark/jobs/query_job.py \
        --encoded /data/encoded scan --columns url,lang --limit 20

Subcommands:

    scan          [--columns a,b]
    filter        --column c (--value v | --lo x --hi y | --in v1,v2 |
                  --prefix p | --contains s | --suffix s | --like pat |
                  --sample n/d)
                  [--project a,b] [--count-only]
    random-access --ids 1,2,3 [--project a,b]
    group-count   --column c
    group-sum     --column c --agg-column n
    group-by      --columns a,b [--agg-column n]
    distinct      --column c [--count]
    minmax        --column c
    topk          --column c -k 10 [--asc]   (int/float/ts/string)
    agg           --column c
    join          --right <encoded_dir> --key k [--right-key k2]
                  [--project a,b] [--right-project c,d]
    asof          --right <dir> --on ts --by k [--direction forward]
                  [--strict] [--tolerance N] [--how left]
    band          --right <dir> --on ts --lo N --hi N [--by k]
                  [--how left]   (many-to-many bounded-range join)
    topn          --by k --order c -n 3 [--project a,b]
                  [--desc | --directions desc,asc]
    sessionize    --by k --ts c --gap N [--emit sessions]
    rolling       --by k --ts c [--window N] [--agg-column v]
                  [--aggs count,sum,avg]

Output: ``df.show()`` (the reference's print sink, R9) or
``--out <dir>`` to write parquet. Locally, plain
``python arcade_spark/jobs/query_job.py ...`` works too — get_spark
ships the package to workers.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


def build_query(spark, args):
    from arcade_spark.decode import scan
    from arcade_spark.readops import (
        column_agg,
        column_minmax,
        column_topk,
        distinct_count,
        distinct_values,
        equi_filter,
        filter_contains,
        filter_in,
        filter_like,
        filter_prefix,
        filter_range,
        filter_sample,
        filter_suffix,
        group_by,
        group_count,
        group_sum,
        random_access,
    )

    from arcade_spark.partread import Manifest

    def coerce(v: str, vt: str):
        """CLI literals arrive as strings — coerce to the column's
        logical type ``vt`` (the manifest is authoritative)."""
        if vt in ("int", "i32", "i16", "i8"):
            return int(v)
        if vt in ("double", "float"):
            return float(v)
        if vt in ("ts", "tsntz"):
            # ISO date/datetime → epoch micros (the stored int64 lane)
            import datetime as _dt

            dt = _dt.datetime.fromisoformat(v)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=_dt.timezone.utc)
            epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
            return (dt - epoch) // _dt.timedelta(microseconds=1)
        if vt == "date":
            import datetime as _dt

            return _dt.date.fromisoformat(v)
        if vt == "bool":
            return v.strip().lower() in ("true", "t", "1", "yes")
        return v

    def _dirs(args):
        """--desc flag or --directions desc,asc list (shared by the
        orderby and topn subcommands)."""
        d = args.desc
        if getattr(args, "directions", None):
            d = [x.strip().lower() == "desc"
                 for x in args.directions.split(",")]
        return d

    proj = args.project.split(",") if getattr(args, "project", None) else None
    if args.cmd == "scan":
        cols = args.columns.split(",") if args.columns else None
        return scan(spark, args.encoded, columns=cols)
    if args.cmd == "filter":
        given = [x is not None for x in (
            args.value, args.lo, args.in_list,
            args.prefix, args.contains, args.suffix, args.like,
            args.sample,
        )]
        if sum(given) != 1:
            raise SystemExit(
                "filter needs exactly one of --value / --lo+--hi / --in "
                "/ --prefix / --contains / --suffix / --like / --sample"
            )
        if args.prefix is not None:
            return filter_prefix(spark, args.encoded, args.column, args.prefix,
                                 project=proj, count_only=args.count_only)
        if args.contains is not None:
            return filter_contains(spark, args.encoded, args.column, args.contains,
                                   project=proj, count_only=args.count_only)
        if args.suffix is not None:
            return filter_suffix(spark, args.encoded, args.column, args.suffix,
                                 project=proj, count_only=args.count_only)
        if args.like is not None:
            return filter_like(spark, args.encoded, args.column, args.like,
                               project=proj, count_only=args.count_only)
        if args.sample is not None:
            num, den = (int(x) for x in args.sample.split("/"))
            return filter_sample(spark, args.encoded, args.column, num, den,
                                 project=proj, count_only=args.count_only)
        # the value, IN-list and range literals take the column's type
        vt = Manifest.read(args.encoded).vt(args.column)
        if args.value is not None:
            return equi_filter(spark, args.encoded, args.column,
                               coerce(args.value, vt),
                               project=proj, count_only=args.count_only)
        if args.in_list is not None:
            return filter_in(spark, args.encoded, args.column,
                             [coerce(v, vt) for v in args.in_list.split(",")],
                             project=proj, count_only=args.count_only)
        if args.hi is None:
            raise SystemExit("--lo requires --hi")
        return filter_range(spark, args.encoded, args.column,
                            coerce(args.lo, vt), coerce(args.hi, vt),
                            project=proj, count_only=args.count_only)
    if args.cmd == "random-access":
        ids = [int(x) for x in args.ids.split(",")]
        return random_access(spark, args.encoded, ids, project=proj)
    if args.cmd == "group-count":
        return group_count(spark, args.encoded, args.column)
    if args.cmd == "group-sum":
        return group_sum(spark, args.encoded, args.column, args.agg_column)
    if args.cmd == "group-by":
        return group_by(spark, args.encoded, args.columns.split(","),
                        agg_col=args.agg_column)
    if args.cmd == "distinct":
        if args.count:
            return distinct_count(spark, args.encoded, args.column)
        return distinct_values(spark, args.encoded, args.column)
    if args.cmd == "minmax":
        return column_minmax(spark, args.encoded, args.column)
    if args.cmd == "topk":
        return column_topk(spark, args.encoded, args.column, args.k,
                           descending=not args.asc)
    if args.cmd == "agg":
        return column_agg(spark, args.encoded, args.column)
    if args.cmd == "join":
        from arcade_spark.readops import join_encoded

        return join_encoded(
            spark, args.encoded, args.right,
            args.key.split(","),
            key_b=args.right_key.split(",") if args.right_key else None,
            project_a=args.project.split(",") if args.project else None,
            project_b=args.right_project.split(",") if args.right_project else None,
            how=getattr(args, "how", "inner"),
        )
    if args.cmd == "orderby":
        from arcade_spark.readops import orderby_export

        return orderby_export(
            spark, args.encoded, args.columns.split(","),
            proj or args.columns.split(","), desc=_dirs(args),
        )
    if args.cmd == "asof":
        from arcade_spark.readops import join_asof

        return join_asof(
            spark, args.encoded, args.right, args.on,
            args.by.split(","),
            on_b=args.right_on,
            project_a=proj,
            project_b=args.right_project.split(",")
            if args.right_project else None,
            how=args.how,
            direction=args.direction,
            allow_exact=not args.strict,
            tolerance=args.tolerance,
        )
    if args.cmd == "band":
        from arcade_spark.readops import join_band

        return join_band(
            spark, args.encoded, args.right, args.on,
            on_b=args.right_on,
            lo=args.lo, hi=args.hi,
            by=args.by.split(",") if args.by else None,
            project_a=proj,
            project_b=args.right_project.split(",")
            if args.right_project else None,
            how=args.how,
        )
    if args.cmd == "topn":
        from arcade_spark.readops import top_per_key

        return top_per_key(
            spark, args.encoded, args.by.split(","),
            args.order.split(","), args.n,
            project=proj, desc=_dirs(args),
            mode=getattr(args, "mode", "row_number"),
        )
    if args.cmd == "sessionize":
        from arcade_spark.readops import sessionize

        return sessionize(
            spark, args.encoded, args.by.split(","), args.ts,
            gap=args.gap, emit=args.emit,
        )
    if args.cmd == "rolling":
        from arcade_spark.readops import rolling_agg

        return rolling_agg(
            spark, args.encoded, args.by.split(","), args.ts,
            window=args.window, agg_col=args.agg_column,
            aggs=tuple(args.aggs.split(",")),
            window_after=getattr(args, "window_after", 0),
        )
    if args.cmd == "lag":
        from arcade_spark.readops import window_shift

        return window_shift(
            spark, args.encoded, args.by.split(","),
            args.order.split(","), args.value,
            offset=args.offset,
            direction="lead" if args.lead else "lag",
        )
    if args.cmd == "rollup":
        from arcade_spark.readops import filter_group_by_sets

        aggs = [("cnt", "count", None)] + [
            (f"sum_{c}", "sum", c)
            for c in (args.sum.split(",") if args.sum else [])
        ]
        sets = args.sets
        if sets not in ("rollup", "cube"):
            sets = [
                [c for c in s.split(",") if c]
                for s in args.sets.split(";")
            ]
        preds = []
        if args.where:
            col, val = args.where.split("=", 1)
            preds = [("eq", col, val)]
        return filter_group_by_sets(
            spark, args.encoded, preds, args.columns.split(","),
            aggs, sets=sets,
        )
    if args.cmd == "pivot":
        from arcade_spark.readops import pivot_table

        aggs = [("cnt", "count", None)] + [
            (f"sum_{c}", "sum", c)
            for c in (args.sum.split(",") if args.sum else [])
        ]
        return pivot_table(
            spark, args.encoded, args.columns.split(","), args.pivot,
            aggs, pivot_values=args.values.split(",")
            if args.values else None,
        )
    if args.cmd == "group-distinct":
        from arcade_spark.readops import group_count_distinct

        return group_count_distinct(
            spark, args.encoded, args.columns.split(","), args.distinct_column
        )
    if args.cmd == "quantiles":
        from arcade_spark.readops import column_rank_values, group_rank_values

        if getattr(args, "by", None):
            qs = [float(x) for x in (args.q or "0.25,0.5,0.75").split(",")]
            return group_rank_values(
                spark, args.encoded, args.by.split(","), args.column,
                ranks=[int(x) for x in args.ranks.split(",")]
                if args.ranks else None,
                quantiles=None if args.ranks else qs,
            )
        if args.ranks:
            return column_rank_values(
                spark, args.encoded, args.column,
                ranks=[int(x) for x in args.ranks.split(",")],
            )
        qs = [float(x) for x in (args.q or "0.25,0.5,0.75").split(",")]
        return column_rank_values(spark, args.encoded, args.column,
                                  quantiles=qs)
    raise SystemExit(f"unknown command {args.cmd!r}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="arcade-spark query job")
    p.add_argument("--encoded", required=True, help="encoded table out_dir")
    p.add_argument("--cores", default=None)
    p.add_argument("--out", default=None, help="write result parquet here instead of show()")
    p.add_argument("--limit", type=int, default=50, help="rows for show()")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("scan")
    s.add_argument("--columns", default=None)

    f = sub.add_parser("filter")
    f.add_argument("--column", required=True)
    f.add_argument("--value", default=None)
    f.add_argument("--lo", default=None)
    f.add_argument("--hi", default=None)
    f.add_argument("--in", dest="in_list", default=None, help="comma-separated IN list")
    f.add_argument("--prefix", default=None, help="LIKE 'p%%'")
    f.add_argument("--contains", default=None, help="LIKE '%%s%%'")
    f.add_argument("--suffix", default=None, help="LIKE '%%s'")
    f.add_argument("--like", default=None, help="full LIKE pattern (%% and _)")
    f.add_argument("--sample", default=None,
                   help="deterministic hash sample, e.g. 3/10")
    f.add_argument("--project", default=None)
    f.add_argument("--count-only", action="store_true")

    r = sub.add_parser("random-access")
    r.add_argument("--ids", required=True, help="comma-separated global row ids")
    r.add_argument("--project", default=None)

    for name in ("group-count", "minmax", "agg"):
        g = sub.add_parser(name)
        g.add_argument("--column", required=True)

    gs = sub.add_parser("group-sum")
    gs.add_argument("--column", required=True)
    gs.add_argument("--agg-column", required=True)

    gb = sub.add_parser("group-by")
    gb.add_argument("--columns", required=True, help="comma-separated group keys")
    gb.add_argument("--agg-column", default=None)

    d = sub.add_parser("distinct")
    d.add_argument("--column", required=True)
    d.add_argument("--count", action="store_true")

    t = sub.add_parser("topk")
    t.add_argument("--column", required=True)
    t.add_argument("-k", type=int, default=10)
    t.add_argument("--asc", action="store_true")

    j = sub.add_parser("join")
    j.add_argument("--right", required=True, help="right side's encoded out_dir")
    j.add_argument("--key", required=True,
                   help="join key (comma-separated for composite keys)")
    j.add_argument("--right-key", default=None)
    j.add_argument("--project", default=None)
    j.add_argument("--right-project", default=None)
    j.add_argument("--how", default="inner",
                   choices=("inner", "left", "right", "full",
                            "semi", "anti"))

    ob = sub.add_parser("orderby")
    ob.add_argument("--columns", required=True,
                    help="comma-separated ORDER BY columns")
    ob.add_argument("--project", default=None)
    ob.add_argument("--desc", action="store_true")
    ob.add_argument("--directions", default=None,
                    help="per-key direction mix, e.g. desc,asc "
                         "(every key NULLS LAST)")

    asf = sub.add_parser("asof")
    asf.add_argument("--right", required=True,
                     help="right side's encoded out_dir")
    asf.add_argument("--on", required=True,
                     help="as-of column (int/ts/date lane)")
    asf.add_argument("--right-on", default=None)
    asf.add_argument("--by", required=True,
                     help="comma-separated equality key columns")
    asf.add_argument("--project", default=None)
    asf.add_argument("--right-project", default=None)
    asf.add_argument("--how", default="inner", choices=("inner", "left"))
    asf.add_argument("--direction", default="backward",
                     choices=("backward", "forward", "nearest"))
    asf.add_argument("--strict", action="store_true",
                     help="strict inequality (exclude exact matches)")
    asf.add_argument("--tolerance", type=int, default=None,
                     help="max |on gap| in lane units (micros for ts)")

    bd = sub.add_parser("band")
    bd.add_argument("--right", required=True,
                    help="right side's encoded out_dir")
    bd.add_argument("--on", required=True,
                    help="left point column (int/ts/date lane)")
    bd.add_argument("--right-on", default=None)
    bd.add_argument("--lo", type=int, required=True,
                    help="band lower offset in lane units (may be <0)")
    bd.add_argument("--hi", type=int, required=True,
                    help="band upper offset in lane units")
    bd.add_argument("--by", default=None,
                    help="comma-separated equality key columns")
    bd.add_argument("--project", default=None)
    bd.add_argument("--right-project", default=None)
    bd.add_argument("--how", default="inner", choices=("inner", "left"))

    tn = sub.add_parser("topn")
    tn.add_argument("--by", required=True,
                    help="comma-separated partition keys")
    tn.add_argument("--order", required=True,
                    help="comma-separated order columns")
    tn.add_argument("-n", type=int, default=10)
    tn.add_argument("--project", default=None)
    tn.add_argument("--desc", action="store_true")
    tn.add_argument("--directions", default=None,
                    help="per-key direction mix, e.g. desc,asc")
    tn.add_argument("--mode", default="row_number",
                    choices=("row_number", "rank", "dense_rank"))

    se = sub.add_parser("sessionize")
    se.add_argument("--by", required=True,
                    help="comma-separated session keys")
    se.add_argument("--ts", required=True, help="timestamp column")
    se.add_argument("--gap", type=int, required=True,
                    help="session gap in lane units (micros for ts)")
    se.add_argument("--emit", default="rows", choices=("rows", "sessions"))

    ro = sub.add_parser("rolling")
    ro.add_argument("--by", required=True,
                    help="comma-separated partition keys")
    ro.add_argument("--ts", required=True, help="timestamp column")
    ro.add_argument("--window", type=int, default=None,
                    help="trailing window in lane units (micros for ts); "
                         "omit for cumulative (UNBOUNDED PRECEDING)")
    ro.add_argument("--agg-column", default=None)
    ro.add_argument("--aggs", default="count",
                    help="comma-separated subset of count,sum,avg,min,max")
    ro.add_argument("--window-after", type=int, default=0,
                    help="extend the frame forward (N PRECEDING AND "
                         "M FOLLOWING)")

    lg = sub.add_parser("lag")
    lg.add_argument("--by", required=True,
                    help="comma-separated partition keys")
    lg.add_argument("--order", required=True,
                    help="comma-separated order columns (append a "
                         "unique column for deterministic ties)")
    lg.add_argument("--value", required=True, help="value column")
    lg.add_argument("--offset", type=int, default=1)
    lg.add_argument("--lead", action="store_true",
                    help="LEAD instead of LAG")

    ru = sub.add_parser("rollup")
    ru.add_argument("--columns", required=True,
                    help="comma-separated group columns")
    ru.add_argument("--sum", default=None,
                    help="comma-separated columns to SUM")
    ru.add_argument("--sets", default="rollup",
                    help="rollup | cube | semicolon-separated "
                         "grouping sets (comma-separated cols each, "
                         "empty = grand total)")
    ru.add_argument("--where", default=None,
                    help="eq predicate col=value (optional)")

    pvt = sub.add_parser("pivot")
    pvt.add_argument("--columns", required=True,
                     help="comma-separated group columns")
    pvt.add_argument("--pivot", required=True, help="pivot column")
    pvt.add_argument("--values", default=None,
                     help="comma-separated pinned pivot values "
                          "(omitted = discover, capped)")
    pvt.add_argument("--sum", default=None,
                     help="comma-separated columns to SUM")

    gd = sub.add_parser("group-distinct")
    gd.add_argument("--columns", required=True,
                    help="comma-separated group keys")
    gd.add_argument("--distinct-column", required=True)

    qt = sub.add_parser("quantiles")
    qt.add_argument("--column", required=True)
    qt.add_argument("-q", default=None,
                    help="comma-separated quantiles, default 0.25,0.5,0.75")
    qt.add_argument("--ranks", default=None,
                    help="comma-separated absolute 0-based ranks instead")
    qt.add_argument("--by", default=None,
                    help="comma-separated group columns for PER-GROUP "
                         "quantiles/ranks")

    args = p.parse_args(argv)

    from arcade_spark.session import get_spark

    spark = get_spark(app="arcade-query", cores=args.cores)
    df = build_query(spark, args)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.limit, truncate=80)
    # release any key-stream cache a sort/rank query persisted — the
    # action above already consumed it
    from arcade_spark.readops import release_key_caches

    release_key_caches()
    return 0


if __name__ == "__main__":
    sys.exit(main())
