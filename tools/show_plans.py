"""Print the key physical plans (docs/PLANS.md evidence), runnable:

    python tools/show_plans.py

Writes a small corpus to encode-plan against, and encodes two small
tables to run the late-materializing joins on: for ``join_encoded`` and
``join_asof`` it prints the AQE final plan, the Spark job count and the
Python-exec depth of every stage (no stage may chain two Python execs).

The keyed section runs the five keyed-timeline operators (``join_asof``,
``sessionize``, ``rolling_agg``, ``window_shift``, ``top_per_key``) on
the same two tables, unsplit and with a forced ``hot_key_threshold``,
and prints one line per run: its Spark job count and the Python depth
of every stage. Run only that section with

    python tools/show_plans.py keyed

The agg section runs the aggregate family (grand totals, zero- and
2-key group-by, rollup, pivot, the groupjoins) on a 20k-row, 4-part
fact table and two small dimensions, one line per operator in the same
form. Run only that section with

    python tools/show_plans.py agg

The rank section runs the rank and sort family (``column_rank_values``
over an int, a str and a double column, ``group_rank_values`` with 1
and 2 keys, ``orderby_export`` on 1 column, on 2 columns that cover
the projection, and with mixed directions) on the same fact table, one
line per run in the same form. Run only that section with

    python tools/show_plans.py rank

The join section runs the two-sided joins on the same two tables:
``join_encoded`` for every ``how`` (inner, left, right, full, semi,
anti), ``join_band`` inner and left, and ``join_asof`` backward, one
line per run in the same form. Run only that section with

    python tools/show_plans.py join

The write section runs the three write jobs (``encode_files_job`` and
``encode_job`` on a 20k-row, 4-file corpus, then ``compact_job`` of the
files-mode table 4 → 1) and prints one line per job: its Spark job and
stage counts and the Python depth of every stage of the DataFrames it
collects (an RDD job shows none). Run only that section with

    python tools/show_plans.py write

Every corpus and table it writes is removed when it exits.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_ROOTS: list[str] = []  # every directory a run writes, removed on exit


def _root(prefix: str) -> str:
    _ROOTS.append(tempfile.mkdtemp(prefix=prefix))
    return _ROOTS[-1]


def main() -> None:
    from pyspark.sql import functions as F

    from arcade_spark.corpus import write_corpus_files
    from arcade_spark.dedup import dedup_minhash_lsh
    from arcade_spark.encode import _PART_COL, with_part_id
    from arcade_spark.session import get_spark

    spark = get_spark(app="show-plans", cores=4)
    if sys.argv[1:] == ["keyed"]:
        show_keyed(spark, _root("plans_keyed"))
        return
    if sys.argv[1:] == ["agg"]:
        show_agg(spark, _root("plans_agg"))
        return
    if sys.argv[1:] == ["rank"]:
        show_rank(spark, _root("plans_rank"))
        return
    if sys.argv[1:] == ["join"]:
        show_join(spark, _root("plans_join"))
        return
    if sys.argv[1:] == ["write"]:
        show_write(spark, _root("plans_write"))
        return
    _ROOTS.append("/tmp/plans_corpus")
    corpus = write_corpus_files(_ROOTS[-1], 20000, 4)

    print("=== shuffle-mode encode plan (single exchange) ===")
    src = spark.read.parquet(corpus)
    with_part_id(src, 16).repartition(16, F.col(_PART_COL)).sortWithinPartitions(
        _PART_COL, "url"
    ).explain("formatted")

    print("=== minhash-LSH plan (broadcast joins) ===")
    dedup_minhash_lsh(spark, "/root/testdata/sf0.001").explain("formatted")

    show_attach_joins(spark, _root("plans_joins"))
    show_keyed(spark, _root("plans_keyed"))
    show_agg(spark, _root("plans_agg"))
    show_rank(spark, _root("plans_rank"))
    show_join(spark, _root("plans_join"))
    show_write(spark, _root("plans_write"))


def _tables(spark, root: str) -> tuple[str, str]:
    from arcade_spark.encode import encode_job

    a = spark.createDataFrame(
        [(i, i % 50, f"q{i % 9}", i * 10) for i in range(2000)],
        "id long, fk long, tag string, ts long",
    )
    b = spark.createDataFrame(
        [(j, f"g{j % 3}") for j in range(60)], "pk long, grade string"
    )
    oa, ob = os.path.join(root, "a"), os.path.join(root, "b")
    encode_job(spark, a, oa, num_parts=2, block_rows=256, order_col="id")
    encode_job(spark, b, ob, num_parts=2, block_rows=256, order_col="pk")
    return oa, ob


def _run(spark, name: str, run):
    """Collect ``run()`` under its own job group: (df, Spark jobs)."""
    sc = spark.sparkContext
    group = f"show-plans-{name}"
    sc.setJobGroup(group, name)
    df = run()
    df.collect()
    sc.setJobGroup(None, None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def show_attach_joins(spark, root: str) -> None:
    """Run the two gather-expand-attach joins on small encoded tables
    and print each one's final plan, job count and per-stage depth."""
    from arcade_spark.planshape import stages
    from arcade_spark.readops import join_asof, join_encoded

    oa, ob = _tables(spark, root)
    runs = {
        "join_encoded": lambda: join_encoded(
            spark, oa, ob, "fk", "pk", project_a=["tag", "id"],
            project_b=["grade"]),
        "join_asof": lambda: join_asof(
            spark, oa, oa, "ts", "fk", project_a=["tag"], project_b=["id"]),
    }
    for name, run in runs.items():
        df, jobs = _run(spark, name, run)
        print(f"=== {name}: gather-expand attach ===")
        print(df._jdf.queryExecution().executedPlan().toString())
        print(f"spark jobs: {jobs}")
        for i, st in enumerate(stages(df)):
            print(f"stage {i}: python depth {st['python_depth']}: "
                  + " <- ".join(st["ops"]))


def show_keyed(spark, root: str) -> None:
    """Run the keyed-timeline operators on the small tables, unsplit
    and with every key forced hot (50 keys of 40 rows, threshold 20),
    and print each run's job count and per-stage Python depth.
    ``top_per_key`` has no hot-key split; it runs once."""
    from arcade_spark.planshape import stages
    from arcade_spark.readops import (
        join_asof, release_key_caches, rolling_agg, sessionize,
        top_per_key, window_shift,
    )

    oa, _ob = _tables(spark, root)
    ops = {
        "join_asof_backward": lambda h: join_asof(
            spark, oa, oa, "ts", "fk", project_a=["tag"], project_b=["id"],
            hot_key_threshold=h),
        "join_asof_nearest": lambda h: join_asof(
            spark, oa, oa, "ts", "fk", project_b=["id"], direction="nearest",
            hot_key_threshold=h),
        "sessionize_rows": lambda h: sessionize(
            spark, oa, "fk", "ts", gap=1000, hot_key_threshold=h),
        "sessionize_sessions": lambda h: sessionize(
            spark, oa, "fk", "ts", gap=1000, emit="sessions",
            hot_key_threshold=h),
        "rolling_agg_bounded": lambda h: rolling_agg(
            spark, oa, "fk", "ts", window=2000, agg_col="id",
            aggs=("count", "sum", "max"), hot_key_threshold=h),
        "rolling_agg_cumulative": lambda h: rolling_agg(
            spark, oa, "fk", "ts", window=None, agg_col="id",
            aggs=("count", "sum"), hot_key_threshold=h),
        "window_shift_lag": lambda h: window_shift(
            spark, oa, "fk", ["ts"], "id", hot_key_threshold=h),
    }
    print("=== keyed-timeline operators: jobs and per-stage python depth ===")
    runs = [(f"{name} unsplit", lambda op=op: op(None)) for name, op in ops.items()]
    runs += [(f"{name} split", lambda op=op: op(20)) for name, op in ops.items()]
    runs.append(("top_per_key", lambda: top_per_key(
        spark, oa, "fk", "ts", 2, project=["tag", "id"])))
    for name, run in runs:
        df, jobs = _run(spark, name.replace(" ", "-"), run)
        depths = [st["python_depth"] for st in stages(df)]
        print(f"{name}: jobs {jobs}, rows {df.count()}, stage depths {depths}")
        release_key_caches()


def _fact(spark, root: str) -> str:
    """Encode the 20k-row, 4-part, 1024-row-block fact table."""
    from arcade_spark.encode import encode_job

    fact = spark.createDataFrame(
        [(i, i % 50, f"q{i % 9}", i % 1000, (i % 700) * 0.25)
         for i in range(20000)],
        "id long, fk long, tag string, x long, v double",
    )
    f = os.path.join(root, "f")
    encode_job(spark, fact, f, num_parts=4, block_rows=1024, order_col="id")
    return f


def _print_runs(spark, runs: dict) -> None:
    """Run each operator and print its job count and per-stage Python
    depth (or the exception an unsupported operator raises)."""
    from arcade_spark.planshape import stages
    from arcade_spark.readops import release_key_caches

    for name, run in runs.items():
        try:
            df, jobs = _run(spark, name.replace(" ", "-"), run)
        except Exception as e:  # an operator this tree does not support
            spark.sparkContext.setJobGroup(None, None)
            print(f"{name}: raises {type(e).__name__}: {str(e).splitlines()[0]}")
            continue
        depths = [st["python_depth"] for st in stages(df)]
        print(f"{name}: jobs {jobs}, rows {df.count()}, stage depths {depths}")
        release_key_caches()


def show_agg(spark, root: str) -> None:
    """Run the aggregate operators on a 20k-row fact table (4 parts)
    joined to a 60-row dimension and a 5-row second hop, and print each
    run's job count and per-stage Python depth."""
    from arcade_spark.encode import encode_job
    from arcade_spark.readops import (
        column_agg, filter_agg, filter_group_by_multi, filter_group_by_sets,
        join_group_by, join_group_by_chain, pivot_table,
    )

    f = _fact(spark, root)
    dim = spark.createDataFrame(
        [(j, f"g{j % 3}", j % 5, j * 3) for j in range(60)],
        "pk long, grade string, gk long, w long",
    )
    hop = spark.createDataFrame(
        [(k, f"r{k % 2}") for k in range(5)], "ck long, region string"
    )
    d, c = (os.path.join(root, n) for n in ("d", "c"))
    encode_job(spark, dim, d, num_parts=2, block_rows=256, order_col="pk")
    encode_job(spark, hop, c, num_parts=1, block_rows=256, order_col="ck")
    aggs = [("s", "sum", "x"), ("lo", "min", "v"), ("a", "avg", "v"),
            ("n", "count", None)]
    runs = {
        "filter_agg": lambda: filter_agg(spark, f, [("eq", "tag", "q1")], "x"),
        "column_agg": lambda: column_agg(spark, f, "v"),
        "filter_group_by_multi 0-key": lambda: filter_group_by_multi(
            spark, f, [("range", "x", 0, 500)], [], aggs),
        "filter_group_by_multi 2-key": lambda: filter_group_by_multi(
            spark, f, [], ["tag", "fk"], aggs),
        "filter_group_by_sets rollup": lambda: filter_group_by_sets(
            spark, f, [], ["tag", "fk"], aggs, sets="rollup"),
        "pivot_table": lambda: pivot_table(
            spark, f, ["fk"], "tag", [("s", "sum", "x")]),
        "join_group_by": lambda: join_group_by(
            spark, f, d, "fk", aggs, key_b="pk", group_b=["grade"]),
        "join_group_by b_exists": lambda: join_group_by(
            spark, f, d, "fk", aggs, key_b="pk", group_a=["tag"],
            preds_b=[("eq", "grade", "g1")], b_exists=True),
        "join_group_by side-B": lambda: join_group_by(
            spark, f, d, "fk", aggs + [("w", "sum", "w", "b")], key_b="pk",
            group_a=["tag"]),
        "join_group_by_chain": lambda: join_group_by_chain(
            spark, f, d, c, "fk", "pk", "gk", "ck", aggs, group_c=["region"]),
    }
    print("=== aggregate operators: jobs and per-stage python depth ===")
    _print_runs(spark, runs)


def show_rank(spark, root: str) -> None:
    """Run the rank and sort operators on the 20k-row fact table and
    print each run's job count and per-stage Python depth."""
    from arcade_spark.readops import (
        column_rank_values, group_rank_values, orderby_export,
    )

    f = _fact(spark, root)
    runs = {
        "column_rank_values int ranks": lambda: column_rank_values(
            spark, f, "x", ranks=[0, 9999, 19999]),
        "column_rank_values str quantiles": lambda: column_rank_values(
            spark, f, "tag", quantiles=[0.1, 0.5, 0.9]),
        "column_rank_values double": lambda: column_rank_values(
            spark, f, "v", quantiles=[0.5, 0.99]),
        "group_rank_values 1-key": lambda: group_rank_values(
            spark, f, ["tag"], "x", quantiles=[0.5, 0.99]),
        "group_rank_values 2-key": lambda: group_rank_values(
            spark, f, ["tag", "fk"], "v", ranks=[0, 3]),
        "orderby_export 1-col": lambda: orderby_export(
            spark, f, ["x"], ["tag", "id"]),
        "orderby_export lanes_cover": lambda: orderby_export(
            spark, f, ["tag", "fk"], ["fk", "tag"]),
        "orderby_export mixed desc": lambda: orderby_export(
            spark, f, ["tag", "x"], ["id", "x"], desc=[True, False]),
    }
    print("=== rank and sort operators: jobs and per-stage python depth ===")
    _print_runs(spark, runs)


def show_join(spark, root: str) -> None:
    """Run the two-sided joins on the small tables and print each run's
    job count and per-stage Python depth. Both sides keep unmatched
    rows: B's predicate drops keys 0-9 (A's fk 0-9 find no match) and
    B's keys 50-59 have no A row; the band's B predicate leaves A rows
    past id 1099 without a match."""
    from arcade_spark.readops import join_asof, join_band, join_encoded

    oa, ob = _tables(spark, root)
    runs = {
        f"join_encoded {how}": lambda how=how: join_encoded(
            spark, oa, ob, "fk", "pk", project_a=["tag", "id"],
            project_b=[] if how in ("semi", "anti") else ["grade"],
            preds_b=[("range", "pk", 10, 59)], how=how)
        for how in ("inner", "left", "right", "full", "semi", "anti")
    }
    runs.update({
        f"join_band {how}": lambda how=how: join_band(
            spark, oa, oa, "ts", lo=0, hi=1000, by="fk", project_a=["tag"],
            project_b=["id"], preds_b=[("range", "id", 0, 999)], how=how)
        for how in ("inner", "left")
    })
    runs["join_asof backward"] = lambda: join_asof(
        spark, oa, oa, "ts", "fk", project_a=["tag"], project_b=["id"])
    print("=== two-sided joins: jobs and per-stage python depth ===")
    _print_runs(spark, runs)


def show_write(spark, root: str) -> None:
    """Run the write jobs and print each one's Spark job and stage
    counts and the per-stage Python depth of every DataFrame it
    collects (recorded by wrapping ``DataFrame.collect`` for the run)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from arcade_spark.compact import compact_job
    from arcade_spark.corpus import write_corpus_files
    from arcade_spark.encode import encode_files_job, encode_job
    from arcade_spark.planshape import stages

    src = write_corpus_files(os.path.join(root, "src"), 20000, 4)
    files = os.path.join(root, "files")
    runs = {
        "encode_files_job": lambda: encode_files_job(
            spark, src, files, block_rows=1024),
        "encode_job": lambda: encode_job(
            spark, spark.read.parquet(src), os.path.join(root, "shuffle"),
            num_parts=4, block_rows=1024),
        "compact_job 4->1": lambda: compact_job(
            spark, files, os.path.join(root, "compact"), group_size=4),
    }
    sc = spark.sparkContext
    collect = DataFrame.collect
    print("=== write jobs: jobs, stages and per-stage python depth ===")
    for name, run in runs.items():
        collected = []

        def recording(df):
            collected.append(df)
            return collect(df)

        group = f"show-plans-{name.split()[0]}"
        sc.setJobGroup(group, name)
        DataFrame.collect = recording
        try:
            run()
        finally:
            DataFrame.collect = collect
            sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        n_stages = sum(len(sc.statusTracker().getJobInfo(j).stageIds) for j in jobs)
        depths = [[st["python_depth"] for st in stages(df)] for df in collected]
        print(f"{name}: jobs {len(jobs)}, stages {n_stages}, stage depths {depths}")


if __name__ == "__main__":
    try:
        main()
    finally:
        for d in _ROOTS:
            shutil.rmtree(d, ignore_errors=True)
