"""Print the key physical plans (docs/PLANS.md evidence), runnable:

    python tools/show_plans.py

Writes a small corpus to encode-plan against, and encodes two small
tables to run the late-materializing joins on: for ``join_encoded`` and
``join_asof`` it prints the AQE final plan, the Spark job count and the
Python-exec depth of every stage (no stage may chain two Python execs).
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from arcade_spark.corpus import write_corpus_files
    from arcade_spark.dedup import dedup_minhash_lsh
    from arcade_spark.encode import _PART_COL, with_part_id
    from arcade_spark.session import get_spark

    spark = get_spark(app="show-plans", cores=4)
    corpus = write_corpus_files("/tmp/plans_corpus", 20000, 4)

    print("=== shuffle-mode encode plan (single exchange) ===")
    src = spark.read.parquet(corpus)
    with_part_id(src, 16).repartition(16, F.col(_PART_COL)).sortWithinPartitions(
        _PART_COL, "url"
    ).explain("formatted")

    print("=== minhash-LSH plan (broadcast joins) ===")
    dedup_minhash_lsh(spark, "/root/testdata/sf0.001").explain("formatted")

    show_attach_joins(spark, tempfile.mkdtemp(prefix="plans_joins"))


def show_attach_joins(spark, root: str) -> None:
    """Run the two gather-expand-attach joins on small encoded tables
    and print each one's final plan, job count and per-stage depth."""
    from arcade_spark.encode import encode_job
    from arcade_spark.planshape import stages
    from arcade_spark.readops import join_asof, join_encoded

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
    sc = spark.sparkContext
    runs = {
        "join_encoded": lambda: join_encoded(
            spark, oa, ob, "fk", "pk", project_a=["tag", "id"],
            project_b=["grade"]),
        "join_asof": lambda: join_asof(
            spark, oa, oa, "ts", "fk", project_a=["tag"], project_b=["id"]),
    }
    for name, run in runs.items():
        group = f"show-plans-{name}"
        sc.setJobGroup(group, name)
        df = run()
        df.collect()
        sc.setJobGroup(None, None)
        print(f"=== {name}: gather-expand attach ===")
        print(df._jdf.queryExecution().executedPlan().toString())
        print(f"spark jobs: {len(sc.statusTracker().getJobIdsForGroup(group))}")
        for i, st in enumerate(stages(df)):
            print(f"stage {i}: python depth {st['python_depth']}: "
                  + " <- ".join(st["ops"]))


if __name__ == "__main__":
    main()
