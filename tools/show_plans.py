"""Print the key physical plans (docs/PLANS.md evidence), runnable:

    python tools/show_plans.py

Writes a small corpus to encode-plan against.
"""

from __future__ import annotations

import os
import sys

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


if __name__ == "__main__":
    main()
