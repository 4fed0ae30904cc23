"""spark-submit entry point: verify an encoded table — manifest/blocks
integrity plus (optionally) a full lossless round-trip against the
source.

    python arcade_spark/jobs/verify_job.py --encoded /data/encoded \
        [--source /data/corpus --key url]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="arcade-spark verify job")
    p.add_argument("--encoded", required=True)
    p.add_argument("--source", default=None, help="source parquet to compare against")
    p.add_argument("--key", default="url", help="join key for the per-row comparison")
    p.add_argument("--cores", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from arcade_spark.decode import scan
    from arcade_spark.manifest import verify_integrity
    from arcade_spark.partread import Manifest
    from arcade_spark.session import get_spark

    spark = get_spark(app="arcade-verify", cores=args.cores)
    result = {"integrity": verify_integrity(spark, args.encoded)}

    if args.source:
        src = spark.read.parquet(args.source)
        dec = scan(spark, args.encoded)
        cols = [n for n, _ in Manifest.read(args.encoded).cols if n != args.key]
        cond = None
        for c in cols:
            eq = F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}"))
            cond = eq if cond is None else (cond & eq)
        j = src.alias("s").join(dec.alias("d"), args.key, "full_outer")
        mismatches = j.filter(~F.coalesce(cond, F.lit(False))).count()
        result["rows_source"] = src.count()
        result["rows_decoded"] = dec.count()
        result["mismatches"] = mismatches
        result["lossless"] = mismatches == 0 and result["rows_source"] == result["rows_decoded"]

    print(json.dumps(result))
    ok = result["integrity"]["ok"] and result.get("lossless", True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
