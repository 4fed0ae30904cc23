"""A/B the string-codec profiles on the bench corpus: throughput
(fsst_rounds=0, the default) vs ratio (fsst_rounds=3, merged 1-8-byte
FSST symbols). Prints GB/s and compression ratio for each, plus the
per-column codec mix of the ratio profile — the measured Pareto that
justifies the default (recorded in BENCH/BASELINE.md).

Usage: python tools/fsst_ab.py [n_rows] [cores]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from arcade_spark.corpus import write_corpus_files
    from arcade_spark.encode import encode_files_job
    from arcade_spark.session import get_spark

    spark = get_spark(app="fsst-ab", cores=cores)
    # the corpus and both encoded tables live under one temp dir,
    # removed however the run ends
    root = tempfile.mkdtemp(prefix="fsst_ab_")
    try:
        corpus = os.path.join(root, f"corpus_{n_rows}")
        write_corpus_files(corpus, n_rows, 2 * cores)

        for label, rounds in (("throughput r0", 0), ("ratio r3", 3)):
            out = os.path.join(root, f"enc_{rounds}")
            best = None
            for _ in range(2):
                shutil.rmtree(out, ignore_errors=True)
                t0 = time.time()
                m = encode_files_job(spark, corpus, out, resume=False,
                                     fsst_rounds=rounds)
                dt = time.time() - t0
                best = min(best, dt) if best else dt
            gbps = m["raw_bytes"] / best / 1e9
            print(f"{label}: ratio={m['ratio']:.4f} gbps={gbps:.4f} "
                  f"raw_mb={m['raw_bytes']/1e6:.1f} wall={best:.2f}s")
            blocks = spark.read.parquet(f"{out}/blocks")
            mix = blocks.groupBy("column", "codec").count().orderBy("column", "codec")
            for r in mix.collect():
                print(f"  {r['column']:10s} {r['codec']:12s} {r['count']}")
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
