"""Fixed cost of a Python task: no-op ``mapInArrow`` jobs against a
JVM-only job, and the in-worker cost of ``importlib.invalidate_caches()``.

Prints one JSON object:

- ``jobs``: median wall seconds of a no-op ``mapInArrow`` job over the
  engine's part-assignment source (``partread.range_rows_df``) with 1, 4
  and 16 tasks, next to the same job with no Python (``jvm_s``);
- ``invalidate_caches``: timed inside the workers, one sample per task
  per round. ``engine_ms`` is ``importlib.invalidate_caches()`` as the
  worker runs it before every task (with ``arcade_spark.zipcache``
  installed); ``stock_ms`` is the stock ``zipimporter.invalidate_caches``
  called on the same importers, i.e. the per-task cost without it;
  ``zip_importers`` is how many zip importers the worker holds. Round 0
  is each worker's first task after its first engine import.

Usage: python tools/task_floor_probe.py [--cores N] [--reps R] [--rounds K]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _noop(batches):
    import arcade_spark  # noqa: F401  (every engine kernel imports it)

    for _ in batches:
        pass
    return iter(())


def _time_invalidate(batches):
    import importlib
    import sys as _sys
    import time as _time
    import zipimport

    import pyarrow as pa

    import arcade_spark  # noqa: F401

    for _ in batches:
        pass
    zips = [f for f in _sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)]
    t0 = _time.perf_counter()
    importlib.invalidate_caches()
    engine_ms = (_time.perf_counter() - t0) * 1e3
    stock = zipimport.zipimporter.invalidate_caches._arcade_stock
    t0 = _time.perf_counter()
    for z in zips:
        stock(z)
    stock_ms = (_time.perf_counter() - t0) * 1e3
    yield pa.RecordBatch.from_pylist([{
        "pid": os.getpid(), "engine_ms": engine_ms, "stock_ms": stock_ms,
        "zips": len(zips),
    }])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 4)
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--rounds", type=int, default=4)
    args = ap.parse_args()

    from arcade_spark.partread import range_rows_df
    from arcade_spark.session import get_spark

    spark = get_spark(app="task-floor-probe", cores=args.cores, driver_mem="2g")
    spark.sparkContext.setLogLevel("ERROR")

    def src(n):
        return range_rows_df(spark, [("part_id", "int", list(range(n)))], n)

    def median_wall(action) -> float:
        action()  # warm-up: workers forked, modules imported
        walls = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            action()
            walls.append(time.perf_counter() - t0)
        return round(statistics.median(walls), 4)

    jobs = {}
    for n in (1, 4, 16):
        jobs[f"{n}_tasks"] = {
            "python_s": median_wall(
                lambda n=n: src(n).mapInArrow(_noop, "part_id int").collect()),
            "jvm_s": median_wall(lambda n=n: src(n).collect()),
        }

    rounds = []
    for _ in range(args.rounds):
        rows = (src(args.cores)
                .mapInArrow(_time_invalidate,
                            "pid long, engine_ms double, stock_ms double, zips long")
                .collect())
        rounds.append({
            "engine_ms": round(statistics.median(r.engine_ms for r in rows), 3),
            "stock_ms": round(statistics.median(r.stock_ms for r in rows), 3),
            "zip_importers": max(r.zips for r in rows),
            "workers": len({r.pid for r in rows}),
        })
    spark.stop()
    print(json.dumps({"cores": args.cores, "jobs": jobs,
                      "invalidate_caches": rounds}, indent=1))


if __name__ == "__main__":
    main()
