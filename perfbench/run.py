"""arcade-spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {ingest,query} \
        --seed N --seconds S --trace {0,1} [--report FILE]

Run from the repository root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end set of BENCHMARK.json, with ``--trace 1`` the
per-layer set. The line before it is the workload's detailed report
(every end-to-end figure the workload defines, per-operation latencies
and, traced, the per-operation layer breakdown); ``--report`` also
writes that report, with the spans, to FILE.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
# a run that hangs stops here, cleans up and exits non-zero (the run
# limit is 180 s; stopping the JVM and reaping can take up to 30)
DEADLINE_S = 150
sys.path.insert(0, os.path.dirname(HERE))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest", "query"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--report", help="also write the detailed report here (JSON)")
    return p.parse_args(argv)


def _deadline(signum, frame):
    raise SystemExit(f"perfbench: run exceeded {DEADLINE_S} s")


def end_to_end(ctx, start_s: float, peak_mb: float) -> dict:
    from harness import median

    stored, raw = ctx.stored
    return {
        "setup_s": (start_s + median(ctx.setup_reps), "s"),
        "pass_s": (ctx.pass_s(), "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "stored_ratio": (stored / raw if raw else 0.0, "ratio"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import arcade_spark  # noqa: F401 - the engine must be in the checkout
    except ImportError as e:
        print(f"perfbench: cannot import arcade_spark from {os.path.dirname(HERE)}: {e}",
              file=sys.stderr)
        return 2

    import harness
    import layers
    from workloads import WORKLOADS, Ctx

    dirs = harness.RunDirs()
    spark = None
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    try:
        with harness.RssSampler() as rss:
            spark, start_s = harness.start_session(dirs, f"perfbench-{args.workload}",
                                                   bool(args.trace))
            tracer = harness.Tracer(spark, args.workload, bool(args.trace))
            ctx = Ctx(spark, dirs, tracer, args.workload, args.seed, args.seconds)
            t_work = time.perf_counter()
            WORKLOADS[args.workload](ctx)
            probed = layers.probe(ctx) if args.trace else {}
            t_stop = time.perf_counter()
            harness.stop_session(spark)
            spark = None
        phases = {"to_session": t_work - T0 - start_s, "session": start_s,
                  "setup": sum(ctx.setup_reps), "loop": ctx.loop_s,
                  "workload": t_stop - t_work, "stop": time.perf_counter() - t_stop}
        e2e = end_to_end(ctx, start_s, rss.peak_mb)
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": harness.nproc(),
            "attempted": ctx.attempted, "failed": ctx.failed,
            "setup_reps_s": ctx.setup_reps, "session_start_s": start_s, "phases_s": phases,
            "peak_rss_by_mb": rss.peak_by_mb,
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "workload_metrics": ctx.detail, "operations": ctx.per_kind(),
        }
        if args.trace:
            flat, breakdown = layers.per_layer(ctx, start_s, probed, dirs.eventlog)
            metrics = {k: (v, layers.unit_and_direction(k)[0]) for k, v in flat.items()}
            report["per_layer"] = flat
            report["per_operation"] = breakdown
        else:
            metrics = e2e
        print(json.dumps(report, sort_keys=True))
        if args.report:
            with open(args.report, "w") as f:
                json.dump({**report, "spans": ctx.tracer.spans}, f, indent=1, sort_keys=True)
        result = {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        signal.alarm(0)
        if spark is not None:
            try:
                harness.stop_session(spark)
            except Exception:  # noqa: BLE001 - the JVM may already be gone; reaped below
                pass
        dirs.close()
        harness.reap_descendants()


if __name__ == "__main__":
    sys.exit(main())
