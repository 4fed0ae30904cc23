"""Record one untraced and one traced run per workload, same seed, and
write ``perfbench/traces/<workload>.json``: the end-to-end figures, the
per-layer numbers, the per-operation breakdown, the spans and the
tracing overhead (traced minus untraced ``pass_s``).

    python3 perfbench/record_trace.py [--seed 1] [--seconds 8] [workload ...]
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "query")


def run(workload: str, seed: int, seconds: float, trace: int, report: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--report", report]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(report) as f:
        full = json.load(f)
    os.remove(report)
    return {"result": result, "report": full}


def hardware() -> dict:
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"cpu": model, "cores": len(os.sched_getaffinity(0)),
            "memory_gb": round(mem_kb / 1024 ** 2, 1), "python": platform.python_version()}


def serve_attribution(per_op: dict) -> dict:
    """Where one serve read's time goes, per operation type (ms)."""
    out = {}
    for name in ("serve.filter", "serve.lookup"):
        b = per_op.get(name)
        if not b:
            continue
        tasks = max(b["tasks"], 1)
        out[name] = {
            "wall_ms": 1000 * b["wall_s"],
            "readops_plan_ms": b["plan_ms"],
            "driver_outside_jobs_ms": b["driver_ms"],
            "jobs_ms": 1000 * b["job_s"],
            "tasks": b["tasks"],
            "python_worker_start_ms_per_task": 1000 * b["python_start_s"] / tasks,
            "python_worker_init_ms_per_task": 1000 * b["python_init_s"] / tasks,
            "python_worker_run_ms_per_task": 1000 * b["python_run_s"] / tasks,
            "executor_run_ms_per_task": 1000 * b["executor_run_s"] / tasks,
            "executor_cpu_ms_per_task": 1000 * b["executor_cpu_s"] / tasks,
        }
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = p.parse_args()
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    for w in args.workloads:
        plain = run(w, args.seed, args.seconds, 0, os.path.join(scratch, f"{w}-plain.json"))
        traced = run(w, args.seed, args.seconds, 1, os.path.join(scratch, f"{w}-traced.json"))
        t_pass = traced["report"]["per_layer"]["trace.pass_s"]
        u_pass = plain["report"]["end_to_end"]["pass_s"]
        out = {
            "workload": w, "seed": args.seed, "seconds": args.seconds, "hardware": hardware(),
            "untraced": {k: plain["report"][k] for k in
                         ("end_to_end", "workload_metrics", "operations", "attempted", "failed")},
            "traced": {k: traced["report"][k] for k in
                       ("per_layer", "per_operation", "operations", "attempted", "failed", "spans")},
            "tracing_overhead": {"untraced_pass_s": u_pass, "traced_pass_s": t_pass,
                                 "overhead_s": t_pass - u_pass,
                                 "overhead_share": (t_pass - u_pass) / u_pass},
        }
        if w == "query":
            out["serve_read_attribution"] = serve_attribution(traced["report"]["per_operation"])
        with open(os.path.join(HERE, "traces", f"{w}.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
        print(w, json.dumps(out["tracing_overhead"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
