"""Fold Spark's own event log onto the benchmark's spans.

The log is the rolling zstd directory ``spark.eventLog.*`` launch conf
writes. Every job carries the job group of the span that launched it
(``pb:<span id>``); streaming jobs carry their query's run id instead,
which the stream spans record. Each task's accumulable updates give the
Python-worker boundary (start / initialize / run time, Arrow bytes to
and from the workers); its task metrics give executor CPU and run time,
shuffle write and spill. (A stage's accumulable values are running
totals of the plan node's metric, so summing them over stages would
count earlier stages again.)
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow as pa

PY_ACCUMS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "arrow_to_python_mb",
    "data returned from Python workers": "arrow_from_python_mb",
}
FIELDS = ("jobs", "stages", "tasks", "job_s", "python_start_s", "python_init_s",
          "python_run_s", "arrow_to_python_mb", "arrow_from_python_mb",
          "shuffle_write_mb", "spill_mb", "executor_cpu_s", "executor_run_s")


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        codec = "zstd" if path.endswith(".zstd") else None
        with pa.input_stream(path, compression=codec) as f:
            data = f.read()
        events.extend(json.loads(line) for line in data.splitlines() if line.strip())
    return events


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end) millisecond intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def fold(log_dir: str, group_to_span: dict[str, int]) -> dict[int, dict]:
    """{span id: {field: value}} for every span that launched jobs.

    ``group_to_span`` maps a job group id to the span it belongs to.
    ``job_s`` is the wall time covered by at least one of the span's
    jobs, so the span's duration minus ``job_s`` is driver-side time
    (planning, metadata reads, result handling)."""
    events = read_events(log_dir)
    job_span: dict[int, int] = {}
    job_start: dict[int, int] = {}
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = {}
    intervals: dict[int, list] = {}

    def acc(sid: int) -> dict:
        return out.setdefault(sid, dict.fromkeys(FIELDS, 0.0))

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            sid = group_to_span.get(group)
            if sid is None:
                continue
            jid = e["Job ID"]
            job_span[jid] = sid
            job_start[jid] = e["Submission Time"]
            acc(sid)["jobs"] += 1
            for st in e["Stage IDs"]:
                stage_span[st] = sid
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_span:
                intervals.setdefault(job_span[jid], []).append(
                    (job_start[jid], e["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = stage_span.get(info["Stage ID"])
            if sid is None or "Completion Time" not in info:
                continue
            acc(sid)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if sid is None or not m:
                continue
            a = acc(sid)
            a["tasks"] += 1
            for item in (e.get("Task Info") or {}).get("Accumulables", []):
                field = PY_ACCUMS.get(item.get("Name"))
                if field is not None:
                    v = float(item.get("Update") or 0)
                    a[field] += v / 1e6 if field.endswith("_mb") else v / 1000.0
            a["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
            a["executor_run_s"] += m["Executor Run Time"] / 1000.0
            a["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
            a["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / 1e6
    for sid, iv in intervals.items():
        acc(sid)["job_s"] = _union_seconds(iv)
    return out
