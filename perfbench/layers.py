"""Per-layer numbers for a traced run, measured from outside the engine.

``probe`` runs after the timed loop, before the session stops: timed
``partread.load_manifest`` calls, the codec mix of the workload's table,
a zone-map probe, and single-process ``core`` / ``stats`` / ``selector``
calls on sampled corpus blocks. ``per_layer`` then folds the spans, the
Spark event log and streaming progress into the flat metric set named in
``BENCHMARK.json`` (the same names on every workload; a layer a workload
never calls reads 0).
"""

from __future__ import annotations

import os
from time import perf_counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

import eventlog
import inputs
from harness import median, nproc
from workloads import BLOCK_ROWS

CORPUS_COLUMNS = (("url", "str"), ("text", "str"), ("html", "binary"),
                  ("lang", "str"), ("warc_ts", "ts"))
CODECS = ("plain", "fsst", "rle_str", "dict_local", "dict_global",
          "plain_int", "bitpack", "for_int", "delta_int", "rle_int")
ENCODE_MODES = {"files": "files", "shuffle": "shuffle", "append": "stream"}
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets", "triggerExecution")
SPARK_FIELDS = ("python_start_s", "python_init_s", "python_run_s", "arrow_to_python_mb",
                "arrow_from_python_mb", "shuffle_write_mb", "spill_mb",
                "executor_cpu_s", "executor_run_s")
CORE_BLOCKS = 4
CORE_REPS = 3


def _core_probe(seed: int) -> dict:
    """Encode then decode CORE_BLOCKS consecutive blocks of each corpus
    column in this process, the way one encode task and one scan task
    walk a part; median of CORE_REPS passes."""
    from arcade_spark.convert import arrow_to_block
    from arcade_spark.core import (decode_int_block, decode_str_block,
                                   encode_int_block, encode_str_block)
    from arcade_spark.gdict import GlobalDict, GlobalDictDecoder
    from arcade_spark.selector import choose_int_codec, choose_str_codec
    from arcade_spark.stats import profile_int_block, profile_str_block

    t = inputs.corpus_rows(seed, 0, CORE_BLOCKS * BLOCK_ROWS)
    out: dict = {}
    prof, choose = [], []
    for name, vt in CORPUS_COLUMNS:
        col = t.column(name)
        if vt == "ts":
            col = pc.cast(col, pa.timestamp("us", tz="UTC"))
        blocks = [arrow_to_block(col.slice(i * BLOCK_ROWS, BLOCK_ROWS), vt)
                  for i in range(CORE_BLOCKS)]
        raw = sum(b.nbytes for b in blocks)
        is_str = vt in ("str", "binary")
        enc_t, dec_t = [], []
        for _ in range(CORE_REPS):
            gd, gdec = GlobalDict(), GlobalDictDecoder()
            t0 = perf_counter()
            encoded = [encode_str_block(b, gd) if is_str else encode_int_block(b, vt)
                       for b in blocks]
            t1 = perf_counter()
            for blob, meta in encoded:
                if is_str:
                    decode_str_block(blob, meta, gdec)
                else:
                    decode_int_block(blob, meta)
            dec_t.append(perf_counter() - t1)
            enc_t.append(t1 - t0)
        for b in blocks:
            t0 = perf_counter()
            st = profile_str_block(b) if is_str else profile_int_block(b)
            t1 = perf_counter()
            if is_str:
                choose_str_codec(st, GlobalDict(), b)
            else:
                choose_int_codec(st)
            choose.append(perf_counter() - t1)
            prof.append(t1 - t0)
        out[f"core.encode_mbps.{name}"] = raw / 1e6 / median(enc_t)
        out[f"core.decode_mbps.{name}"] = raw / 1e6 / median(dec_t)
        out[f"core.bytes.{name}"] = float(sum(m["encoded_bytes"] for _, m in encoded))
    out["selector.profile_ms_per_block"] = 1000 * median(prof)
    out["selector.choose_ms_per_block"] = 1000 * median(choose)
    return out


def probe(ctx) -> dict:
    """Layer probes that need the live session; run untimed."""
    from arcade_spark.partread import load_manifest
    from arcade_spark.readops import equi_filter
    from pyspark.sql import functions as F

    out: dict = {}
    table = ctx.main_table
    if table is not None:
        with ctx.tracer.span("manifest.load_manifest"):
            times = []
            for _ in range(5):
                t0 = perf_counter()
                _, parts = load_manifest(table)
                times.append(perf_counter() - t0)
        out["manifest.load_ms"] = 1000 * median(times)
        out["manifest.parts"] = float(len(parts))
        codecs = ds.dataset(os.path.join(table, "blocks"), format="parquet") \
            .to_table(columns=["codec"]).column("codec")
        counts = pc.value_counts(codecs).to_pylist()
        for item in counts:
            out[f"selector.blocks.{item['values']}"] = float(item["counts"])
        zones = ds.dataset(os.path.join(table, "blocks"), format="parquet").to_table(
            columns=["max_bin"], filter=(pc.field("column") == "url") & pc.field("max_exact"))
        url = zones.column("max_bin")[0].as_py() if zones.num_rows else None
        if url is not None:
            with ctx.tracer.span("partread.zone_probe"):
                r = equi_filter(ctx.spark, table, "url", url.decode(), count_only=True) \
                    .agg(F.count(F.lit(1)).alias("blocks"),
                         F.sum("zone_skipped").alias("skipped")).collect()[0]
            out["partread.zone_skipped_ratio"] = (r["skipped"] or 0) / max(r["blocks"], 1)
    with ctx.tracer.span("core.blocks"):
        out.update(_core_probe(ctx.seed))
    return out


def per_layer(ctx, start_s: float, probed: dict, log_dir: str) -> tuple[dict, dict]:
    """(flat per-layer metrics, per-operation breakdown)."""
    spans = ctx.tracer.spans
    groups = {f"pb:{s['id']}": s["id"] for s in spans}
    for s in spans:
        for g in s.get("groups", []):
            groups[g] = s["id"]
    folded = eventlog.fold(log_dir, groups)
    zero = dict.fromkeys(eventlog.FIELDS, 0.0)
    ops = [s for s in spans if s.get("timed") and "plan_s" in s]

    m: dict = dict.fromkeys(metric_names(), 0.0)
    m["session.start_s"] = start_s
    m.update({k: v for k, v in probed.items() if k in m})

    def med(rows, f):
        return median([f(r) for r in rows]) if rows else 0.0

    def dur(s):
        return s["end"] - s["start"]

    if ops:
        m["op.plan_ms"] = 1000 * med(ops, lambda s: s["plan_s"])
        m["op.action_ms"] = 1000 * med(ops, lambda s: s["action_s"])
        m["op.driver_ms"] = 1000 * med(ops, lambda s: dur(s) - folded.get(s["id"], zero)["job_s"])
        for f in ("jobs", "stages", "tasks"):
            m[f"op.{f}"] = med(ops, lambda s: folded.get(s["id"], zero)[f])
        for f in SPARK_FIELDS:
            m[f"spark.{f}"] = med(ops, lambda s: folded.get(s["id"], zero)[f])

    for kind, mode in ENCODE_MODES.items():
        enc = [s for s in ops if s["kind"] == kind]
        if not enc:
            continue
        wall = med(enc, dur)
        m[f"encode.{mode}.wall_s"] = wall
        m[f"encode.{mode}.tasks"] = med(enc, lambda s: folded.get(s["id"], zero)["tasks"])
        kernel = [e["kernel_s"] for e in ctx.encodes if e["mode"] == mode]
        if kernel:
            m[f"encode.{mode}.task_kernel_s"] = median(kernel)
            m[f"encode.{mode}.kernel_share"] = median(kernel) / (wall * nproc())

    if ctx.progress:
        for ph in STREAM_PHASES:
            m[f"streaming.{ph}_ms"] = median([p["durationMs"].get(ph, 0) for p in ctx.progress])
        st = [p["stateOperators"][0] for p in ctx.progress if p.get("stateOperators")]
        if st:
            m["streaming.state_commit_ms"] = median([s["commitTimeMs"] for s in st])
            m["streaming.state_rows"] = median([s["numRowsTotal"] for s in st])

    m["trace.pass_s"] = ctx.pass_s()
    m["trace.spans"] = float(len(spans))

    breakdown: dict = {}
    for s in ops:
        b = breakdown.setdefault(s["name"], {"n": 0, "wall_s": [], "plan_ms": [],
                                             "action_ms": [], "driver_ms": [],
                                             **{f: [] for f in eventlog.FIELDS}})
        f = folded.get(s["id"], zero)
        b["n"] += 1
        b["wall_s"].append(dur(s))
        b["plan_ms"].append(1000 * s["plan_s"])
        b["action_ms"].append(1000 * s["action_s"])
        b["driver_ms"].append(1000 * (dur(s) - f["job_s"]))
        for k in eventlog.FIELDS:
            b[k].append(f[k])
    for b in breakdown.values():
        for k, v in b.items():
            if isinstance(v, list):
                b[k] = round(median(v), 6)
    return m, breakdown


def metric_names() -> list[str]:
    names = ["session.start_s"]
    for mode in ENCODE_MODES.values():
        names += [f"encode.{mode}.{f}" for f in ("wall_s", "task_kernel_s", "kernel_share", "tasks")]
    names += ["selector.profile_ms_per_block", "selector.choose_ms_per_block"]
    names += [f"selector.blocks.{c}" for c in CODECS]
    for kind in ("encode_mbps", "decode_mbps", "bytes"):
        names += [f"core.{kind}.{c}" for c, _ in CORPUS_COLUMNS]
    names += ["manifest.load_ms", "manifest.parts"]
    names += [f"op.{f}" for f in ("plan_ms", "action_ms", "driver_ms", "jobs", "stages", "tasks")]
    names += ["partread.zone_skipped_ratio"]
    names += [f"spark.{f}" for f in SPARK_FIELDS]
    names += [f"streaming.{ph}_ms" for ph in STREAM_PHASES]
    names += ["streaming.state_commit_ms", "streaming.state_rows", "trace.pass_s", "trace.spans"]
    return names


def unit_and_direction(name: str) -> tuple[str, str]:
    """Unit and better-direction of a per-layer metric, from its name."""
    if name.endswith(("_mbps",)) or ".encode_mbps." in name or ".decode_mbps." in name:
        return "MB/s", "higher"
    if name.endswith("_ms") or "_ms_" in name:
        return "ms", "lower"
    if name.endswith("_s"):
        return "s", "lower"
    if name.endswith("_mb"):
        return "MB", "lower"
    if name.startswith("core.bytes."):
        return "bytes", "lower"
    if name.endswith(("kernel_share", "zone_skipped_ratio")):
        return "ratio", "higher"
    if name.startswith("selector.blocks."):
        return "count", "lower" if name.split(".")[-1] in ("plain", "plain_int") else "higher"
    return "count", "lower"
