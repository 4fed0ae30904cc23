"""The two workloads: ``ingest`` (the write paths and the streaming
dedup) and ``query`` (an ``analytics`` phase, then a ``serve`` phase,
on one set of tables).

Each is a single-client closed loop: the next operation starts when the
previous one returned. An operation's latency covers the engine call
and the action that consumes its result; every result is then checked
outside the timed region, and a wrong result or an exception counts as
a failed operation. Each timed loop runs for the requested seconds
(each ``query`` phase for half of them) and at least until every
operation type in it has run once.

The engine is driven only through its public functions: ``encode``,
``streaming``, ``decode.scan``, ``readops``, ``partread.load_manifest``
and the ``core`` / ``stats`` / ``selector`` block calls.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import traceback
from time import perf_counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs
from harness import median, nproc, tail

SETUP_REPS = 3
BLOCK_ROWS = 16_384  # several blocks per source file at these sizes

INGEST_ROWS = 64_000
CORPUS_ROWS = 32_000  # the query workload's corpus table
SERVE_APPEND_ROWS = 5_000
SERVE_APPENDS = 6
SERVE_APPEND_EVERY = 4
SERVE_LOOKUP_IDS = 32
ANALYTICS_ORDERS = 8_000
ANALYTICS_EVENTS = 16_000
STREAM_ROWS = 8_000  # documents, over STREAM_BATCHES batches
STREAM_BATCHES = 4


class Ctx:
    """State of one run: session, tracer, seeded RNG and the samples."""

    def __init__(self, spark, dirs, tracer, name: str, seed: int, seconds: float) -> None:
        self.spark = spark
        self.dirs = dirs
        self.tracer = tracer
        self.name = name
        self.seed = seed
        self.seconds = seconds
        self.rng = np.random.default_rng(seed)
        self.files = 2 * nproc()
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.setup_reps: list[float] = []
        self.detail: dict = {}
        self.stored = [0, 0]  # (stored bytes, raw bytes) of what the run wrote
        self.main_table: str | None = None
        self.progress: list[dict] = []  # streaming query progress, every trigger
        self.encodes: list[dict] = []  # per encode op: mode, Σ task kernel seconds
        self.in_loop = False
        self.loop_s = 0.0

    # ------------------------------------------------------------ ops

    def op(self, kind: str, family: str, plan, action=None, check=None, record=True):
        """Run one operation: ``plan()`` (the engine call, returns a
        DataFrame or a started query) then ``action(result)``; time
        both, then ``check(value)`` untimed. Returns the value, or None
        when the operation failed."""
        self.attempted += 1
        with self.tracer.span(f"{family}.{kind}", kind=kind, family=family,
                              timed=self.in_loop) as rec:
            try:
                t0 = perf_counter()
                res = plan()
                t1 = perf_counter()
                value = action(res) if action is not None else res
                t2 = perf_counter()
            except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
                return None
            rec["plan_s"], rec["action_s"] = t1 - t0, t2 - t1
        ok = True
        if check is not None:
            try:
                ok = bool(check(value))
            except Exception:  # noqa: BLE001 - a check that raises is a failed check
                traceback.print_exc(file=sys.stderr)
                ok = False
        if not ok:
            print(f"check failed: {self.name} {kind}", file=sys.stderr)
            self.failed += 1
            return None
        if record:
            self.lat.setdefault(kind, []).append(t2 - t0)
        return value

    def timed_loop(self, kinds: list[str], seconds: float):
        """Yield 0, 1, 2, ... for ``seconds`` and until every kind has a
        sample (once an operation has failed, for ``seconds`` only: a
        kind that keeps failing never gets one); operations run
        meanwhile are the timed ones."""
        start = perf_counter()
        self.in_loop = True
        i = 0
        try:
            while perf_counter() - start < seconds or (
                    not self.failed and any(not self.lat.get(k) for k in kinds)):
                yield i
                i += 1
        finally:
            self.in_loop = False
            self.loop_s += perf_counter() - start

    def setup(self, prepare) -> None:
        """Run ``prepare(rep)`` SETUP_REPS times, timing each."""
        for rep in range(SETUP_REPS):
            with self.tracer.span("setup", rep=rep):
                t0 = perf_counter()
                prepare(rep)
                self.setup_reps.append(perf_counter() - t0)

    # ------------------------------------------------------------ summary

    def pass_s(self) -> float:
        """Σ over operation types of that type's median latency."""
        return sum(median(v) for v in self.lat.values())

    def per_kind(self) -> dict:
        out = {}
        for k, v in self.lat.items():
            t, pct = tail(v)
            out[k] = {"n": len(v), "p50_s": median(v), "tail_s": t, "tail_pct": pct,
                      "samples_s": v}
        return out


def _encoded_totals(table: str) -> tuple[int, int, float]:
    """(raw bytes, encoded bytes, Σ task encode seconds) from a manifest."""
    t = pq.read_table(os.path.join(table, "manifest"),
                      columns=["raw_bytes", "encoded_bytes", "encode_seconds"])
    return (int(pc.sum(t.column("raw_bytes")).as_py() or 0),
            int(pc.sum(t.column("encoded_bytes")).as_py() or 0),
            float(pc.sum(t.column("encode_seconds")).as_py() or 0.0))


def _digest(df):
    """(rows, Σ xxhash64 over every column) — a multiset digest that
    changes if any byte of any row changes."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")).collect()[0]
    return int(r["n"]), int(r["s"] or 0)


def _close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-6)


# ================================================================ ingest

def ingest(ctx: Ctx) -> None:
    """The write paths, in turn: a bulk encode of the seeded corpus in
    files mode, the same in salted shuffle mode (each into a fresh
    directory with resume off), and a replay of the stateful streaming
    dedup over four document batches."""
    from arcade_spark.encode import encode_files_job, encode_job

    spark = ctx.spark
    src = inputs.corpus_files(ctx.dirs.inputs, ctx.seed, INGEST_ROWS, ctx.files)
    first_file = ctx.dirs.path("ingest-first")
    shutil.copyfile(os.path.join(src, sorted(f for f in os.listdir(src) if f.endswith(".parquet"))[0]),
                    os.path.join(first_file, "part.parquet"))

    # set-up: the session plus a warm encode of one source file
    ctx.setup(lambda rep: encode_files_job(
        spark, first_file, ctx.dirs.fresh("warm"), block_rows=BLOCK_ROWS, resume=False))
    # warm-up, untimed: the shuffle-mode path on the same file, and the
    # streaming dedup on one batch
    encode_job(spark, spark.read.parquet(first_file), ctx.dirs.fresh("warm"),
               num_parts=ctx.files, block_rows=BLOCK_ROWS, resume=False)
    dedup = _DedupReplays(ctx)
    dedup.warm()

    last: dict[str, str] = {}

    def encode(mode: str):
        out = ctx.dirs.fresh(f"enc-{mode}")
        if mode == "files":
            m = encode_files_job(spark, src, out, block_rows=BLOCK_ROWS, resume=False)
        else:
            m = encode_job(spark, spark.read.parquet(src), out, num_parts=ctx.files,
                           block_rows=BLOCK_ROWS, resume=False)
        m["out"] = out
        return m

    kinds = ["files", "shuffle", "trigger"]
    for i in ctx.timed_loop(kinds, ctx.seconds):
        mode = kinds[i % 3]
        if mode == "trigger":
            dedup.replay()
            continue
        m = ctx.op(mode, "ingest", lambda: encode(mode),
                   check=lambda m: m["rows"] == INGEST_ROWS and m["new_parts"] > 0)
        if m is None:
            continue
        ctx.encodes.append({"mode": mode, "kernel_s": m["kernel_seconds"]})
        if mode in last:
            shutil.rmtree(last[mode], ignore_errors=True)
        last[mode] = m["out"]
        ctx.detail.setdefault("raw_mb", m["raw_bytes"] / 1e6)
        ctx.detail["compression_ratio" + ("" if mode == "files" else "_shuffle")] = m["ratio"]

    # lossless check, once per mode, outside the timed loop: decoded
    # rows hash identically to the source rows
    from arcade_spark.decode import scan

    want = _digest(spark.read.parquet(src))
    for mode, out in last.items():
        ctx.attempted += 1
        got = _digest(scan(spark, out))
        if got != want:
            print(f"check failed: ingest {mode} decode differs from source", file=sys.stderr)
            ctx.failed += 1
    raw_mb = ctx.detail.get("raw_mb", 0.0)
    if ctx.lat.get("files"):
        ctx.detail["encode_mbps"] = raw_mb / median(ctx.lat["files"])
    if ctx.lat.get("shuffle"):
        ctx.detail["encode_shuffle_mbps"] = raw_mb / median(ctx.lat["shuffle"])
    if ctx.lat.get("trigger"):
        ctx.detail["trigger_p50_s"] = median(ctx.lat["trigger"])
        ctx.detail["trigger_tail_s"], ctx.detail["trigger_tail_pct"] = tail(ctx.lat["trigger"])
    if "files" in last:
        ctx.main_table = last["files"]
        raw, enc, _ = _encoded_totals(last["files"])
        ctx.stored = [enc, raw]


# ================================================================ query

def query(ctx: Ctx) -> None:
    """Set-up encodes a corpus table and TPC-H-shaped tables. The
    ``analytics`` phase then reads them as encoded; the ``serve`` phase
    after it treats the corpus table as live, appending to it between
    its reads. One run pays the session start and cold set-up once for
    both phases, which is what lets the benchmark's run budget afford a
    warm-up pass of every analytics operation."""
    from arcade_spark.encode import encode_files_job

    spark = ctx.spark
    corpus, appends = inputs.serve_inputs(ctx.dirs.inputs, ctx.seed, CORPUS_ROWS, ctx.files,
                                          SERVE_APPEND_ROWS, SERVE_APPENDS)
    srcs = {"corpus": corpus}
    srcs.update(inputs.tpch_tables(ctx.dirs.inputs, ctx.seed, ANALYTICS_ORDERS,
                                   ANALYTICS_EVENTS, nproc()))
    sets: list[dict] = []

    def prepare(rep):
        out = ctx.dirs.fresh("tables")
        for name, path in srcs.items():
            encode_files_job(spark, path, os.path.join(out, name),
                             block_rows=BLOCK_ROWS, resume=False)
        sets.append({name: os.path.join(out, name) for name in srcs})

    ctx.setup(prepare)
    tables = sets[-1]
    for old in sets[:-1]:
        shutil.rmtree(os.path.dirname(old["corpus"]), ignore_errors=True)
    ctx.main_table = tables["corpus"]

    _analytics(ctx, srcs, tables)
    _serve(ctx, corpus, appends, tables["corpus"])
    raw_enc = [_encoded_totals(p)[:2] for p in tables.values()]
    ctx.stored = [sum(e for _, e in raw_enc), sum(r for r, _ in raw_enc)]


def _serve(ctx: Ctx, src: str, appends: list[str], table: str) -> None:
    """One client on a live table: selective equality filters with a
    projection and random-access batches, with a new source file
    appended through ``encode_stream`` every few operations."""
    from arcade_spark.corpus import CORPUS_SPARK_SCHEMA, LANGS
    from arcade_spark.readops import equi_filter, random_access, table_count
    from arcade_spark.streaming import encode_stream

    spark = ctx.spark

    # expectations over the source plus every committed append
    cols = ["url", "text", "lang"]
    base = pa.concat_tables(
        pq.read_table(os.path.join(src, f), columns=cols)
        for f in sorted(os.listdir(src)) if f.endswith(".parquet"))
    exp = {"table": base, "rows": base.num_rows}
    by_url: dict[str, tuple] = {}

    def index(t: pa.Table) -> None:
        for u, x, lg in zip(t.column("url").to_pylist(), t.column("text").to_pylist(),
                            t.column("lang").to_pylist()):
            by_url[u] = (x, lg)

    index(base)
    base_urls = base.column("url")
    selective = LANGS[4:]
    want_filter: dict[str, list[str]] = {}

    def expected_urls(lang: str) -> list[str]:
        if lang not in want_filter:
            t = exp["table"]
            want_filter[lang] = sorted(t.filter(pc.equal(t.column("lang"), lang))
                                       .column("url").to_pylist())
        return want_filter[lang]

    def check_filter(lang):
        return lambda t: sorted(t.column("url").to_pylist()) == expected_urls(lang)

    def check_lookup(ids):
        def check(t: pa.Table) -> bool:
            if sorted(t.column("row_id").to_pylist()) != sorted(ids):
                return False
            for rid, u, x, lg in zip(*(t.column(c).to_pylist() for c in ("row_id", *cols))):
                if by_url.get(u) != (x, lg):
                    return False
                if rid < CORPUS_ROWS and base_urls[rid].as_py() != u:
                    return False
            return True
        return check

    stream_in = ctx.dirs.path("serve-stream-in")
    ckpt = ctx.dirs.fresh("serve-ckpt")
    landed = {"n": 0, "kernel_s": _encoded_totals(table)[2]}

    def append():
        k = landed["n"]
        inputs.land(appends[k], stream_in, k)
        landed["n"] += 1
        return encode_stream(spark, stream_in, table, ckpt, CORPUS_SPARK_SCHEMA,
                             parts_per_batch=2, block_rows=BLOCK_ROWS)

    def finish_append(q):
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        ctx.progress.extend(q.recentProgress)
        if ctx.tracer.enabled:
            ctx.tracer.spans[-1]["groups"] = [str(q.runId)]
        return q

    def check_append(q) -> bool:
        kernel = _encoded_totals(table)[2]
        ctx.encodes.append({"mode": "stream", "kernel_s": kernel - landed["kernel_s"]})
        landed["kernel_s"] = kernel
        t = pq.read_table(appends[landed["n"] - 1], columns=cols)
        exp["table"] = pa.concat_tables([exp["table"], t])
        exp["rows"] += t.num_rows
        want_filter.clear()
        index(t)
        return table_count(spark, table).collect()[0]["cnt"] == exp["rows"]

    def lookup_ids() -> list[int]:
        return sorted(set(ctx.rng.integers(0, exp["rows"], SERVE_LOOKUP_IDS).tolist()))

    # warm-up, untimed: one append (the reads run warm after the
    # analytics phase)
    ctx.op("append", "serve", append, finish_append, check_append, record=False)

    for i in ctx.timed_loop(["filter", "lookup", "append"], ctx.seconds / 2):
        if ((i + 1) % SERVE_APPEND_EVERY == 0
                or (not ctx.lat.get("append") and i >= SERVE_APPEND_EVERY)) \
                and landed["n"] < len(appends):
            ctx.op("append", "serve", append, finish_append, check_append)
        elif ctx.rng.random() < 0.5:
            lang = str(ctx.rng.choice(selective))
            ctx.op("filter", "serve",
                   lambda: equi_filter(spark, table, "lang", lang, project=["url"]),
                   lambda df: df.toArrow(), check_filter(lang))
        else:
            ids = lookup_ids()
            ctx.op("lookup", "serve", lambda: random_access(spark, table, ids, project=cols),
                   lambda df: df.toArrow(), check_lookup(ids))

    reads = ctx.lat.get("filter", []) + ctx.lat.get("lookup", [])
    for k in ("filter", "lookup", "append"):
        if ctx.lat.get(k):
            ctx.detail[f"{k}_p50_s"] = median(ctx.lat[k])
    if reads:
        ctx.detail["read_tail_s"], ctx.detail["read_tail_pct"] = tail(reads)
    ctx.detail["appends"] = landed["n"]


# ================================================================ analytics

def _analytics_ops(spark, t: dict, probe: dict):
    """(kind, family, plan, summary) per operation; ``summary`` turns
    the DataFrame into the compared value. Most summaries aggregate
    per-column checksums over every output row, so each row is produced
    and checked without being collected."""
    import datetime as dt

    from pyspark.sql import functions as F

    from arcade_spark.decode import scan
    from arcade_spark.readops import (
        filter_contains, filter_group_by_multi, filter_like, filter_sample,
        join_asof, join_encoded, join_group_by, rolling_agg,
    )

    L = F.length
    ev0 = 1_704_067_200_000_000

    def observed(*aggs):
        def run(df):
            r = df.agg(F.count(F.lit(1)).alias("n"), *aggs).collect()[0].asDict()
            return {k: (float(v) if v is not None else 0.0) for k, v in r.items()}
        return run

    def rows(key):
        def run(df):
            return {tuple(r[k] for k in key): r.asDict() for r in df.collect()}
        return run

    utc = dt.timezone.utc
    q1_cut = (dt.datetime(1990, 1, 1, tzinfo=utc), dt.datetime(1997, 6, 1, tzinfo=utc))
    price, omd, opt = ("l_extendedprice", 1, 0), ("l_discount", -1, 100), ("l_tax", 1, 100)
    c, li, od, ev = t["corpus"], t["lineitem"], t["orders"], t["events"]
    return [
        ("scan", "scan", lambda: scan(spark, c),
         observed(F.sum(L("url")).alias("url_len"), F.sum(L("text")).alias("text_len"),
                  F.sum(L("html")).alias("html_len"),
                  F.sum(F.unix_seconds(F.col("warc_ts").cast("timestamp"))).alias("ts_sum"))),
        ("filter_contains", "filter",
         lambda: filter_contains(spark, c, "text", probe["word"], project=["url"]),
         observed(F.sum(L("url")).alias("url_len"))),
        ("filter_sample", "filter",
         lambda: filter_sample(spark, c, "url", 3, 10, project=["html"]),
         observed(F.sum(L("html")).alias("html_len"))),
        ("filter_like", "filter",
         lambda: filter_like(spark, c, "url", probe["like"], project=["url"]),
         observed(F.sum(L("url")).alias("url_len"))),
        ("q1", "agg", lambda: filter_group_by_multi(
            spark, li, [("range", "l_shipdate", *q1_cut)], ["l_returnflag", "l_linestatus"],
            [("sum_qty", "sum", "l_quantity"), ("sum_base_price", "sum", "l_extendedprice"),
             ("sum_disc_price", "sumprod", [price, omd]),
             ("sum_charge", "sumprod", [price, omd, opt]),
             ("avg_qty", "avg", "l_quantity"), ("avg_price", "avg", "l_extendedprice"),
             ("avg_disc", "avg", "l_discount"), ("count_order", "count", None)]),
         rows(["l_returnflag", "l_linestatus"])),
        ("q3", "agg", lambda: join_group_by(
            spark, li, od, "l_orderkey",
            [("revenue", "sumprod", [price, omd]), ("sum_qty", "sum", "l_quantity"),
             ("cnt", "count", None)],
            key_b="o_orderkey", group_b=["o_orderpriority"],
            preds_a=[("range", "l_shipdate", dt.datetime(1995, 3, 15, tzinfo=utc),
                      dt.datetime(1999, 1, 1, tzinfo=utc))],
            preds_b=[("range", "o_orderdate", dt.datetime(1990, 1, 1, tzinfo=utc),
                      dt.datetime(1995, 3, 15, tzinfo=utc))]),
         rows(["o_orderpriority"])),
        ("join_encoded", "keyed", lambda: join_encoded(
            spark, li, od, "l_orderkey", "o_orderkey",
            project_a=["l_linenumber", "l_quantity"], project_b=["o_orderpriority"],
            preds_b=[("eq", "o_orderpriority", "1-URGENT")]),
         observed(F.sum("l_linenumber").alias("ln"), F.sum("l_quantity").alias("qty"))),
        ("join_asof", "keyed", lambda: join_asof(
            spark, ev, ev, "ts", "user_id", project_b=["value"],
            preds_a=[("eq", "event_type", "error")], preds_b=[("eq", "event_type", "click")]),
         observed(F.sum("value").alias("value_sum"),
                  F.sum(F.unix_micros(F.col("ts_b").cast("timestamp")) - F.lit(ev0))
                  .alias("ts_sum"))),
        ("rolling_agg", "keyed",
         lambda: rolling_agg(spark, ev, "user_id", "ts", window=1_800_000_000),
         observed(F.sum("w_count").alias("w"))),
    ]


def _analytics_expected(srcs: dict, probe: dict) -> dict:
    """The same summaries from DuckDB over the source parquet."""
    import duckdb

    con = duckdb.connect()
    try:
        for name, path in srcs.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{path}/*.parquet')")

        def one(sql):
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            return {k: float(v or 0) for k, v in zip(names, cur.fetchone())}

        def keyed(sql, nkey):
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            return {tuple(r[:nkey]): dict(zip(names, r)) for r in cur.fetchall()}

        ev0 = 1_704_067_200_000_000
        q = "CAST(floor({}*100 + 0.5) AS BIGINT)"
        qq, qp, qd, qt = (q.format(x) for x in ("l_quantity", "l_extendedprice",
                                                  "l_discount", "l_tax"))
        return {
            "scan": one("SELECT count(*) n, sum(length(url)) url_len, sum(length(text)) text_len, "
                        "sum(octet_length(html)) html_len, "
                        "sum(CAST(epoch(warc_ts) AS BIGINT)) ts_sum "
                        "FROM corpus"),
            "filter_contains": one("SELECT count(*) n, sum(length(url)) url_len FROM corpus "
                                   f"WHERE contains(text, '{probe['word']}')"),
            "filter_sample": one(
                "SELECT count(*) n, sum(octet_length(html)) html_len FROM corpus WHERE "
                "CAST(concat('0x', substr(md5(url), 1, 15)) AS BIGINT) % 10 < 3"),
            "filter_like": one("SELECT count(*) n, sum(length(url)) url_len FROM corpus "
                               f"WHERE url LIKE '{probe['like']}'"),
            "q1": keyed(
                f"WITH q AS (SELECT l_returnflag, l_linestatus, {qq} qq, {qp} qp, {qd} qd, "
                f"{qt} qt FROM lineitem WHERE l_shipdate BETWEEN TIMESTAMP '1990-01-01' "
                "AND TIMESTAMP '1997-06-01') SELECT l_returnflag, l_linestatus, "
                "CAST(sum(qq) AS DOUBLE)/100 sum_qty, CAST(sum(qp) AS DOUBLE)/100 sum_base_price, "
                "CAST(sum(qp*(100-qd)) AS DOUBLE)/10000 sum_disc_price, "
                "CAST(sum(qp*(100-qd)*(100+qt)) AS DOUBLE)/1000000 sum_charge, "
                "(CAST(sum(qq) AS DOUBLE)/100)/count(qq) avg_qty, "
                "(CAST(sum(qp) AS DOUBLE)/100)/count(qp) avg_price, "
                "(CAST(sum(qd) AS DOUBLE)/100)/count(qd) avg_disc, count(*) count_order "
                "FROM q GROUP BY ALL", 2),
            "q3": keyed(
                f"SELECT o_orderpriority, CAST(sum({qp}*(100-{qd})) AS DOUBLE)/10000 revenue, "
                f"CAST(sum({qq}) AS DOUBLE)/100 sum_qty, count(*) cnt "
                "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
                "WHERE l_shipdate BETWEEN TIMESTAMP '1995-03-15' AND TIMESTAMP '1999-01-01' "
                "AND o_orderdate BETWEEN TIMESTAMP '1990-01-01' AND TIMESTAMP '1995-03-15' "
                "GROUP BY ALL", 1),
            "join_encoded": one(
                "SELECT count(*) n, sum(l_linenumber) ln, sum(l_quantity) qty "
                "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
                "WHERE o_orderpriority = '1-URGENT'"),
            "join_asof": one(
                f"SELECT count(*) n, sum(b.value) value_sum, sum(epoch_us(b.ts) - {ev0}) ts_sum "
                "FROM (SELECT * FROM events WHERE event_type = 'error') a "
                "ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') b "
                "ON a.user_id = b.user_id AND a.ts >= b.ts"),
            "rolling_agg": one(
                "SELECT count(*) n, sum(w) w FROM (SELECT count(*) OVER (PARTITION BY user_id "
                "ORDER BY ts RANGE BETWEEN INTERVAL '1800 seconds' PRECEDING AND CURRENT ROW) w "
                "FROM events)"),
        }
    finally:
        con.close()


def _same(got, want) -> bool:
    if isinstance(want, dict) and want and isinstance(next(iter(want.values())), dict):
        if set(got) != set(want):
            return False
        return all(_close(got[k][c], v) if isinstance(v, float) else got[k][c] == v
                   for k in want for c, v in want[k].items())
    return set(got) == set(want) and all(_close(got[k], want[k]) for k in want)


def _analytics(ctx: Ctx, srcs: dict, t: dict) -> None:
    """Decode- and shuffle-heavy reads: a full scan, decode-on-predicate
    filters, fused aggregates and keyed-pipeline operators over the
    tables encoded in set-up."""
    from arcade_spark.readops import release_key_caches

    spark = ctx.spark
    first = sorted(f for f in os.listdir(srcs["corpus"]) if f.endswith(".parquet"))[0]
    text = pq.read_table(os.path.join(srcs["corpus"], first), columns=["text"]).column("text")
    words = text[int(ctx.rng.integers(0, len(text)))].as_py().split()
    probe = {"word": words[int(ctx.rng.integers(0, len(words)))][:5],
             "like": f"https://www_.site-{int(ctx.rng.integers(1, 10))}_.%"}
    want = _analytics_expected(srcs, probe)
    ops = _analytics_ops(spark, t, probe)
    families = {kind: family for kind, family, *_ in ops}

    def run(i: int, record: bool = True) -> None:
        kind, family, plan, summary = ops[i % len(ops)]
        ctx.op(kind, f"analytics.{family}", plan, summary,
               lambda got: _same(got, want[kind]), record=record)
        release_key_caches()

    # warm-up, untimed: the first run of each operation pays for code
    # generation and worker imports, up to twice its warm latency
    for i in range(len(ops)):
        run(i, record=False)

    for i in ctx.timed_loop(list(families), ctx.seconds / 2):
        run(i)

    per = {k: median(ctx.lat[k]) for k in families if ctx.lat.get(k)}
    for fam in ("filter", "agg", "keyed"):
        ctx.detail[f"analytics_{fam}_s"] = sum(v for k, v in per.items() if families[k] == fam)
    if "scan" in per:
        raw, _, _ = _encoded_totals(t["corpus"])
        ctx.detail["scan_mbps"] = raw / 1e6 / per["scan"]


# ================================================================ streaming dedup

class _DedupReplays:
    """Replays of the stateful ``dedup_stream`` over mtime-ordered
    document batches, each replay with a fresh sink and checkpoint."""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.batches = inputs.document_batches(ctx.dirs.inputs, ctx.seed, STREAM_ROWS,
                                               STREAM_BATCHES)
        self.in_dir = ctx.dirs.path("stream-in")
        for k, b in enumerate(self.batches):
            inputs.land(b, self.in_dir, k)
        texts = pa.concat_tables(pq.read_table(b, columns=["text"]) for b in self.batches)
        self.want = pc.count_distinct(texts.column("text")).as_py()

    def _start(self, src_dir: str):
        from arcade_spark.streaming import dedup_stream

        run = self.ctx.dirs.fresh("replay")
        q = dedup_stream(self.ctx.spark, src_dir, os.path.join(run, "out"),
                         os.path.join(run, "ckpt"), "doc_id long, text string", buckets=8)
        return q, run

    @staticmethod
    def _finish(qr):
        q, run = qr
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q, run

    def _emitted(self, run: str) -> int:
        return self.ctx.spark.read.parquet(os.path.join(run, "out")).count()

    def warm(self) -> None:
        """One untimed replay over the first batch only."""
        d = self.ctx.dirs.path("stream-warm-in")
        inputs.land(self.batches[0], d, 0)
        res = self.ctx.op("replay", "ingest.stream", lambda: self._start(d), self._finish,
                          record=False)
        if res is not None:
            shutil.rmtree(res[1], ignore_errors=True)

    def replay(self) -> None:
        """One timed replay; each trigger's latency is a ``trigger`` sample."""
        ctx = self.ctx
        res = ctx.op("replay", "ingest.stream", lambda: self._start(self.in_dir), self._finish,
                     lambda qr: self._emitted(qr[1]) == self.want, record=False)
        if res is None:
            return
        q, run = res
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        ctx.progress.extend(progress)
        if ctx.tracer.enabled:
            ctx.tracer.spans[-1]["groups"] = [str(q.runId)]
        for p in progress:
            ctx.lat.setdefault("trigger", []).append(p["durationMs"]["triggerExecution"] / 1000.0)
        shutil.rmtree(run, ignore_errors=True)


WORKLOADS = {"ingest": ingest, "query": query}
