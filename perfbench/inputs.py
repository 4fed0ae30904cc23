"""Seeded benchmark inputs.

Every input is a pure function of (seed, size): the Common-Crawl-style
corpus comes from ``arcade_spark.corpus`` (Zipf host/lang skew, ~2 %
duplicate texts); the TPC-H-shaped ``lineitem`` / ``orders`` and the
``events`` table come from a seeded NumPy generator here. Inputs are
written as parquet under the shared input cache, keyed by what
generated them, and only the few newest keys are kept.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_KEEP = 6  # newest input sets kept in the cache
_EPOCH_1990_US = 631_152_000_000_000
_DAY_US = 86_400_000_000
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "error", "purchase"]


def _cached(cache_root: str, key: str, build) -> str:
    """Directory ``cache_root/key`` filled by ``build(tmp_dir)`` once."""
    path = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(path, "_DONE")):
        os.utime(path)
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    _evict(cache_root)
    return path


def _evict(cache_root: str) -> None:
    entries = [
        os.path.join(cache_root, d) for d in os.listdir(cache_root)
        if os.path.exists(os.path.join(cache_root, d, "_DONE"))
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)


def _write_split(table: pa.Table, out_dir: str, n_files: int, stem: str) -> None:
    """Contiguous row ranges, one parquet file each (files-mode layout)."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * per, per),
                       os.path.join(out_dir, f"{stem}-{i:05d}.parquet"))


def corpus_files(cache_root: str, seed: int, rows: int, files: int) -> str:
    """``files`` parquet files holding corpus rows [0, rows)."""
    from arcade_spark.corpus import write_corpus_files

    def build(tmp):
        write_corpus_files(os.path.join(tmp, "src"), rows, files, seed=seed)

    return os.path.join(_cached(cache_root, f"corpus-s{seed}-r{rows}-f{files}", build), "src")


def corpus_rows(seed: int, start: int, n: int) -> pa.Table:
    """Corpus rows [start, start + n) as an Arrow table."""
    from arcade_spark.corpus import CORPUS_SCHEMA, corpus_pandas

    return pa.Table.from_pandas(
        corpus_pandas(n, seed=seed, start=start), schema=CORPUS_SCHEMA, preserve_index=False
    )


def serve_inputs(cache_root: str, seed: int, rows: int, files: int,
                 append_rows: int, appends: int) -> tuple[str, list[str]]:
    """Base corpus files plus ``appends`` later files of ``append_rows``
    rows each (rows beyond the base range, so urls stay unique)."""
    base = corpus_files(cache_root, seed, rows, files)

    def build(tmp):
        for k in range(appends):
            t = corpus_rows(seed, rows + k * append_rows, append_rows)
            pq.write_table(t, os.path.join(tmp, f"append-{k:03d}.parquet"))

    adir = _cached(cache_root, f"appends-s{seed}-r{rows}-a{append_rows}x{appends}", build)
    return base, [os.path.join(adir, f"append-{k:03d}.parquet") for k in range(appends)]


def tpch_tables(cache_root: str, seed: int, orders: int, events: int, files: int) -> dict[str, str]:
    """``lineitem`` (1-7 lines per order, unique (orderkey, linenumber)),
    ``orders`` and ``events`` (strictly increasing ``ts``), each a
    directory of ``files`` parquet files."""

    def build(tmp):
        rng = np.random.default_rng(seed)
        okey = np.arange(orders, dtype=np.int64)
        odate = _EPOCH_1990_US + rng.integers(0, 3300, orders) * _DAY_US
        ot = pa.table({
            "o_orderkey": okey,
            "o_custkey": rng.integers(0, max(orders // 10, 1), orders),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"], dtype=object), orders),
            "o_totalprice": np.round(rng.uniform(900, 500_000, orders), 2),
            "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
            "o_orderpriority": rng.choice(np.array(PRIORITIES, dtype=object), orders),
        })
        n_lines = rng.integers(1, 8, orders)
        l_okey = np.repeat(okey, n_lines)
        starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
        l_num = (np.arange(len(l_okey)) - starts + 1).astype(np.int32)
        n = len(l_okey)
        qty = rng.integers(1, 51, n).astype(np.float64)
        ship = np.repeat(odate, n_lines) + rng.integers(1, 122, n) * _DAY_US
        perm = rng.permutation(n)  # lineitem arrives unordered
        lt = pa.table({
            "l_orderkey": l_okey,
            "l_partkey": rng.integers(0, 20_000, n),
            "l_suppkey": rng.integers(0, 1_000, n),
            "l_linenumber": l_num,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2_000, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"], dtype=object), n),
            "l_linestatus": rng.choice(np.array(["F", "O"], dtype=object), n),
            "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
        }).take(pa.array(perm))
        gaps = rng.integers(1, 400_000_000, events)
        et = pa.table({
            "event_id": np.arange(events, dtype=np.int64),
            "ts": pa.array(1_704_067_200_000_000 + np.cumsum(gaps), type=pa.timestamp("us")),
            "user_id": rng.integers(0, max(events // 50, 1), events),
            "event_type": rng.choice(np.array(EVENT_TYPES, dtype=object), events,
                                     p=[0.5, 0.3, 0.15, 0.05]),
            "value": np.round(rng.uniform(0, 50, events), 2),
        })
        for name, t in (("lineitem", lt), ("orders", ot), ("events", et)):
            _write_split(t, os.path.join(tmp, name), files, name)

    root = _cached(cache_root, f"tpch-s{seed}-o{orders}-e{events}-f{files}", build)
    return {name: os.path.join(root, name) for name in ("lineitem", "orders", "events")}


def document_batches(cache_root: str, seed: int, rows: int, batches: int) -> list[str]:
    """``batches`` parquet files of (doc_id, text) from corpus rows
    [0, rows), batch k holding doc_id % batches == k. Texts repeat
    within and across batches (the corpus's ~2 % exact duplicates)."""

    def build(tmp):
        t = corpus_rows(seed, 0, rows)
        doc_id = pa.array(np.arange(rows, dtype=np.int64))
        text = t.column("text")
        for k in range(batches):
            sel = pa.array(np.arange(k, rows, batches))
            pq.write_table(pa.table({"doc_id": doc_id.take(sel), "text": text.take(sel)}),
                           os.path.join(tmp, f"batch{k:02d}.parquet"))

    root = _cached(cache_root, f"docs-s{seed}-r{rows}-b{batches}", build)
    return [os.path.join(root, f"batch{k:02d}.parquet") for k in range(batches)]


def land(src: str, dest_dir: str, order: int) -> str:
    """Copy ``src`` into a streaming input dir with a fixed, ordered
    mtime (file sources pick files up in mtime order)."""
    dest = os.path.join(dest_dir, os.path.basename(src))
    shutil.copyfile(src, dest)
    stamp = 1_700_000_000 + order
    os.utime(dest, (stamp, stamp))
    return dest

