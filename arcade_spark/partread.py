"""The read path: per-partition tasks reading their own encoded column
files with pyarrow IN-PROCESS — the read-side mirror of
``encode_files_job`` (the 100 TB fast path).

The encoded table is one parquet file per (partition, column)
(manifest.PartWriter), so every read operator is expressed as "each
task owns one partition's files":

    driver: manifest read (tiny) → part id list
      → spark.range + literal part-id array    [contiguous slices, no
                                                balls-in-bins, no Python]
      → mapInArrow(part kernel)                [pyarrow reads, numpy prune]

No blob bytes cross the JVM→Python boundary (measured on this class of
workload, that Arrow IPC alone costs ~13 ns/byte/core — 3× the decode
kernels). Scan, filter and random access run with zero shuffle.

Every kernel reads a column file through one reader, ``_ColFile``:

- its chunk metadata (a few KB — parquet column pruning reads no
  payload bytes) is read once per handle, and zone pruning runs in
  numpy over it;
- ``_ColFile.blocks(touched)`` walks the blocks in order up to the
  last touched one, one row group at a time, with one parquet read per
  row group. The fetch rule: ``blob`` only for touched blocks (filter
  MATCHES, looked-up rows, zone survivors), ``seg`` for str/binary
  blocks that are touched or carry running-dictionary state, nothing
  for a row group that needs neither. An untouched block yields a
  ``None`` blob, and a string consumer replays its segment;
- multi-column kernels walk their columns in lockstep
  (``_lockstep``) and decode through ``_decode_at``.

At cluster scale the same shape holds: Spark distributes part ids with
retries/locality, tasks read their own files from shared storage
(pyarrow.fs handles s3://..., hdfs://...), and no row data ever crosses
the JVM.

Reference parity: ``_ColFile.blocks`` IS ArcadeReader's single-file
loop (reader.cpp:7-195) — zone prune (process.cpp:256-273), previndex
segment replay (process.cpp:88-123), late materialization
(process.cpp:4-180) — distributed by partition.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession, functions as F

from arcade_spark.manifest import FORMAT_REV, blocks_path

# chunk-metadata columns (everything but blob/seg): reading these per
# column file touches KB, not payload bytes
_META_COLS = [
    "block_id", "codec", "post", "n_values", "row_start", "code_width",
    "global_start", "gdict_reset", "gdict_seed", "min_bin", "max_bin",
    "min_exact", "max_exact", "min_int", "max_int", "n_nulls",
]


# aggregate-column lanes ------------------------------------------------
#
# Integer-family columns aggregate natively (int64 partial sums are
# exact in any order — the original cross-engine contract). double/
# float agg columns aggregate in a FIXED-POINT domain: each value maps
# to q(x) = floor(x·scale + 0.5) (one IEEE multiply, one add, one floor
# — bit-identical in Spark, numpy, and DuckDB), q sums/mins/maxes
# exactly as int64 (q is monotone, so min/max commute with it), and the
# single output division q/scale is one correctly-rounded IEEE op. For
# fixed-decimal data (money at scale=100 — the TPC-H Q1 shape) this IS
# the exact DECIMAL answer; data with more precision than the scale is
# aggregated at scale precision BY CONTRACT. Non-finite values or
# |x·scale| ≥ 2^62 raise rather than overflow silently.
AGG_SCALE = 100
_AGG_VTS = ("int", "i32", "i16", "i8", "double", "float")
_AGG_GUARD = (
    "aggregates accept integer-family and double/float columns only "
    "(doubles use the fixed-point contract, see partread.AGG_SCALE; "
    "ts/date/bool sums are meaningless)"
)


def quantized_agg_lane(
    values: np.ndarray, validity: np.ndarray | None, avt: str,
    scale: int = AGG_SCALE,
) -> np.ndarray:
    """int64 aggregate lane for one decoded block: identity for the
    integer family; fixed-point floor(x·scale + 0.5) for double/float.
    Invalid slots are zeroed first so masked-out junk can't poison the
    finiteness check."""
    if avt not in ("double", "float"):
        return values
    f = values.view(np.float64)
    if validity is not None:
        f = f.copy()
        f[~validity] = 0.0
    qf = np.floor(f * float(scale) + 0.5)
    if not np.isfinite(qf).all() or (np.abs(qf) >= 2.0 ** 62).any():
        raise ValueError(
            f"double aggregate overflow/non-finite at scale {scale}: the "
            "fixed-point contract requires finite values with |x*scale| < 2^62"
        )
    return qf.astype(np.int64)


def load_manifest(out_dir: str) -> tuple[list[tuple[str, str]], list[tuple[int, int]]]:
    """((name, vtype) list, [(part_id, n_rows)] sorted) from the manifest
    directory — driver-side pyarrow, no Spark job, no cache (a table
    path may be rewritten within a session). Rejects any part whose
    FORMAT_REV differs from this reader's."""
    mdir = os.path.join(out_dir, "manifest")
    t = pq.read_table(mdir, columns=["part_id", "n_rows", "columns", "format_rev"])
    revs = set(t.column("format_rev").to_pylist())
    bad = revs - {FORMAT_REV}
    if bad or not revs:
        raise ValueError(
            f"{out_dir}: manifest format_rev {sorted(bad)} != reader "
            f"FORMAT_REV {FORMAT_REV} — re-encode the table"
        )
    cols = [tuple(c) for c in json.loads(t.column("columns")[0].as_py())]
    # zero-row partitions commit a manifest marker but no column files
    # (an empty source file in files mode) — they carry no data and no
    # dictionary state, so every reader skips them
    parts = sorted(
        (p, n)
        for p, n in zip(t.column("part_id").to_pylist(), t.column("n_rows").to_pylist())
        if n > 0
    )
    return cols, parts


@dataclass(frozen=True)
class Manifest:
    """One table's manifest, read once per table argument of an operator
    call: ``cols`` ((name, vtype) in table order) and ``parts``
    ((part_id, n_rows), sorted, zero-row parts skipped). Every kernel
    builder takes it in place of the table path, and ``vt`` is the one
    place an unknown column is reported. Not a cache: each call reads
    its own, so a rewritten table path is never seen stale."""

    out_dir: str
    cols: tuple[tuple[str, str], ...]
    parts: tuple[tuple[int, int], ...]

    @classmethod
    def read(cls, out_dir: str) -> "Manifest":
        cols, parts = load_manifest(out_dir)
        return cls(out_dir, tuple(cols), tuple(parts))

    @property
    def pids(self) -> list[int]:
        return [p for p, _ in self.parts]

    @property
    def rows(self) -> int:
        return sum(n for _, n in self.parts)

    @property
    def offsets(self) -> np.ndarray:
        """Global rowid of each part's first row, then the row total —
        the ``blocksizes`` prefix sums (reader.cpp:113-115)."""
        sizes = [n for _, n in self.parts]
        return np.concatenate([[0], np.cumsum(sizes)]).astype(np.int64)

    def vt(self, name: str) -> str:
        for n, vt in self.cols:
            if n == name:
                return vt
        raise KeyError(f"no such column: {name}")

    def vts(self, names) -> list[str]:
        return [self.vt(n) for n in names]


def range_rows_df(
    spark: SparkSession, columns: list[tuple[str, str, list]], slices: int
) -> DataFrame:
    """``len(values)`` literal rows as a JVM-built DataFrame: one
    ``(name, spark type, values)`` triple per column, row i holding
    each column's ``values[i]``. ``spark.range(0, n, 1, slices)`` gives
    slice j the contiguous ids ``[j·n/s, (j+1)·n/s)`` and each id
    indexes the columns' literal arrays. A ``parallelize →
    createDataFrame`` source would add a PythonRDD runner (one more
    Python task start) to every task of the consuming ``mapInArrow``;
    this one runs no Python. Each column travels as ONE JSON string
    literal that the optimizer folds into an array literal — a py4j
    ``lit`` call per value costs ~0.3 ms on the driver (3 s at 10k
    parts)."""
    n = len(columns[0][2])
    rid = F.col("id").cast("int")
    return spark.range(0, n, 1, max(1, slices)).select(*[
        F.from_json(F.lit(json.dumps(vals)), f"array<{typ}>")[rid].alias(name)
        for name, typ, vals in columns
    ])


def _assign_df(spark: SparkSession, part_ids: list[int]) -> DataFrame:
    """Deterministic part→task assignment (column ``part_id``) by
    contiguous range slicing (never hash-repartition — balls-in-bins
    leaves slots empty), built in the JVM by ``range_rows_df``. Slice
    count (round-8, guide §2.2/§6 "fewer, larger tasks"): each Python
    task costs a measurable constant, so tasks get ≥2 parts whenever
    that still fills the cluster; with many parts the old cap of 4×
    parallelism keeps contiguous runs per task (straggler balance),
    and with fewer parts than cores it stays 1:1. All three regimes
    derive from defaultParallelism, never a constant. That constant
    was ~0.3 s per task until ``zipcache`` stopped the per-task zip
    directory re-reads (~290 ms measured inside a reused worker) and
    this source stopped running a PythonRDD before every task; what
    is left is the Arrow handshake and the kernel's own work."""
    n = len(part_ids)
    par = spark.sparkContext.defaultParallelism
    slices = max(1, min(n, max(par, min(n // 2, 4 * par))))
    return range_rows_df(spark, [("part_id", "int", [int(p) for p in part_ids])], slices)


def _group_key_out(col_expr, vt: str):
    """Lane value → the column's logical Spark type. A ``timestamp_ntz``
    lane adds its micros to the NTZ epoch: casting a ``timestamp``
    instant to ``timestamp_ntz`` would apply the session time zone."""
    if vt == "str":
        return col_expr.cast("string")
    if vt == "binary":
        return col_expr
    if vt == "ts":
        return F.timestamp_micros(col_expr)
    if vt == "tsntz":
        return F.timestamp_add(
            "MICROSECOND", col_expr, F.expr("TIMESTAMP_NTZ'1970-01-01 00:00:00'")
        )
    if vt == "date":
        return F.date_from_unix_date(col_expr.cast("int"))
    from arcade_spark.schema import spark_type_for

    return col_expr.cast(spark_type_for(vt))


class _ColMeta:
    """Numpy view over one column file's chunk-metadata rows (one row
    per block, in block order)."""

    def __init__(self, tbl: pa.Table):
        self.n = tbl.num_rows
        self.block_id = tbl.column("block_id").to_numpy(zero_copy_only=False)
        if self.n > 1 and not bool(np.all(np.diff(self.block_id) > 0)):
            raise ValueError("column file rows not in block order")
        self.codec = tbl.column("codec").to_pylist()
        self.post = tbl.column("post").to_pylist()
        self.n_values = tbl.column("n_values").to_numpy(zero_copy_only=False).astype(np.int64)
        self.row_start = tbl.column("row_start").to_numpy(zero_copy_only=False).astype(np.int64)
        self.code_width = tbl.column("code_width").to_numpy(zero_copy_only=False)
        self.global_start = tbl.column("global_start").to_numpy(zero_copy_only=False)
        self.gdict_reset = tbl.column("gdict_reset").to_numpy(zero_copy_only=False).astype(bool)
        self.gdict_seed = tbl.column("gdict_seed").to_numpy(zero_copy_only=False).astype(bool)
        self.n_nulls = tbl.column("n_nulls").to_numpy(zero_copy_only=False).astype(np.int64)
        mi, ma = tbl.column("min_int"), tbl.column("max_int")
        self.has_zone = (
            pc.and_(pc.is_valid(mi), pc.is_valid(ma)).to_numpy(zero_copy_only=False)
        ).astype(bool)
        self.min_int = mi.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
        self.max_int = ma.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
        self.min_bin = tbl.column("min_bin").to_pylist()
        self.max_bin = tbl.column("max_bin").to_pylist()
        self.min_exact = tbl.column("min_exact").to_numpy(zero_copy_only=False).astype(bool)
        self.max_exact = tbl.column("max_exact").to_numpy(zero_copy_only=False).astype(bool)
        self.stateful = np.array(
            [c == "dict_global" for c in self.codec], dtype=bool
        ) | self.gdict_seed

    def meta_dict(self, i: int, seg=b"") -> dict:
        return {
            "codec": self.codec[i],
            "post": self.post[i],
            "n_values": int(self.n_values[i]),
            "code_width": int(self.code_width[i]),
            "global_start": int(self.global_start[i]),
            "gdict_reset": bool(self.gdict_reset[i]),
            "gdict_seed": bool(self.gdict_seed[i]),
            "seg": seg,
        }


class _ColFile:
    """One (part, column) parquet file: its chunk metadata ``cm``, read
    once, and the block walk every kernel reads payloads through — the
    parquet analogue of ARCADE's per-chunk offsets (the reader seeks
    only touched chunks, reader.cpp:113-143). A handle keeps no state
    between walks, so two passes may walk one file independently."""

    def __init__(self, out_dir: str, part_id: int, column: str, vt: str):
        self.path = blocks_path(out_dir, part_id, column)
        self.vt = vt
        self.is_str = vt in ("str", "binary")
        self.pf = pq.ParquetFile(self.path)
        md = self.pf.metadata
        rg_rows = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
        self.rg_off = np.concatenate([[0], np.cumsum(rg_rows)]).astype(np.int64)
        self.cm = _ColMeta(self.pf.read(columns=_META_COLS))

    def read(self, rows: dict[str, np.ndarray]) -> dict[str, dict[int, memoryview]]:
        """The one payload read: ``rows`` maps a payload column
        (``blob``/``seg``) to the block rows wanted from it, all inside
        one row group, and one parquet call reads that row group's
        columns. Returns {column: {block row: zero-copy view}}."""
        from arcade_spark.decode import _binary_views

        first = min(int(r[0]) for r in rows.values())
        rg = int(np.searchsorted(self.rg_off, first, side="right")) - 1
        tbl = self.pf.read_row_group(rg, columns=list(rows))
        base = int(self.rg_off[rg])
        out = {}
        for col, idx in rows.items():
            off, mv = _binary_views(tbl.column(col).combine_chunks())
            out[col] = {int(b): mv[off[b - base]: off[b - base + 1]] for b in idx}
        return out

    def blocks(
        self, touched: np.ndarray | None = None
    ) -> Iterator[tuple[int, dict, memoryview | None]]:
        """``(b, meta, blob)`` for every block up to the last touched
        one (``touched``: bool per block, None = all), in block order.
        ``blob`` is None for an untouched block; ``meta["seg"]`` is
        filled for a str/binary block that is touched or stateful (what
        a replay needs), else empty."""
        cm = self.cm
        if touched is None:
            touched = np.ones(cm.n, dtype=bool)
        hit = np.flatnonzero(touched)
        if not len(hit):
            return
        last = int(hit[-1])
        seg = (cm.stateful | touched) if self.is_str else np.zeros(cm.n, dtype=bool)
        for lo, hi in zip(self.rg_off[:-1], self.rg_off[1:]):
            lo, hi = int(lo), min(int(hi), last + 1)
            if lo >= hi:
                break
            want = {
                col: np.flatnonzero(m[lo:hi]) + lo
                for col, m in (("blob", touched), ("seg", seg))
                if m[lo:hi].any()
            }
            got = self.read(want) if want else {}
            blobs, segs = got.get("blob", {}), got.get("seg", {})
            for b in range(lo, hi):
                yield b, cm.meta_dict(b, segs.get(b, b"")), blobs.get(b)


def _open_cols(
    out_dir: str, pid: int, cols: list[tuple[str, str]],
    cfs: dict[str, _ColFile] | None = None,
) -> dict[str, _ColFile]:
    """Handles for part ``pid``'s ``cols`` ((name, vtype) pairs) plus
    those already open in ``cfs`` (reused, not reopened); every column
    must hold the same blocks."""
    cfs = dict(cfs or {})
    for name, vt in cols:
        if name not in cfs:
            cfs[name] = _ColFile(out_dir, pid, name, vt)
    nb = next(iter(cfs.values())).cm.n
    for name, cf in cfs.items():
        if cf.cm.n != nb:
            raise ValueError(f"column {name!r}: block count mismatch in part {pid}")
    return cfs


def _lockstep(
    cfs: list[_ColFile], touched: np.ndarray | None
) -> Iterator[tuple[int, list[tuple[dict, memoryview, object]]]]:
    """Walk ``cfs`` block by block together: ``(b, [(meta, blob, gdec)]
    per column)`` for each touched block, where ``gdec`` is the
    column's running-dictionary decoder (None for a non-string column).
    Untouched blocks replay their string columns' segments and are not
    yielded."""
    from arcade_spark.core import replay_str_block
    from arcade_spark.gdict import GlobalDictDecoder

    gdecs = [GlobalDictDecoder() if cf.is_str else None for cf in cfs]
    for row in zip(*(cf.blocks(touched) for cf in cfs)):
        if row[0][2] is None:
            for (_, meta, _), gdec in zip(row, gdecs):
                if gdec is not None:
                    replay_str_block(meta, gdec)
            continue
        yield row[0][0], [(meta, blob, g) for (_, meta, blob), g in zip(row, gdecs)]


def _decode_at(vt: str, meta: dict, blob, pos, gdec) -> pa.Array:
    """One block decoded to its output Arrow type, at sorted positions
    ``pos`` (None = every row); ``gdec`` is a string column's running
    dictionary."""
    from arcade_spark.blocks import IntBlock
    from arcade_spark.convert import block_to_arrow
    from arcade_spark.core import decode_int_block, decode_str_block, decode_str_positions
    from arcade_spark.decode import _out_arrow_type

    if vt in ("str", "binary"):
        blk = (decode_str_block(blob, meta, gdec) if pos is None
               else decode_str_positions(blob, meta, pos, gdec))
    else:
        blk = decode_int_block(blob, meta)
        if pos is not None:
            blk = IntBlock(
                values=blk.values[pos],
                validity=None if blk.validity is None else blk.validity[pos],
            )
    return block_to_arrow(blk, vt).cast(_out_arrow_type(vt))


def _resolve_project(
    m: Manifest, names: list[str], op: str | None = None
) -> list[tuple[str, str]]:
    """``(name, vtype)`` per projected name, in the caller's order.
    ``op`` names a read that needs at least one column: an empty
    projection then raises before any Spark job."""
    if op is not None and not names:
        raise ValueError(f"{op} needs at least one projected column")
    return list(zip(names, m.vts(names)))


def _compile_conjuncts(
    where: list[list[tuple[str, tuple]]] | None, m: Manifest
) -> list[list] | None:
    """A kernel builder's ``where`` — None (no predicate) or a DNF
    spec, an OR of AND-lists of ``(column, pred)`` — compiled to lists
    of ``readops._Pred``, at most one per column within a conjunct."""
    from arcade_spark.readops import _Pred

    if where is None:
        return None
    conjuncts = []
    for conj in where:
        if not conj:
            raise ValueError("empty conjunct")
        seen: set[str] = set()
        compiled = []
        for column, pred in conj:
            if column in seen:
                raise ValueError(
                    f"multiple predicates on {column!r} within one conjunct "
                    "not supported"
                )
            seen.add(column)
            compiled.append(_Pred(column, m.vt(column), pred))
        conjuncts.append(compiled)
    return conjuncts


def _map_parts(
    spark: SparkSession, part_ids: list[int], part_fn, ddl: str, post=None
) -> DataFrame:
    """One ``mapInArrow`` over the parts: each task runs ``part_fn(pid)``
    (an iterator of batches of schema ``ddl``) for every part it owns,
    then ``post`` (a batch-iterator function, optional) over that
    stream inside the same task."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for pid in batch.column("part_id").to_pylist():
                yield from part_fn(int(pid))

    run = kernel if post is None else (lambda batches: post(kernel(batches)))
    return _assign_df(spark, part_ids).mapInArrow(run, schema=ddl)


def _zone_keep_np(pred, cm: _ColMeta) -> np.ndarray:
    """Per-block zone verdict for one compiled predicate (readops._Pred)
    over one column file's chunk metadata. Missing zone info ⇒ keep
    (pruning is an optimization, never a correctness gate).

    Negated predicates prune only when the zone PROVES every valid row
    matches the inner predicate (complement = empty): a single-key zone
    equal to an eq/IN target, or a zone contained in the inner range.
    Zones exclude nulls (FORMAT_REV 8), and nulls never satisfy a
    negation either, so the proof covers exactly the candidate rows."""
    if pred.kind in ("contains", "suffix", "sample") or (
        pred.negated and pred.kind in ("prefix", "like")
    ):
        # contains/suffix/sample: any value can match regardless of
        # zone bounds; negated prefix/like: the all-match proof over
        # truncated prefixes is subtle — never prune
        return np.ones(cm.n, dtype=bool)
    if pred.kind == "like" and pred.lob is None:
        # pattern starts with a wildcard: no literal prefix to prune on
        return np.ones(cm.n, dtype=bool)
    if pred.kind in ("prefix", "like"):
        keep = np.ones(cm.n, dtype=bool)
        for i in range(cm.n):
            mb, xb = cm.min_bin[i], cm.max_bin[i]
            # hib = exclusive upper bound of the prefix range (None for
            # an all-0xFF pattern: unbounded above)
            if pred.hib is not None and mb is not None and pred.hib < mb:
                keep[i] = False
            elif xb is not None and cm.max_exact[i] and pred.lob > xb:
                keep[i] = False
        return keep
    if pred.negated:
        if pred.is_str:
            keep = np.ones(cm.n, dtype=bool)
            for i in range(cm.n):
                mb, xb = cm.min_bin[i], cm.max_bin[i]
                if mb is None or xb is None:
                    continue
                if pred.kind == "in":
                    if (cm.min_exact[i] and cm.max_exact[i]
                            and mb == xb and mb in pred.in_vals):
                        keep[i] = False
                else:  # range containment: true min ≥ lo even when the
                    # min prefix is truncated (prefix ≤ true min); the
                    # max side needs exactness
                    if mb >= pred.lob and cm.max_exact[i] and xb <= pred.hib:
                        keep[i] = False
            return keep
        if pred.kind == "in":
            keys = np.array(pred.target_keys(), dtype=np.int64)
            prune = (cm.min_int == cm.max_int) & np.isin(cm.min_int, keys)
        else:
            prune = (cm.min_int >= pred.zone_lo) & (cm.max_int <= pred.zone_hi)
        return ~(prune & cm.has_zone)
    if pred.is_str:
        keep = np.ones(cm.n, dtype=bool)
        for i in range(cm.n):
            mb, xb = cm.min_bin[i], cm.max_bin[i]
            if mb is not None and pred.hib < mb:
                keep[i] = False
            elif xb is not None and cm.max_exact[i] and pred.lob > xb:
                keep[i] = False
        return keep
    prune = (pred.zone_hi < cm.min_int) | (pred.zone_lo > cm.max_int)
    return ~(prune & cm.has_zone)


def _out_schema(proj_items: list[tuple[str, str]], lead: list[pa.Field] | None = None) -> pa.Schema:
    from arcade_spark.decode import _out_arrow_type

    return pa.schema(
        (lead or []) + [pa.field(n, _out_arrow_type(v)) for n, v in proj_items]
    )


_EMPTY = np.empty(0, dtype=np.int64)


def _filter_part_batches(
    out_dir: str,
    pid: int,
    conjuncts: list[list],
    proj_items: list[tuple[str, str]],
    count_only: bool,
) -> Iterator[pa.RecordBatch]:
    """Run the whole filter for ONE partition: predicate pass (zone
    prune → kernel match on kept blocks, dict replay on the rest) then
    match-level projection decode, one batch per matched block. All IO
    is row-group-pruned pyarrow.

    The predicate tree is DISJUNCTIVE NORMAL FORM: ``conjuncts`` is an
    OR of AND-lists of compiled _Pred objects (a plain conjunction is
    one conjunct; a flat disjunction is singleton conjuncts). Per
    block: a conjunct is ALIVE iff every one of its predicates' zones
    admits the block; a block is scanned for a column iff any alive
    conjunct has a predicate on it; match positions intersect within a
    conjunct and union across conjuncts. Each predicate occurrence owns
    an independent dictionary-replay state, so repeated columns across
    conjuncts are fine."""
    pos_of, blk, cfs = _part_match_positions(out_dir, pid, conjuncts)

    if count_only:
        zskip = ~blk
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.full(len(pos_of), pid, dtype=np.int32)),
                pa.array(next(iter(cfs.values())).cm.block_id.astype(np.int32)),
                pa.array(np.array([len(p) for p in pos_of], dtype=np.int64)),
                pa.array(zskip.astype(np.int32)),
            ],
            schema=pa.schema(
                [pa.field("part_id", pa.int32()), pa.field("block_id", pa.int32()),
                 pa.field("matches", pa.int64()), pa.field("zone_skipped", pa.int32())]
            ),
        )
        return

    matched = np.array([len(p) > 0 for p in pos_of], dtype=bool)
    if not matched.any() or not proj_items:
        return
    cfs = _open_cols(out_dir, pid, proj_items, cfs)
    # ---- projection pass: decode matched positions only ----
    yield from _project_batches(
        [cfs[n] for n, _ in proj_items], matched, pos_of, _out_schema(proj_items)
    )


def _project_batches(
    cfs: list[_ColFile], touched: np.ndarray | None, pos_of, schema: pa.Schema,
    lead=None,
) -> Iterator[pa.RecordBatch]:
    """One batch per touched block: ``lead(b)`` (leading arrays, if
    given), then each column decoded at ``pos_of[b]`` (``pos_of`` None:
    every row) — scan, filter projection and random access."""
    for b, row in _lockstep(cfs, touched):
        pos = None if pos_of is None else pos_of[b]
        arrays = [_decode_at(cf.vt, meta, blob, pos, gdec)
                  for cf, (meta, blob, gdec) in zip(cfs, row)]
        yield pa.RecordBatch.from_arrays(
            (lead(b) if lead else []) + arrays, schema=schema
        )


def _part_match_positions(
    out_dir: str, pid: int, conjuncts: list[list]
) -> tuple[list[np.ndarray], np.ndarray, dict[str, _ColFile]]:
    """The DNF predicate pass for ONE partition: returns (per-block
    match positions, per-block zone-alive mask, the open
    predicate-column handles) so filter / group-by (grand totals
    included) / key kernels share one implementation and reuse the
    handles through ``_open_cols``."""
    from arcade_spark.core import decode_int_block, str_codes

    # ---- group predicate OCCURRENCES by column, zone verdicts ----
    col_occs: dict[str, list[tuple[int, object]]] = {}
    for j, conj in enumerate(conjuncts):
        for p in conj:
            col_occs.setdefault(p.column, []).append((j, p))
    cfs = _open_cols(
        out_dir, pid, [(c, plist[0][1].vtype) for c, plist in col_occs.items()]
    )
    nb = next(iter(cfs.values())).cm.n
    zk = {id(p): _zone_keep_np(p, cfs[c].cm)
          for c, plist in col_occs.items() for _, p in plist}
    # conjunct alive per block = AND of its predicates' zone verdicts
    alive = np.ones((len(conjuncts), nb), dtype=bool)
    for j, conj in enumerate(conjuncts):
        for p in conj:
            alive[j] &= zk[id(p)]
    blk = alive.any(axis=0)

    # ---- predicate pass: per-(conjunct, block) position intersections ----
    acc: list[list[np.ndarray | None]] = [
        [None] * nb for _ in conjuncts
    ]  # None = no pred folded yet

    def fold(j: int, b: int, pos_c: np.ndarray) -> None:
        cur = acc[j][b]
        if cur is None:
            acc[j][b] = pos_c
        else:
            acc[j][b] = (
                np.intersect1d(cur, pos_c, assume_unique=True)
                if len(cur) and len(pos_c)
                else _EMPTY
            )

    for c, plist in col_occs.items():
        # scan a block for this column iff any conjunct with a pred on
        # it is alive there; each block is read through one view
        # (dictionary replay included) shared by the column's string
        # predicate occurrences, each of which keeps its own entry flags
        scan = np.zeros(nb, dtype=bool)
        for j, _p in plist:
            scan |= alive[j]
        states = [p.new_state() if cfs[c].is_str else None for _, p in plist]
        for b, [(meta, blob, gdec)] in _lockstep([cfs[c]], scan):
            view = (str_codes(blob, meta, gdec) if gdec is not None
                    else decode_int_block(blob, meta))
            for (j, p), st in zip(plist, states):
                if alive[j][b]:
                    fold(j, b, p.positions(view, st, gdec))
        # dead-conjunct blocks contribute empty for this column
        for j, _p in plist:
            for b in np.nonzero(~alive[j])[0]:
                fold(j, int(b), _EMPTY)

    # union across conjuncts per block
    pos_of: list[np.ndarray] = []
    for b in range(nb):
        parts_b = [a[b] for a in acc if a[b] is not None and len(a[b])]
        if not parts_b:
            pos_of.append(_EMPTY)
        elif len(parts_b) == 1:
            pos_of.append(parts_b[0])
        else:
            pos_of.append(np.unique(np.concatenate(parts_b)))

    return pos_of, blk, cfs


def filter_parts(
    spark: SparkSession,
    m: Manifest,
    where: list[list[tuple[str, tuple]]],
    project: list[str] | None = None,
    count_only: bool = False,
) -> DataFrame:
    """Files-mode filter driver. ``where`` is the predicate in
    disjunctive normal form — an OR of AND-lists of ``(column, pred)``
    (columns may repeat across conjuncts): a conjunction is one
    conjunct, a flat disjunction is singleton conjuncts. A filter
    always has one: unlike the other builders, ``where`` is never
    None here."""
    from arcade_spark.schema import spark_type_for

    conjuncts = _compile_conjuncts(where, m)
    seen = {p.column for conj in conjuncts for p in conj}

    if count_only:
        proj_items: list[tuple[str, str]] = []
    else:
        names = project if project is not None else [
            c for c, _ in m.cols if c not in seen
        ]
        proj_items = _resolve_project(m, names)
    out_dir = m.out_dir

    def part_batches(pid: int) -> Iterator[pa.RecordBatch]:
        return _filter_part_batches(
            out_dir, pid, conjuncts, proj_items, count_only
        )

    if count_only:
        ddl = "part_id int, block_id int, matches long, zone_skipped int"
    else:
        ddl = ", ".join(f"{n} {spark_type_for(v)}" for n, v in proj_items)
    return _map_parts(spark, m.pids, part_batches, ddl)


def scan_parts(
    spark: SparkSession,
    m: Manifest,
    columns: list[str] | None = None,
    emit_meta: bool = False,
) -> DataFrame:
    """Files-mode full scan: each task decodes its partition's column
    files in block order, streaming one RecordBatch per block (the
    reference's coroutine paging — generator.h:44-60). Output columns
    follow ``columns`` (table order when None)."""
    from arcade_spark.schema import spark_type_for

    sel = list(m.cols) if columns is None else _resolve_project(m, columns, "scan")
    ddl = ", ".join(
        (["part_id int", "block_id int", "pos long"] if emit_meta else [])
        + [f"{n} {spark_type_for(v)}" for n, v in sel]
    )
    out_dir = m.out_dir
    return _map_parts(
        spark, m.pids,
        lambda pid: _scan_part_batches(out_dir, pid, sel, emit_meta), ddl,
    )


def _scan_part_batches(
    out_dir: str, pid: int, sel: list[tuple[str, str]], emit_meta: bool
) -> Iterator[pa.RecordBatch]:
    cfs = _open_cols(out_dir, pid, sel)
    cm = cfs[sel[0][0]].cm
    lead_fields = (
        [pa.field("part_id", pa.int32()), pa.field("block_id", pa.int32()),
         pa.field("pos", pa.int64())] if emit_meta else []
    )

    def lead(b: int) -> list[pa.Array]:
        n = int(cm.n_values[b])
        return [
            pa.array(np.full(n, pid, dtype=np.int32)),
            pa.array(np.full(n, int(cm.block_id[b]), dtype=np.int32)),
            pa.array(np.arange(n, dtype=np.int64)),
        ]

    yield from _project_batches(
        [cfs[n] for n, _ in sel], None, None, _out_schema(sel, lead=lead_fields),
        lead=lead if emit_meta else None,
    )


def _random_access_targets(
    m: Manifest, row_ids: list[int]
) -> dict[int, list[tuple[int, int]]]:
    """Global rowid → {part_id: [(local position, rowid)]} via the
    manifest prefix sums (``Manifest.offsets``). Driver-side metadata
    math only."""
    part_ids, offsets = m.pids, m.offsets

    targets: dict[int, list[tuple[int, int]]] = {}
    for rid in row_ids:
        pi = int(np.searchsorted(offsets, rid, side="right")) - 1
        if pi < 0 or pi >= len(part_ids) or rid >= offsets[pi + 1]:
            raise IndexError(f"row id {rid} out of range")
        targets.setdefault(part_ids[pi], []).append((rid - int(offsets[pi]), rid))
    return targets


def random_access_parts(
    spark: SparkSession,
    m: Manifest,
    row_ids: list[int],
    project: list[str] | None = None,
) -> DataFrame:
    """Files-mode point lookup: tasks launch ONLY for touched
    partitions, read metadata, then fetch exactly the touched blocks'
    blobs (+ stateful segs before them) — reader.cpp:69-143. Output:
    ``row_id``, then ``project`` in the caller's order (every column,
    in table order, when None)."""
    from arcade_spark.schema import spark_type_for

    all_cols = (list(m.cols) if project is None
                else _resolve_project(m, project, "random_access"))
    targets = _random_access_targets(m, row_ids)
    ddl = "row_id long, " + ", ".join(
        f"{n} {spark_type_for(v)}" for n, v in all_cols
    )
    out_dir = m.out_dir
    return _map_parts(
        spark, sorted(targets),
        lambda pid: _ra_part_batches(out_dir, pid, targets[pid], all_cols), ddl,
    )


def _ra_part_batches(
    out_dir: str, pid: int, local, all_cols: list[tuple[str, str]]
) -> Iterator[pa.RecordBatch]:
    """``local``: (lps, rids) int64 arrays or a list of (lp, rid)
    pairs. Rows are emitted grouped by block in ascending local-
    position order (round-8: fully vectorized — the previous per-row
    Python grouping loop dominated large materializations, measured
    1.7 s of a 2.2 s 200k-row attach join)."""
    if isinstance(local, tuple):
        lps_in, rids_in = local
        lps_in = np.asarray(lps_in, dtype=np.int64)
        rids_in = np.asarray(rids_in, dtype=np.int64)
    else:
        lps_in = np.array([p for p, _ in local], dtype=np.int64)
        rids_in = np.array([r for _, r in local], dtype=np.int64)
    if len(lps_in) == 0:
        return

    cfs = _open_cols(out_dir, pid, all_cols)
    cm0 = cfs[all_cols[0][0]].cm
    ends = cm0.row_start + cm0.n_values
    # sort by local position: block index is monotone in lp, so the
    # sorted stream is grouped by block with in-block positions
    # ascending (what the decode kernels require) — one argsort, no
    # per-row Python
    order = np.argsort(lps_in, kind="stable")
    lps = lps_in[order]
    rids = rids_in[order]
    blocks = np.searchsorted(ends, lps, side="right").astype(np.int64)
    starts = np.concatenate([[0], np.nonzero(np.diff(blocks))[0] + 1])
    stops = np.concatenate([starts[1:], [len(blocks)]])
    target_blocks = blocks[starts]
    pos_all = lps - cm0.row_start[blocks]
    tmask = np.zeros(cm0.n, dtype=bool)
    tmask[target_blocks] = True
    span = {int(b): slice(int(s), int(e))
            for b, s, e in zip(target_blocks, starts, stops)}

    yield from _project_batches(
        [cfs[n] for n, _ in all_cols], tmask,
        {b: pos_all[sl] for b, sl in span.items()},
        _out_schema(all_cols, lead=[pa.field("row_id", pa.int64())]),
        lead=lambda b: [pa.array(rids[span[b]], type=pa.int64())],
    )


def key_rowid_parts(
    spark: SparkSession,
    m: Manifest,
    where: list[list[tuple[str, tuple]]] | None,
    key_col: str | list[str],
    keep_null_keys: bool = False,
    post: tuple | None = None,
) -> tuple[DataFrame, list[str]]:
    """(key..., global row id) tuples for every [predicate-matched] row
    with a fully-non-null key — the probe side of the encoded-to-encoded
    shuffle join. The kernel decodes ONLY the key column(s) (positions
    from the shared DNF predicate pass when ``where`` is given;
    zone-pruned blocks replay segments only), and each emitted row is
    (key lanes, rowid) — tens of bytes — so the join shuffle never
    carries payload columns. Global rowids come from the manifest
    prefix sums (the blocksizes index, reader.cpp:113-115) + per-block
    row_start.

    ``key_col`` may be one column or a LIST (composite join keys —
    round-5): each key column gets its own output lane ``k0..kn``
    (binary for str/binary, long otherwise). A row's key is null if
    ANY component is null (SQL composite equi-join: a null component
    makes the conjunct unknown). Double/float columns ride their
    ORDER-PRESERVING int64 key (bits.float_order_keys): valid for ORDER
    BY / range semantics, NOT for equality joins (-0.0 and 0.0 get
    distinct keys), so the join and keyed operators reject float KEY
    columns before they build a stream (``readops._check_keys``).
    ``keep_null_keys`` emits null-key rows too — they never
    equi-match but outer joins must preserve them.

    ``post = (fn, ddl)`` runs the batch kernel ``fn`` over the key
    stream inside the same Python task (its output schema ``ddl``):
    a second ``mapInArrow`` chained on the stream would need two Python
    workers per task, and past the idle-worker cap every such task
    kills and re-forks workers and pays their imports again.

    Returns (df with columns ``k0..kn, rid`` — or ``post``'s —, list of
    key vtypes)."""
    key_cols = [key_col] if isinstance(key_col, str) else list(key_col)
    if not key_cols:
        raise ValueError("key_col must name at least one column")
    kvts = m.vts(key_cols)
    conjuncts = _compile_conjuncts(where, m)
    out_dir = m.out_dir
    offsets = dict(zip(m.pids, m.offsets.tolist()))
    key_items = list(zip(key_cols, kvts))
    names = [f"k{i}" for i in range(len(key_cols))] + ["rid"]

    def part_batches(pid: int) -> Iterator[pa.RecordBatch]:
        from arcade_spark.bits import float_order_keys
        from arcade_spark.core import decode_int_block, decode_str_positions

        if conjuncts is not None:
            pos_of, _blk, pcfs = _part_match_positions(out_dir, pid, conjuncts)
            cfs = _open_cols(out_dir, pid, key_items, pcfs)
        else:
            cfs = _open_cols(out_dir, pid, key_items)
            cm0 = cfs[key_cols[0]].cm
            pos_of = [np.arange(int(n), dtype=np.int64) for n in cm0.n_values]
        kcfs = [cfs[kc] for kc in key_cols]
        row_start = kcfs[0].cm.row_start
        matched = np.array([len(p) > 0 for p in pos_of], dtype=bool)
        for b, row in _lockstep(kcfs, matched):
            pos = pos_of[b]
            rids = offsets[pid] + int(row_start[b]) + pos
            arrays = []
            null_any = None
            for cf, (meta, blob, gdec) in zip(kcfs, row):
                if cf.is_str:
                    blkd = decode_str_positions(blob, meta, pos, gdec)
                    arrays.append(blkd.to_arrow(binary=True))
                    valid = blkd.validity
                else:
                    ib = decode_int_block(blob, meta)
                    valid = None if ib.validity is None else ib.validity[pos]
                    vvals = ib.values[pos]
                    if cf.vt in ("double", "float"):
                        # canonicalize NaN payloads FIRST: a sign-bit
                        # NaN (0xFFF8...) would map below -inf; the
                        # contract is NaN above +inf, one NaN class
                        f = vvals.view(np.float64)
                        if np.isnan(f).any():
                            vvals = np.where(
                                np.isnan(f), np.int64(0x7FF8000000000000), vvals
                            )
                        vvals = float_order_keys(vvals)
                    arrays.append(pa.array(
                        vvals, type=pa.int64(),
                        mask=None if valid is None else ~valid,
                    ))
                if valid is not None:
                    nv = ~valid
                    null_any = nv if null_any is None else (null_any | nv)
            if null_any is not None and not keep_null_keys:
                keep = ~null_any
                if not keep.any():
                    continue
                kmask = pa.array(keep)
                arrays = [a.filter(kmask) for a in arrays]
                rids = rids[keep]
            yield pa.RecordBatch.from_arrays(
                arrays + [pa.array(rids, type=pa.int64())], names=names
            )

    ddl = ", ".join(
        f"k{i} {'binary' if vt in ('str', 'binary') else 'long'}"
        for i, vt in enumerate(kvts)
    ) + ", rid long"
    fn = None
    if post is not None:
        fn, ddl = post
    df = _map_parts(spark, m.pids, part_batches, ddl, post=fn)
    return df, kvts


_MAT_SPLIT_ROWS = 1 << 18  # late-materialization group cap (rowid range)


def attach_rowids_parts(
    spark: SparkSession,
    m: Manifest,
    stream: DataFrame,
    rid_col: str,
    project: list[str],
    keep_null: bool = False,
    dup_bound: int = 1,
) -> DataFrame:
    """Late materialization as ONE gather-expand step: append the
    ``project`` columns of the encoded table, decoded at each stream
    row's global row id ``rid_col``, to that row.

    Every ``stream`` row passes through unchanged (columns of any
    type); the output is the stream's columns followed by ``project``.
    ``rid_col`` may repeat — each distinct rid is decoded once per
    group and expanded to all its rows by an Arrow ``take`` — and may
    be null: a null-rid row is kept with null projections when
    ``keep_null``, dropped otherwise. A projected name may not repeat
    a stream column (the output would hold duplicate fields).

    Plan shape: the group key ``rid div _MAT_SPLIT_ROWS`` is computed
    in the JVM, so the only Python exec is the ``applyInArrow`` kernel
    after the shuffle — no tag kernel chained in the upstream stage
    (see ``key_rowid_parts``'s ``post``). The kernel finds each distinct
    rid's part with a ``searchsorted`` over the manifest prefix sums and
    runs the random-access kernel (``_ra_part_batches``: touched blocks'
    blobs only) on every part the group's rid range touches.

    Memory: the kernel takes its group as a stream of Arrow batches and
    decodes + expands ``_MAT_SPLIT_ROWS`` stream rows at a time
    (``_row_chunks``), so a rid range full of repeated rids never sits
    whole in one Python worker; a group of unique rids is one chunk.
    ``dup_bound`` is an upper bound on how many stream rows share one
    rid (the other side's manifest row total for a join). Past
    ``_MAT_SPLIT_ROWS`` a deterministic salt ``pmod(xxhash64(stream
    lanes), n)`` spreads each rid range over ``n = ceil(dup_bound /
    _MAT_SPLIT_ROWS)`` groups, so one hot rid cannot serialize into
    one task, and a retried task regroups identically."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    from arcade_spark.schema import spark_type_for

    project = list(dict.fromkeys(project))
    clash = sorted(set(project) & set(stream.columns))
    if clash:
        raise ValueError(
            f"projected columns {clash} collide with stream columns "
            f"{stream.columns}"
        )
    cols = _resolve_project(m, project)
    if not keep_null:
        stream = stream.filter(F.col(rid_col).isNotNull())
    if not project:
        return stream
    out_dir, pids, offs = m.out_dir, m.pids, m.offsets
    dec_schema = _out_schema(cols, lead=[pa.field("row_id", pa.int64())])
    out_struct = StructType(
        stream.schema.fields
        + [StructField(n, _parse_datatype_string(spark_type_for(v)))
           for n, v in cols]
    )
    out_arrow = to_arrow_schema(out_struct)
    cap = _MAT_SPLIT_ROWS

    def expand(tbl: pa.Table) -> pa.Table:
        rid = tbl.column(rid_col)
        if rid.null_count:  # the null-rid group (keep_null)
            dec = [pa.nulls(tbl.num_rows, dec_schema.field(n).type)
                   for n in project]
        else:
            u, inv = np.unique(rid.to_numpy(), return_inverse=True)
            if u[0] < 0 or u[-1] >= offs[-1]:
                raise IndexError("row id out of range")
            pi = np.searchsorted(offs, u, side="right") - 1
            cuts = np.flatnonzero(np.diff(pi)) + 1
            batches = []
            # u is sorted, so each part's run decodes in rid order and
            # the concatenated rows line up with u
            for s0, e0 in zip([0, *cuts], [*cuts, len(u)]):
                p = pi[s0]
                batches += _ra_part_batches(
                    out_dir, pids[p], (u[s0:e0] - offs[p], u[s0:e0]), cols
                )
            got = pa.Table.from_batches(batches, schema=dec_schema)
            idx = pa.array(inv.reshape(-1), type=pa.int64())
            dec = [got.column(n).take(idx) for n in project]
        arrays = [
            a if a.type == f.type else a.cast(f.type)
            for a, f in zip(list(tbl.columns) + dec, out_arrow)
        ]
        return pa.Table.from_arrays(arrays, schema=out_arrow)

    def gather_expand(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        for tbl in _row_chunks(batches, cap):
            yield from expand(tbl).to_batches()

    return stream.groupBy(*_attach_keys(stream, rid_col, dup_bound)).applyInArrow(
        gather_expand, schema=out_struct
    )


def _row_chunks(
    batches: Iterator[pa.RecordBatch], cap: int
) -> Iterator[pa.Table]:
    """Regroup a batch stream into tables of exactly ``cap`` rows (the
    last one shorter) — zero-copy slices, in stream order."""
    buf, n = [], 0
    for b in batches:
        off = 0
        while off < b.num_rows:
            piece = b.slice(off, cap - n)
            off += piece.num_rows
            buf.append(piece)
            n += piece.num_rows
            if n == cap:
                yield pa.Table.from_batches(buf)
                buf, n = [], 0
    if buf:
        yield pa.Table.from_batches(buf)


def _attach_keys(stream: DataFrame, rid_col: str, dup_bound: int) -> list:
    """The attach's JVM-side group key: the rid range, plus the salt
    lane when one rid may repeat past ``_MAT_SPLIT_ROWS`` rows."""
    keys = [F.expr(f"`{rid_col}` div {_MAT_SPLIT_ROWS}")]
    n_salt = -(-max(int(dup_bound), 1) // _MAT_SPLIT_ROWS)
    if n_salt > 1:
        keys.append(F.pmod(F.xxhash64(*stream.columns), F.lit(n_salt)))
    return keys


def compile_agg_specs(
    specs: list[tuple], m: Manifest, agg_scale: int
) -> list[dict]:
    """Normalize multi-aggregate specs for the fused kernel.

    Spec forms (name, kind, arg):
      ("sum_qty",  "sum",  "l_quantity")     — Σ q(col)
      ("avg_qty",  "avg",  "l_quantity")     — Σ q(col) / (scale·valid)
      ("min_qty",  "min",  "l_quantity")     — min q(col) (/scale)
      ("max_qty",  "max",  "l_quantity")     — max q(col) (/scale)
      ("sum_disc", "sumprod", [(col, mult, add), ...]) — Σ Π(add+mult·q)
      ("cnt",      "count", None)            — matched rows
    Affine terms live in the QUANTIZED domain (at scale 100, 1.0 is
    100 — so TPC-H's (1 − l_discount) is (col, −1, 100)). Each spec's
    output divisor is the product of its referenced columns' scales
    (agg_scale for double/float, 1 for integers), so the final value is
    one IEEE division of an exact int64 sum — cross-engine
    bit-identical, same contract as quantized_agg_lane."""
    out = []
    for name, kind, arg in specs:
        if kind == "count":
            out.append({"name": name, "kind": kind, "terms": [], "div": 1,
                        "vt": None})
            continue
        if kind in ("sum", "avg", "min", "max"):
            terms = [(arg, 1, 0)]
        elif kind == "sumprod":
            terms = [tuple(t) for t in arg]
        else:
            raise ValueError(f"unknown agg kind: {kind!r}")
        for _c, mult, add in terms:
            # spec-constant sanity: the kernel's float-domain overflow
            # guard checks |m·q| and |a + m·q| before each exact int64
            # op, but a constant at/past 2^62 could cancel a wrapped
            # product inside one check — reject it outright
            if abs(int(mult)) >= 2 ** 62 or abs(int(add)) >= 2 ** 62:
                raise ValueError(
                    "multi-agg affine constants must satisfy "
                    f"|m|, |a| < 2^62: got m={mult}, a={add}"
                )
        div = 1
        col_vt = None
        for col, _m, _a in terms:
            vt = col_vt = m.vt(col)
            if vt not in _AGG_VTS:
                # MIN/MAX over ts/date/bool are real queries and the
                # int64 lane already carries them (micros / days / 0-1)
                # with order preserved; MIN/MAX over str/binary ride a
                # BINARY lane (round-6): global dict codes are NOT
                # order-preserving, so the kernel compares VALUES of
                # used dictionary entries per block and the merge is a
                # lexicographic binary min/max. Sums stay meaningless
                # and rejected.
                if kind in ("min", "max") and vt in (
                    "ts", "tsntz", "date", "bool", "str", "binary"
                ):
                    continue
                raise NotImplementedError(f"multi-agg {_AGG_GUARD}")
            div *= agg_scale if vt in ("double", "float") else 1
        out.append({"name": name, "kind": kind, "terms": terms, "div": div,
                    "vt": col_vt})
    return out


def _bin_spec(sp: dict) -> bool:
    """True for a MIN/MAX spec over a str/binary column — the binary
    value lane through the multi-agg partials (round-6)."""
    return sp["kind"] in ("min", "max") and sp.get("vt") in ("str", "binary")


def _densify(key: np.ndarray) -> tuple[np.ndarray, int]:
    """``(index, count)``: ``key`` renumbered 0..count-1 in value order."""
    uniq, inv = np.unique(key, return_inverse=True)
    return inv.astype(np.int64, copy=False), len(uniq)


def _str_group_codes(blob, meta: dict, gdec):
    """A string block's group-by keys: ``(codes, validity, resolve)``,
    where ``resolve(used)`` takes entry ids to their large_binary
    values. Dictionary codecs hand back their stored codes; plain/fsst
    rows are factorized Arrow C-side into their sorted distinct set
    (the dictionary lost the codec race there)."""
    from arcade_spark.codecs.strcodecs import factorize_arrow
    from arcade_spark.core import str_codes

    codes, entries, validity = str_codes(blob, meta, gdec)
    if codes is None:
        fact = factorize_arrow(entries)
        codes, entries = fact.codes, fact.uniques_arrow
    return codes, validity, entries.take


def _dense_group_index(key_codes: list[np.ndarray]) -> tuple[np.ndarray, int]:
    """``(inv, width)``: a group index in ``[0, width)`` per row, equal
    for two rows iff their per-column code tuples are equal. Codes shift
    by +1 (``keep_null_keys``' −1 becomes 0) and combine in mixed radix;
    the running key re-densifies with a 1-D ``np.unique`` before its
    span would reach 2^62, and a final span too sparse to bincount
    (past ``max(4·n, 2^16)``) does the same. A mixed-radix key plus
    ``bincount`` costs ~0.1 ms per 65k-row block where a row-wise
    ``np.unique`` over the stacked code matrix costs 6-55 ms."""
    n = len(key_codes[0])
    key, span = None, 1
    for codes in key_codes:
        c = codes + 1
        radix = int(c.max()) + 1
        if key is not None and span * radix >= 1 << 62:
            key, span = _densify(key)
            if span * radix >= 1 << 62:  # codes sparser than 2^62 / n
                c, radix = _densify(c)
        key = c if key is None else key * radix + c
        span *= radix
    if span > max(4 * n, 1 << 16):
        key, span = _densify(key)
    return key, span


def _narrow(rows, valid: np.ndarray | None):
    """Row selector ``rows`` (a bool mask, or ``slice(None)`` for every
    row) narrowed to the rows where ``valid`` holds (None: all)."""
    if valid is None:
        return rows
    return valid if isinstance(rows, slice) else rows & valid


def _spec_values(sp: dict, qcache: dict, smask) -> np.ndarray:
    """Per-row int64 values of one int-lane spec: the quantized column
    itself for a MIN/MAX over one bare column (a comparison cannot
    wrap, so any int64 magnitude is exact), else the product of its
    affine terms ``a + m·q``, overflow-guarded on the rows the
    ``_narrow`` selector ``smask`` picks."""
    terms = sp["terms"]
    if sp["kind"] in ("min", "max") and [tuple(t[1:]) for t in terms] == [(1, 0)]:
        return qcache[terms[0][0]][0]
    # guarded product chain: verify the magnitude in float64 BEFORE
    # each exact int64 multiply — an intermediate that wraps past ±2^63
    # would pass an after-the-fact check (e.g. 2^32·2^32 ≡ 0). The 2^62
    # bar leaves a 2× margin over int64, so the ≤2^-52-relative float
    # estimate can't mis-classify a genuinely unsafe product.
    val = val_f = None
    for c, m, a in terms:
        q = qcache[c][0]
        mq_f = float(m) * q.astype(np.float64)
        if (np.abs(mq_f[smask]) >= 2.0 ** 62).any():
            # check the PRODUCT too, not just the affine result: a large
            # |a| of opposite sign would cancel a wrapped m·q in the
            # combined estimate
            raise ValueError(
                "multi-agg affine term overflows int64: |m·q| must stay < 2^62"
            )
        t_f = float(a) + mq_f
        if (np.abs(t_f[smask]) >= 2.0 ** 62).any():
            raise ValueError(
                "multi-agg affine term overflows int64: |a + m·q| must stay < 2^62"
            )
        t = a + m * q
        if val is None:
            val, val_f = t, t_f
            continue
        val_f = val_f * t_f
        if (np.abs(val_f[smask]) >= 2.0 ** 62).any():
            raise ValueError(
                "multi-agg term product overflows int64: the fixed-point "
                "contract requires |Π terms| < 2^62 (lower agg_scale or "
                "split the product)"
            )
        val = val * t
    return val


def filter_group_by_multi_partials(
    spark: SparkSession,
    m: Manifest,
    where: list[list[tuple[str, tuple]]] | None,
    group_cols: list[str],
    agg_specs: list[tuple],
    agg_scale: int = AGG_SCALE,
    keep_null_keys: bool = False,
) -> tuple[DataFrame, list[str], list[dict]]:
    """MULTI-aggregate fused ``WHERE <dnf> GROUP BY g1.. `` — the
    engine's one group-by kernel (group_count, group_sum, group_by and
    the rest are aggregate specs over it) and the COMPLETE TPC-H Q1
    shape: one predicate pass (none for ``where=None``), one
    positional decode per referenced agg column, N integer accumulators
    per group. Group columns contribute per-row codes (dictionary/RLE
    codes as stored — no string materialization; int and float lanes
    factorize) and a row's group is the dense composite index of its
    code tuple (``_dense_group_index``); only the USED codes resolve to
    values, read off one member row per group. Every aggregate
    (including Σ price·(1−disc)·(1+tax) products) runs in the exact
    fixed-point int64 domain (compile_agg_specs), so the partials merge
    in any order and the DuckDB oracle replays the bytes.
    Partial schema: k0..kn, then (s{i}, c{i}) per non-count spec, then
    ``c`` (matched rows). A row feeds spec i iff every referenced
    column is valid there (SQL aggregate null semantics); count counts
    all matched rows with non-null group keys. ``keep_null_keys=True``
    switches to full SQL GROUP BY semantics instead: a null group
    value is its own group (code −1 in-kernel, a null k-lane in the
    partials) and count counts every matched row — the grouping-sets
    operator needs this, since a rolled-up level must keep rows that
    are null in an unrelated group column. Empty ``group_cols`` puts
    every matched row in one group (no k lanes): the grand total. A
    block's int64 sum is bounded before it is taken: when
    ``max|v|·rows`` reaches 2^62, float64 estimates of the group sums
    decide, and one at or past 2^62 raises rather than wrap."""
    if len(set(group_cols)) != len(group_cols):
        raise ValueError("duplicate group columns")
    vts = m.vts(group_cols)
    cspecs = compile_agg_specs(agg_specs, m, agg_scale)
    # str/binary MIN/MAX specs ride a binary VALUE lane, not the int64
    # quantized lane (global dict codes are not order-preserving)
    bin_cols = sorted({
        sp["terms"][0][0] for sp in cspecs if _bin_spec(sp)
    })
    needed = sorted(
        {c for sp in cspecs for c, _m, _a in sp["terms"]} - set(bin_cols)
    )
    live = [i for i, sp in enumerate(cspecs) if sp["kind"] != "count"]
    # binary min/max agg columns not already decoded as group keys
    # need their own dict-replay state
    bin_only = [c for c in bin_cols if c not in group_cols]
    walk = group_cols + [c for c in needed if c not in group_cols] + bin_only
    walk_items = list(zip(walk, m.vts(walk)))
    vt_of = dict(walk_items)
    first_col = list(m.cols[:1])

    conjuncts = _compile_conjuncts(where, m)  # None = full scan
    out_dir = m.out_dir

    def part_batches(pid: int) -> Iterator[pa.RecordBatch]:
        from arcade_spark.core import decode_int_block

        if conjuncts is not None:
            pos_of, _blk, pcfs = _part_match_positions(out_dir, pid, conjuncts)
            cfs = _open_cols(out_dir, pid, walk_items, pcfs)
            rows_of = np.array([len(p) for p in pos_of], dtype=np.int64)
        else:
            # no predicate: every row, as views (no gathers); a count
            # with no column to walk reads one column's block sizes
            cfs = _open_cols(out_dir, pid, walk_items or first_col)
            rows_of = next(iter(cfs.values())).cm.n_values
            pos_of = [slice(None)] * len(rows_of)
        blocks = (_lockstep([cfs[c] for c in walk], rows_of > 0) if walk
                  else ((int(b), []) for b in np.flatnonzero(rows_of)))
        for b, row in blocks:
            meta_of = {c: meta for c, (meta, _, _) in zip(walk, row)}
            blob_of = {c: blob for c, (_, blob, _) in zip(walk, row)}
            gdec_of = {c: gdec for c, (_, _, gdec) in zip(walk, row)}
            pos = pos_of[b]
            key_codes, resolvers = [], []
            str_dec: dict[str, tuple] = {}
            cmask = None
            for g, vt in zip(group_cols, vts):
                if vt in ("str", "binary"):
                    codes, gvalid, resolve = _str_group_codes(
                        blob_of[g], meta_of[g], gdec_of[g]
                    )
                    # a binary min/max spec over a group column
                    # reuses this decode (replay runs ONCE)
                    str_dec[g] = (codes, gvalid, resolve)
                else:
                    ib = decode_int_block(blob_of[g], meta_of[g])
                    gv = ib.values
                    if vt in ("double", "float"):
                        gv = gv.copy()
                        f = gv.view(np.float64)
                        gv[f == 0.0] = 0
                        gv[np.isnan(f)] = np.int64(0x7FF8000000000000)
                    uniq, codes = np.unique(gv, return_inverse=True)
                    gvalid = ib.validity
                    resolve = (lambda used, u=uniq: u[used])
                kc = np.asarray(codes, dtype=np.int64)[pos]
                if gvalid is not None:
                    gv_pos = gvalid[pos]
                    if keep_null_keys:
                        # null is its own group: code -1
                        kc = np.where(gv_pos, kc, np.int64(-1))
                    else:
                        cmask = (gv_pos if cmask is None
                                 else (cmask & gv_pos))
                key_codes.append(kc)
                resolvers.append(resolve)
            for c in bin_only:
                str_dec[c] = _str_group_codes(blob_of[c], meta_of[c], gdec_of[c])
            if cmask is not None and not cmask.any():
                continue
            # rows that join a group; slice(None) when all do
            # (a view, where an all-true mask would copy)
            rows = slice(None) if cmask is None else cmask
            n = int(rows_of[b])
            inv, width = (_dense_group_index(key_codes) if key_codes
                          else (np.zeros(n, dtype=np.int64), 1))
            cnt = np.bincount(inv[rows], minlength=width)

            # decode each referenced agg column ONCE per block;
            # quantize MATCHED rows only (a non-finite value in a
            # predicate-excluded row must not raise — same contract
            # as _filter_part_batches)
            qcache: dict[str, tuple[np.ndarray, np.ndarray | None]] = {}
            for c in needed:
                ib = decode_int_block(blob_of[c], meta_of[c])
                v = None if ib.validity is None else ib.validity[pos]
                q = quantized_agg_lane(
                    ib.values[pos], v, vt_of[c], agg_scale
                )
                qcache[c] = (q, v)

            spec_sums, spec_cnts = [], []
            for i in live:
                sp = cspecs[i]
                if _bin_spec(sp):
                    # binary MIN/MAX: rank the USED dictionary
                    # entries by VALUE (codes are not order-
                    # preserving), take per-group extremal rank
                    c = sp["terms"][0][0]
                    codes_c, valid_c, resolve_c = str_dec[c]
                    sel = np.asarray(codes_c, dtype=np.int64)[pos]
                    vmask = _narrow(
                        rows, None if valid_c is None else valid_c[pos]
                    )
                    gi = inv[vmask]
                    spec_cnts.append(np.bincount(gi, minlength=width))
                    if len(gi):
                        uniqc, subinv = np.unique(
                            sel[vmask], return_inverse=True
                        )
                        varr = resolve_c(uniqc)
                        order = pc.array_sort_indices(varr).to_numpy()
                        rank = np.empty(len(uniqc), dtype=np.int64)
                        rank[order] = np.arange(len(uniqc))
                        r = rank[subinv]
                        if sp["kind"] == "min":
                            extr = np.full(width, len(uniqc),
                                           dtype=np.int64)
                            np.minimum.at(extr, gi, r)
                        else:
                            extr = np.full(width, -1, dtype=np.int64)
                            np.maximum.at(extr, gi, r)
                        sv = varr.take(order)
                    else:
                        extr = np.full(width, -1, dtype=np.int64)
                        sv = pa.array([], type=pa.large_binary())
                    spec_sums.append((extr, sv))
                    continue
                # SQL agg null semantics: a row feeds the spec iff
                # every referenced column is valid there
                smask = rows
                for c, _m, _a in sp["terms"]:
                    smask = _narrow(smask, qcache[c][1])
                val = _spec_values(sp, qcache, smask)[smask]
                gi = inv[smask]
                kind = sp["kind"]
                if kind == "min":
                    s_i = np.full(width, np.iinfo(np.int64).max,
                                  dtype=np.int64)
                    np.minimum.at(s_i, gi, val)
                elif kind == "max":
                    s_i = np.full(width, np.iinfo(np.int64).min,
                                  dtype=np.int64)
                    np.maximum.at(s_i, gi, val)
                else:
                    # np.add.at wraps silently past int64: a cheap bound
                    # clears most blocks, float64 sums decide the rest
                    if len(val) and (float(np.abs(val).max()) * len(val)
                                     >= 2.0 ** 62):
                        est = np.bincount(gi, weights=val.astype(np.float64),
                                          minlength=width)
                        if (np.abs(est) >= 2.0 ** 62).any():
                            raise ValueError(
                                "multi-agg sum overflows int64: a block's "
                                "group sum must stay < 2^62"
                            )
                    s_i = np.zeros(width, dtype=np.int64)
                    np.add.at(s_i, gi, val)
                spec_sums.append(s_i)
                spec_cnts.append(np.bincount(gi, minlength=width))

            used = np.nonzero(cnt)[0]
            # every row of a group holds its code tuple: read
            # each used group's codes off one member row
            rep = np.empty(width, dtype=np.int64)
            rep[inv] = np.arange(n)
            rep = rep[used]
            arrays = []
            for i, vt in enumerate(vts):
                code_row = key_codes[i][rep]
                nullm = code_row < 0  # keep_null_keys groups
                if nullm.all():
                    nz = len(code_row)
                    if vt in ("str", "binary"):
                        arrays.append(pa.array(
                            [None] * nz, type=pa.binary()))
                    elif vt in ("double", "float"):
                        arrays.append(pa.array(
                            np.zeros(nz), type=pa.float64(),
                            mask=nullm))
                    else:
                        arrays.append(pa.array(
                            np.zeros(nz, dtype=np.int64),
                            type=pa.int64(), mask=nullm))
                    continue
                safe = (np.where(nullm, code_row[~nullm][0],
                                 code_row)
                        if nullm.any() else code_row)
                mask = nullm if nullm.any() else None
                vals = resolvers[i](safe)
                if vt in ("str", "binary"):
                    vals = vals.cast(pa.binary())
                    arrays.append(vals if mask is None else pc.if_else(
                        mask, pa.scalar(None, pa.binary()), vals))
                elif vt in ("double", "float"):
                    arrays.append(pa.array(
                        vals.view(np.float64), type=pa.float64(),
                        mask=mask))
                else:
                    arrays.append(pa.array(
                        vals.astype(np.int64), type=pa.int64(),
                        mask=mask))
            names = [f"k{i}" for i in range(len(group_cols))]
            for j, i in enumerate(live):
                if _bin_spec(cspecs[i]):
                    extr, sv = spec_sums[j]
                    eu = extr[used]
                    empty = (eu < 0) | (eu >= len(sv))
                    arrays.append(sv.take(pa.array(
                        np.where(empty, 0, eu), mask=empty
                    )).cast(pa.binary()))
                elif cspecs[i]["kind"] in ("min", "max"):
                    # null-mask empty groups so extremum
                    # sentinels never merge
                    arrays.append(pa.array(
                        spec_sums[j][used],
                        mask=spec_cnts[j][used] == 0,
                    ))
                else:
                    arrays.append(pa.array(spec_sums[j][used]))
                arrays.append(pa.array(spec_cnts[j][used]))
                names += [f"s{i}", f"c{i}"]
            arrays.append(pa.array(cnt[used].astype(np.int64)))
            names.append("c")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    def lane(vt: str) -> str:
        if vt in ("str", "binary"):
            return "binary"
        if vt in ("double", "float"):
            return "double"
        return "long"

    ddl = ", ".join(
        [f"k{i} {lane(vt)}" for i, vt in enumerate(vts)]
        + [x for i in live for x in (
            f"s{i} {'binary' if _bin_spec(cspecs[i]) else 'long'}",
            f"c{i} long",
        )]
        + ["c long"]
    )
    return _map_parts(spark, m.pids, part_batches, ddl), vts, cspecs


def column_topk_parts(
    spark: SparkSession, m: Manifest, column: str, k: int, descending: bool = True
) -> DataFrame:
    """``SELECT col FROM t ORDER BY col [DESC] LIMIT k`` with zone-map
    block pruning — the ARCADE-thesis answer to top-k: each task keeps
    its partition's top k (``_topk_part``), reading only the blocks
    whose zone envelope can beat the k-th value, and the partition
    partials (≤ k values each) merge with one tiny global sort. Nulls
    are excluded (SQL ORDER BY semantics for a LIMIT k of non-null
    values)."""
    from arcade_spark.bits import float_order_keys

    vt, out_dir = m.vt(column), m.out_dir
    lane = ("binary" if vt in ("str", "binary")
            else "double" if vt in ("double", "float") else "long")

    def part_batches(pid: int) -> Iterator[pa.RecordBatch]:
        best = _topk_part(out_dir, pid, column, vt, k, descending)
        if lane == "double":
            # float_order_keys is its own inverse: keys → IEEE bits
            best = float_order_keys(best).view(np.float64)
        arr = (pa.array(best.tolist(), type=pa.binary()) if lane == "binary"
               else pa.array(best))
        yield pa.RecordBatch.from_arrays([arr], names=["v"])

    partial = _map_parts(spark, m.pids, part_batches, f"v {lane}")
    ordered = partial.orderBy(F.col("v").desc() if descending else F.col("v").asc())
    return ordered.limit(k).select(_group_key_out(F.col("v"), vt).alias("v"))


def _next_prefix(p: bytes) -> bytes | None:
    """Smallest byte string greater than EVERY string with prefix
    ``p`` (exclusive upper bound for a truncated zone prefix), or None
    when ``p`` is all 0xff (unbounded)."""
    b = bytearray(p)
    for i in range(len(b) - 1, -1, -1):
        if b[i] != 0xFF:
            return bytes(b[:i]) + bytes([b[i] + 1])
    return None


def _topk_part(
    out_dir: str, pid: int, column: str, vt: str, k: int, descending: bool,
    probe: dict | None = None,
) -> np.ndarray:
    """ORDER BY <col> LIMIT k for ONE partition, zone-pruned: the k best
    non-null values, sorted ascending, in the lane's order domain (raw
    bytes for str/binary, order-preserving int64 keys for double/float
    — bits.float_order_keys —, the int64 lane otherwise).

    Envelopes from the zone bounds: the int lanes' min/max are exact;
    for strings min_bin is ALWAYS a valid lower bound (a truncated min
    prefix understates its chunk's true min) and the upper bound is
    max_bin itself when exact, else next_prefix(max_bin) — every
    extension of the prefix is below it. A pre-decode threshold t0
    comes from metadata alone (take blocks by their guaranteed-side
    bound until ≥ k non-null values are guaranteed); blob bytes are
    fetched ONLY for blocks whose envelope can beat t0, each row group
    at most once, and the threshold tightens as decoded blocks fill the
    running top-k. Int lanes decode in bound order and stop at the
    first block that cannot beat the threshold (a row group is read
    when its first block is due, and kept for its later ones). String
    blocks cannot: differential-dictionary replay is sequential
    (writer.cpp dict-diff chain), so they walk ``_ColFile.blocks`` in
    block order, replaying segments for pruned blocks. Ties cannot
    change the result multiset, so a block whose bound only ties the
    threshold is skipped. ``probe`` (tests) records the block rows
    whose blobs may be fetched under key "blob_rows"."""
    from arcade_spark.bits import float_order_keys
    from arcade_spark.core import decode_int_block, decode_str_block, replay_str_block
    from arcade_spark.gdict import GlobalDictDecoder

    is_str = vt in ("str", "binary")
    # the kernel orders raw bytes, so a str column reads as binary
    cf = _ColFile(out_dir, pid, column, "binary" if is_str else vt)
    cm = cf.cm
    n_valid = cm.n_values - cm.n_nulls
    if is_str:
        ok = [n_valid[i] > 0 and cm.min_bin[i] is not None
              and cm.max_bin[i] is not None for i in range(cm.n)]
        los = [mb if o else None for mb, o in zip(cm.min_bin, ok)]
        his = [None if not o else xb if ex else _next_prefix(xb)
               for xb, ex, o in zip(cm.max_bin, cm.max_exact, ok)]
    else:
        ok = cm.has_zone & (n_valid > 0)
        los, his = cm.min_int.tolist(), cm.max_int.tolist()
    valid = np.flatnonzero(ok)

    # metadata-only threshold t0: pick blocks by their guaranteed-side
    # bound until >= k values are guaranteed at-least(t0)/at-most(t0);
    # unbounded-above blocks can't contribute to an ascending guarantee
    side = los if descending else his
    t0 = None
    cum = 0
    for i in sorted((i for i in valid if side[i] is not None),
                    key=lambda i: side[i], reverse=descending):
        cum += int(n_valid[i])
        if cum >= k:
            t0 = side[i]
            break

    def beats(i: int, t) -> bool:
        if t is None:
            return True
        if descending:
            return his[i] is None or his[i] > t
        return los[i] < t

    alive = np.zeros(cm.n, dtype=bool)
    alive[[i for i in valid if beats(i, t0)]] = True
    if probe is not None:
        probe["blob_rows"] = np.flatnonzero(alive).tolist()
        probe["t0"] = t0
    gdec = GlobalDictDecoder() if is_str else None
    best = np.empty(0, dtype=object if is_str else np.int64)  # ascending

    def threshold():
        if len(best) < k:
            return t0
        t = best[0] if descending else best[-1]
        if t0 is None:
            return t
        return max(t, t0) if descending else min(t, t0)

    def walk():
        if is_str:  # dictionary replay is sequential: block order
            yield from cf.blocks(alive)
            return
        # exact int bounds: bound order, the first loser ends the walk
        hit = np.flatnonzero(alive)
        order = np.argsort(np.array(his if descending else los)[hit], kind="stable")
        got: dict[int, dict] = {}
        for b in hit[order[::-1] if descending else order]:
            if not beats(b, threshold()):
                return
            rg = int(np.searchsorted(cf.rg_off, b, side="right")) - 1
            if rg not in got:
                lo, hi = cf.rg_off[rg], cf.rg_off[rg + 1]
                got[rg] = cf.read({"blob": hit[(hit >= lo) & (hit < hi)]})["blob"]
            yield int(b), cm.meta_dict(int(b)), got[rg][int(b)]

    for b, meta, blob in walk():
        if blob is None or not beats(b, threshold()):
            replay_str_block(meta, gdec)
            continue
        if is_str:
            arr = decode_str_block(blob, meta, gdec).to_arrow(binary=True).drop_null()
            vals = np.array(arr.to_pylist(), dtype=object)
        else:
            blk = decode_int_block(blob, meta)
            vals = blk.values if blk.validity is None else blk.values[blk.validity]
            if vt in ("double", "float"):
                vals = float_order_keys(vals)
        merged = np.sort(np.concatenate([best, vals]))
        best = merged[-k:] if descending else merged[:k]
    return best


def column_agg_parts(spark: SparkSession, m: Manifest, column: str) -> DataFrame:
    """``column_agg(mode="ieee")`` (round-5, double/float only): TRUE
    IEEE float64 sums for arbitrary doubles the fixed-point contract
    can't carry (huge magnitudes, full precision, ±inf/NaN propagate per
    IEEE). Summation order is PINNED — per-block pairwise np.sum, Kahan
    compensation across blocks in block order, parts folded in part_id
    order on the driver — so the result is deterministic across runs
    and cluster sizes, but only tolerance-comparable (≈1e-15 relative)
    against other engines, which own different orders. Extrema follow
    Spark's NaN-greatest contract layout-independently (any NaN ⇒ max
    NaN; min NaN only if all NaN). The fixed-point mode is the zero-key
    multi-agg kernel (``readops.column_agg``); this one runs its scan
    EAGERLY (the pinned fold happens at call time) and returns a wider
    schema (adds min_v/max_v)."""
    from arcade_spark.core import decode_int_block

    vt, out_dir = m.vt(column), m.out_dir
    if vt not in _AGG_VTS:
        raise NotImplementedError(f"column_agg {_AGG_GUARD}")
    if vt not in ("double", "float"):
        raise ValueError("mode='ieee' applies to double/float columns only")

    def ipart(pid: int) -> Iterator[pa.RecordBatch]:
        cf = _ColFile(out_dir, pid, column, vt)
        s = 0.0
        comp = 0.0  # Kahan compensation across blocks
        mn = mx = None  # extrema over NON-NaN values
        has_nan = False
        cnt_col = 0
        for _b, meta, blob in cf.blocks():
            iblock = decode_int_block(blob, meta)
            v = iblock.values
            if iblock.validity is not None:
                v = v[iblock.validity]
            f = v.view(np.float64)
            cnt_col += len(f)
            if len(f):
                bs = float(f.sum())
                if np.isfinite(bs) and np.isfinite(s):
                    y = bs - comp
                    t = s + y
                    comp = (t - s) - y
                    s = t
                else:
                    # Kahan compensation is NaN-poison around ±inf
                    # — fall back to plain IEEE accumulation
                    s = s + bs
                    comp = 0.0
                # NaN-deterministic extrema (Spark's NaN-greatest
                # contract, layout-independent): track NaN
                # presence, min/max over the non-NaN values
                nanmask = np.isnan(f)
                if nanmask.any():
                    has_nan = True
                    fv = f[~nanmask]
                else:
                    fv = f
                if len(fv):
                    bmn = float(np.min(fv))
                    bmx = float(np.max(fv))
                    mn = bmn if mn is None else min(mn, bmn)
                    mx = bmx if mx is None else max(mx, bmx)
        yield pa.RecordBatch.from_arrays(
            [pa.array([pid], type=pa.int64()),
             pa.array([s], type=pa.float64()),
             pa.array([mn], type=pa.float64()),
             pa.array([mx], type=pa.float64()),
             pa.array([bool(has_nan)], type=pa.bool_()),
             pa.array([int(cf.cm.n_values.sum())], type=pa.int64()),
             pa.array([cnt_col], type=pa.int64())],
            names=["pid", "s", "mn", "mx", "hn", "ca", "cc"],
        )

    rows = _map_parts(
        spark, m.pids, ipart,
        "pid long, s double, mn double, mx double, hn boolean, ca long, cc long",
    ).collect()
    rows = sorted(rows, key=lambda r: r["pid"])  # pinned fold order
    s = comp = 0.0
    ca = cc = 0
    mn = mx = None
    any_nan = False
    for r in rows:
        if np.isfinite(r["s"]) and np.isfinite(s):
            y = r["s"] - comp
            t = s + y
            comp = (t - s) - y
            s = t
        else:
            s = s + r["s"]
            comp = 0.0
        ca += r["ca"]
        cc += r["cc"]
        any_nan = any_nan or bool(r["hn"])
        if r["mn"] is not None:
            mn = r["mn"] if mn is None else min(mn, r["mn"])
            mx = r["mx"] if mx is None else max(mx, r["mx"])
    # Spark's NaN-greatest extrema contract, layout-independent:
    # any NaN present => max is NaN; min is NaN only when every
    # value is NaN
    if any_nan:
        mx = float("nan")
        if mn is None:
            mn = float("nan")
    avg = (s / float(cc)) if cc else None
    return spark.createDataFrame(
        [(s if cc else None, mn, mx, ca, cc, avg)],
        "sum_v double, min_v double, max_v double, "
        "cnt_all long, cnt_col long, avg_v double",
    )


def column_null_count_parts(
    spark: SparkSession, m: Manifest, column: str
) -> DataFrame:
    """``SELECT count(*), count(col), count(*) - count(col)`` from
    chunk METADATA only: each task reads the column file's chunk
    metadata — a few KB per partition, no payload bytes (parquet column
    pruning) — and the driver folds |parts| partial rows."""
    vt, out_dir = m.vt(column), m.out_dir

    def part_batches(pid: int) -> Iterator[pa.RecordBatch]:
        cm = _ColFile(out_dir, pid, column, vt).cm
        yield pa.RecordBatch.from_arrays(
            [pa.array([int(cm.n_values.sum())], type=pa.int64()),
             pa.array([int(cm.n_nulls.sum())], type=pa.int64())],
            names=["cnt", "nulls"],
        )

    rows = _map_parts(spark, m.pids, part_batches, "cnt long, nulls long").collect()
    cnt = sum(r["cnt"] for r in rows)
    nulls = sum(r["nulls"] for r in rows)
    return spark.createDataFrame(
        [(cnt, cnt - nulls, nulls)], "cnt long, n_valid long, n_nulls long"
    )


def column_minmax_parts(spark: SparkSession, m: Manifest, column: str) -> DataFrame:
    """Files-mode ``SELECT min(col), max(col), count(*)``.

    Integer-family columns answer from chunk METADATA only (zone maps
    are non-null-exact since FORMAT_REV 8; float zones invert through
    the order-preserving key map). String columns answer from metadata
    when every extremum-winning chunk's bound is exact (min_bin/max_bin
    ≤ stats.ZONE_MAX_LEN, the common case for short strings); otherwise
    the task falls back to a single-column decode pass FOR ITS OWN
    PARTITION only. Nulls are excluded from min/max (SQL semantics);
    count(*) includes them."""
    from arcade_spark.schema import spark_type_for

    vt, out_dir = m.vt(column), m.out_dir
    is_str = vt in ("str", "binary")

    def part_batches(pid: int) -> Iterator[pa.RecordBatch]:
        from arcade_spark.core import decode_str_block
        from arcade_spark.gdict import GlobalDictDecoder

        cf = _ColFile(out_dir, pid, column, vt)
        cm = cf.cm
        cnt = int(cm.n_values.sum())
        nulls = int(cm.n_nulls.sum())
        if not is_str:
            hz = cm.has_zone  # all-null chunks carry no zone
            if hz.any():
                lo = int(cm.min_int[hz].min())
                hi = int(cm.max_int[hz].max())
                lo_a = pa.array([lo], type=pa.int64())
                hi_a = pa.array([hi], type=pa.int64())
            else:
                lo_a = pa.array([None], type=pa.int64())
                hi_a = pa.array([None], type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [lo_a, hi_a, pa.array([None], type=pa.binary()),
                 pa.array([None], type=pa.binary()),
                 pa.array([cnt], type=pa.int64()),
                 pa.array([nulls], type=pa.int64())],
                names=["lo_int", "hi_int", "lo_bin", "hi_bin", "cnt", "nulls"],
            )
            return
        # string column: metadata path iff the winning bounds are
        # exact. All-null chunks carry min_bin None.
        lo = hi = None
        meta_ok = True
        for i in range(cm.n):
            if cm.n_nulls[i] == cm.n_values[i]:
                continue  # all-null chunk: no extrema
            mb, xb = cm.min_bin[i], cm.max_bin[i]
            if mb is None or xb is None:
                meta_ok = False
                break
            if lo is None or mb < lo[0]:
                lo = (mb, bool(cm.min_exact[i]))
            # max side: a TIE with an inexact candidate demotes
            # exactness — the candidate's true max extends the shared
            # 128-byte prefix and so EXCEEDS the tied "exact" winner
            # (min side is safe: an inexact tying prefix understates its
            # chunk's true min, so the exact winner remains the smaller
            # value)
            if hi is None or xb > hi[0]:
                hi = (xb, bool(cm.max_exact[i]))
            elif xb == hi[0] and not cm.max_exact[i]:
                hi = (xb, False)
        if meta_ok and lo is not None and not (lo[1] and hi[1]):
            meta_ok = False
        if not meta_ok:
            # decode fallback (this partition's column only)
            gdec = GlobalDictDecoder()
            lo_v = hi_v = None
            for _b, meta, blob in cf.blocks():
                blk = decode_str_block(blob, meta, gdec)
                arr = blk.to_arrow(binary=True)
                if blk.validity is not None:
                    arr = arr.drop_null()
                if len(arr) == 0:
                    continue
                mm = pc.min_max(arr)
                bmn, bmx = mm["min"].as_py(), mm["max"].as_py()
                if lo_v is None or bmn < lo_v:
                    lo_v = bmn
                if hi_v is None or bmx > hi_v:
                    hi_v = bmx
            lo_b, hi_b = lo_v, hi_v
        else:
            lo_b = None if lo is None else lo[0]
            hi_b = None if hi is None else hi[0]
        yield pa.RecordBatch.from_arrays(
            [pa.array([None], type=pa.int64()),
             pa.array([None], type=pa.int64()),
             pa.array([lo_b], type=pa.binary()),
             pa.array([hi_b], type=pa.binary()),
             pa.array([cnt], type=pa.int64()),
             pa.array([nulls], type=pa.int64())],
            names=["lo_int", "hi_int", "lo_bin", "hi_bin", "cnt", "nulls"],
        )

    ddl = "lo_int long, hi_int long, lo_bin binary, hi_bin binary, cnt long, nulls long"
    rows = _map_parts(spark, m.pids, part_batches, ddl).collect()

    cnt = sum(r["cnt"] for r in rows)
    if is_str:
        los = [r["lo_bin"] for r in rows if r["lo_bin"] is not None]
        his = [r["hi_bin"] for r in rows if r["hi_bin"] is not None]
        lo_v = min(los) if los else None
        hi_v = max(his) if his else None
        if vt == "str":
            lo_v = lo_v.decode() if lo_v is not None else None
            hi_v = hi_v.decode() if hi_v is not None else None
        ddl_out = f"min_v {spark_type_for(vt)}, max_v {spark_type_for(vt)}, cnt long"
        return spark.createDataFrame([(lo_v, hi_v, cnt)], ddl_out)

    los = [r["lo_int"] for r in rows if r["lo_int"] is not None]
    his = [r["hi_int"] for r in rows if r["hi_int"] is not None]
    lo = min(los) if los else None
    hi = max(his) if his else None
    ddl_out = f"min_v {spark_type_for(vt)}, max_v {spark_type_for(vt)}, cnt long"
    if vt in ("double", "float"):

        def unkey(k: int | None) -> float | None:
            if k is None:
                return None
            from arcade_spark.bits import float_order_keys

            # scalar involution: key -> raw IEEE bit pattern
            bits = float_order_keys(np.array([k], dtype=np.int64))[0]
            return float(np.int64(bits).view(np.float64))

        return spark.createDataFrame([(unkey(lo), unkey(hi), cnt)], ddl_out)
    if vt in ("ts", "tsntz"):
        import datetime as _dt

        def to_dt(us: int | None):
            if us is None:
                return None
            # exact integer micros (no float division); UTC attached for
            # tz-aware columns so the result is session-timezone-proof
            base = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc if vt == "ts" else None)
            return base + _dt.timedelta(microseconds=int(us))

        return spark.createDataFrame([(to_dt(lo), to_dt(hi), cnt)], ddl_out)
    if vt == "date":
        import datetime as _dt

        def to_date(days: int | None):
            return None if days is None else _dt.date(1970, 1, 1) + _dt.timedelta(days=int(days))

        return spark.createDataFrame([(to_date(lo), to_date(hi), cnt)], ddl_out)
    if vt == "bool":
        lo_b = bool(lo) if lo is not None else None
        hi_b = bool(hi) if hi is not None else None
        return spark.createDataFrame([(lo_b, hi_b, cnt)], ddl_out)
    lo_i = int(lo) if lo is not None else None
    hi_i = int(hi) if hi is not None else None
    return spark.createDataFrame([(lo_i, hi_i, cnt)], ddl_out)
