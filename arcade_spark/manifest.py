"""Per-partition checkpoint layout and commit protocol.

FORMAT_REV identifies the on-disk blocks/manifest format; bump it on
any incompatible change so cached encodes are never resumed across
format revisions.

Layout under an encode out_dir:

    blocks/part-NNNNN-<column>.parquet
                                  one file per (partition, column): its
                                  chunk rows in block order, 16 per
                                  parquet row group
    manifest/part-NNNNN.parquet   one-row manifest file per partition —
                                  the COMMIT MARKER: written only after
                                  every column file is durably renamed

``PartWriter`` is the only code that writes either directory: the
encode kernels feed it one block at a time, compaction whole column
tables, and its ``commit`` derives every marker figure from the chunk
rows it wrote. A new block field or a FORMAT_REV bump lands here.

This is the analogue of ARCADE's backpatched file header + blocksizes
index (writer.cpp:419-430, :488-493) re-expressed as an Iceberg-style
metadata commit: data files first, then an atomic metadata marker.
Tasks write to a hidden tmp name and ``os.replace`` — idempotent under
Spark task retries/speculation because partition contents are
deterministic (sorted by url), so two attempts produce identical bytes.

Resume = list the manifest dir: a partition is done iff its marker
exists; killed runs keep every completed partition (FIXTURES.md §4).
"""

from __future__ import annotations

import json
import os
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ...4: manifest column order; 5: narrow int vtypes (i32/i16/i8);
# 6: job-config columns in manifest rows (resume validation),
#    order-preserving float zone maps, and the seg/blob split — dict
#    segments live in their own parquet column so zone-pruned blocks
#    ship segments only (and get parquet-zstd page compression, the
#    generalization of ARCADE's snappy-over-dictionaries,
#    writer.cpp:182-187);
# 7: shuffle-mode part-id mapping changed to pmod(murmur3(locality_key),
#    P) aligned with Spark's HashPartitioning — the row→part mapping is
#    part of the format: resuming rev-6 markers under the rev-7 mapping
#    would drop/duplicate rows, so the rev check must refuse;
# 8: zone maps (min_int/max_int/min_bin/max_bin) are computed over
#    NON-NULL slots only (absent for all-null chunks) so metadata
#    min/max matches SQL null semantics, and min_exact now truthfully
#    reflects prefix truncation on the high-cardinality stats shortcut;
# 9: variable-width FSST symbol tables — the opt-in fsst_rounds= ratio
#    profile merges symbol pairs into 1-8-byte symbols, and the table
#    serialization gained per-symbol length bytes, so rev-8 readers
#    (fixed 1-2-byte symbols) cannot parse rev-9 FSST payloads
FORMAT_REV = 9

BLOCKS_ARROW_SCHEMA = pa.schema(
    [
        pa.field("part_id", pa.int32()),
        pa.field("block_id", pa.int32()),
        pa.field("column", pa.string()),
        pa.field("vtype", pa.string()),
        pa.field("codec", pa.string()),
        pa.field("post", pa.string()),
        pa.field("n_values", pa.int32()),
        pa.field("row_start", pa.int64()),
        pa.field("raw_bytes", pa.int64()),
        pa.field("encoded_bytes", pa.int64()),
        pa.field("n_distinct", pa.int64()),
        pa.field("n_runs", pa.int64()),
        pa.field("n_nulls", pa.int64()),
        pa.field("code_width", pa.int32()),
        pa.field("dict_len", pa.int64()),
        pa.field("global_start", pa.int64()),
        pa.field("global_size", pa.int64()),
        pa.field("gdict_epoch", pa.int32()),
        pa.field("gdict_reset", pa.bool_()),
        pa.field("gdict_seed", pa.bool_()),
        pa.field("min_bin", pa.binary()),
        pa.field("max_bin", pa.binary()),
        pa.field("min_exact", pa.bool_()),
        pa.field("max_exact", pa.bool_()),
        pa.field("min_int", pa.int64()),
        pa.field("max_int", pa.int64()),
        pa.field("entropy", pa.float64()),
        pa.field("kernel_ms", pa.float64()),
        pa.field("blob", pa.large_binary()),
        # dict segment (differential diff / local seed), split from the
        # blob so replay-only chunks ship segments without code arrays
        pa.field("seg", pa.large_binary()),
    ]
)

MANIFEST_ARROW_SCHEMA = pa.schema(
    [
        pa.field("part_id", pa.int32()),
        pa.field("n_blocks", pa.int32()),
        pa.field("n_cols", pa.int32()),
        pa.field("n_rows", pa.int64()),
        pa.field("raw_bytes", pa.int64()),
        pa.field("encoded_bytes", pa.int64()),
        pa.field("encode_seconds", pa.float64()),
        pa.field("throughput_mbps", pa.float64()),
        pa.field("codec_counts", pa.string()),
        pa.field("columns", pa.string()),  # json [[name, vtype], ...] in encode order
        pa.field("run_id", pa.string()),
        pa.field("status", pa.string()),
        # job config stamped into every marker: resume refuses to trust
        # markers whose row→part mapping could differ from this run's
        pa.field("format_rev", pa.int32()),
        pa.field("mode", pa.string()),  # shuffle | files
        pa.field("num_parts", pa.int32()),
        pa.field("salt_buckets", pa.int32()),
        pa.field("order_col", pa.string()),
        pa.field("source", pa.string()),  # files-mode: the source file
    ]
)


def blocks_path(out_dir: str, part_id: int, column: str | None = None) -> str:
    suffix = f"-{column}" if column else ""
    return os.path.join(out_dir, "blocks", f"part-{part_id:05d}{suffix}.parquet")


def manifest_path(out_dir: str, part_id: int) -> str:
    return os.path.join(out_dir, "manifest", f"part-{part_id:05d}.parquet")


def completed_parts(out_dir: str) -> set[int]:
    mdir = os.path.join(out_dir, "manifest")
    if not os.path.isdir(mdir):
        return set()
    out = set()
    for fn in os.listdir(mdir):
        if fn.startswith("part-") and fn.endswith(".parquet"):
            out.add(int(fn[5:-8]))
    return out


def validated_completed_parts(
    out_dir: str,
    *,
    mode: str,
    num_parts: int = 0,
    salt_buckets: int = 0,
    order_col: str = "",
    sources: dict[int, str] | None = None,
    part_range: tuple[int, int] | None = None,
) -> set[int]:
    """``completed_parts`` with config validation: a marker is only
    trusted if it was produced under the same row→part mapping as this
    run. Resuming with a changed num_parts / salt_buckets / order_col
    would silently drop or duplicate rows (the new part-id assignment
    filtered against old markers); a changed source-file list in files
    mode shifts pid→file assignments the same way. Raises ValueError on
    any mismatch instead. ``part_range`` limits the config check to this
    run's id range (streaming batches share an out_dir with disjoint
    ranges); format_rev is checked on every marker unconditionally."""
    mdir = os.path.join(out_dir, "manifest")
    done = completed_parts(out_dir)
    if not done or not os.path.isdir(mdir):
        return done
    t = pq.read_table(mdir)
    if "format_rev" not in t.schema.names:
        raise ValueError(
            f"{out_dir} was written before FORMAT_REV was stamped into "
            f"manifest rows (rev < 6); refusing to resume — use a fresh out_dir"
        )
    rows = t.select(
        ["part_id", "format_rev", "mode", "num_parts", "salt_buckets",
         "order_col", "source"]
    ).to_pylist()
    for r in rows:
        pid = r["part_id"]
        if r["format_rev"] != FORMAT_REV:
            raise ValueError(
                f"{out_dir} part {pid}: format_rev {r['format_rev']} != "
                f"current {FORMAT_REV}; refusing to resume across format revisions"
            )
        if part_range is not None and not (part_range[0] <= pid < part_range[1]):
            continue
        if r["mode"] != mode:
            raise ValueError(f"{out_dir} part {pid}: encoded in mode "
                             f"{r['mode']!r}, resuming in {mode!r}")
        if mode == "files":
            want = (sources or {}).get(pid)
            if r["source"] != want:
                raise ValueError(
                    f"{out_dir} part {pid}: marker was for source "
                    f"{r['source']!r} but the current file list maps this "
                    f"part to {want!r} — source files changed; use a fresh out_dir"
                )
        else:
            if (r["num_parts"], r["salt_buckets"], r["order_col"]) != (
                num_parts, salt_buckets, order_col
            ):
                raise ValueError(
                    f"{out_dir} part {pid}: marker config (num_parts="
                    f"{r['num_parts']}, salt_buckets={r['salt_buckets']}, "
                    f"order_col={r['order_col']!r}) != this run's ("
                    f"{num_parts}, {salt_buckets}, {order_col!r}) — the "
                    f"row→part mapping differs; use a fresh out_dir"
                )
    return done


class PartWriter:
    """The one writer of a partition: streams its chunk rows to one
    blocks file per column, then commits the manifest marker. Encode
    feeds it block by block (``write_block``), compaction column table
    by column table (``append``); row groups hold ``_FLUSH_ROWS`` chunk
    rows, so task memory stays O(row group) and payload reads stay
    row-group-prunable. Every marker figure comes from the rows
    written."""

    _FLUSH_ROWS = 16  # chunk rows per parquet row group (per column)

    def __init__(self, out_dir: str, part_id: int, run_id: str,
                 columns: list[tuple[str, str]] | None = None,
                 job_info: dict | None = None):
        self.out_dir = out_dir
        self.part_id = part_id
        self.run_id = run_id
        self.columns = columns or []
        self.job_info = {
            "mode": "shuffle", "num_parts": 0, "salt_buckets": 0,
            "order_col": "", "source": "", **(job_info or {}),
        }
        os.makedirs(os.path.join(out_dir, "blocks"), exist_ok=True)
        os.makedirs(os.path.join(out_dir, "manifest"), exist_ok=True)
        # one file per COLUMN: columnar at the file level, so a filtered
        # read of (lang, text) never opens the html blobs at all —
        # Catalyst's In(column, ...) predicate prunes whole files
        self._tmps: dict[str, str] = {}
        self._writers: dict[str, pq.ParquetWriter] = {}
        self._pending: dict[str, list[pa.Table]] = {}
        self._counts: dict[str, tuple[int, int]] = {}  # column → (chunks, values)
        self._sums = {"raw_bytes": 0, "encoded_bytes": 0, "kernel_ms": 0.0}
        self._codecs: dict[str, int] = {}

    @property
    def n_blocks(self) -> int:
        return max((b for b, _ in self._counts.values()), default=0)

    @property
    def n_rows(self) -> int:
        return max((n for _, n in self._counts.values()), default=0)

    def write_block(self, chunk_rows: list[dict]) -> None:
        """Append one block: its chunk row of each column."""
        t = pa.Table.from_pylist(chunk_rows, schema=BLOCKS_ARROW_SCHEMA)
        for i, r in enumerate(chunk_rows):
            self.append(r["column"], t.slice(i, 1))

    def append(self, column: str, rows: pa.Table) -> None:
        """Append ``column``'s next chunk rows (``BLOCKS_ARROW_SCHEMA``,
        in block order); each full ``_FLUSH_ROWS`` goes out as one row
        group."""
        b, n = self._counts.get(column, (0, 0))
        self._counts[column] = (b + rows.num_rows, n + (pc.sum(rows["n_values"]).as_py() or 0))
        pending = self._pending.setdefault(column, [])
        pending.append(rows)
        if sum(t.num_rows for t in pending) >= self._FLUSH_ROWS:
            self._flush(column, final=False)

    def _flush(self, column: str, final: bool) -> None:
        t = pa.concat_tables(self._pending.pop(column)).combine_chunks()
        end = t.num_rows if final else t.num_rows - t.num_rows % self._FLUSH_ROWS
        for start in range(0, end, self._FLUSH_ROWS):
            self._write(column, t.slice(start, min(self._FLUSH_ROWS, end - start)))
        if end < t.num_rows:
            self._pending[column] = [t.slice(end)]

    def _write(self, column: str, rows: pa.Table) -> None:
        w = self._writers.get(column)
        if w is None:
            tmp = os.path.join(
                self.out_dir, "blocks",
                f".tmp-{self.part_id:05d}-{column}-{uuid.uuid4().hex[:8]}.parquet",
            )
            # blobs are already codec-compressed — parquet must not
            # re-compress them (wasted CPU both ways); segs are raw
            # serialized dictionaries — zstd pages give them the
            # snappy-over-dicts post-pass of the reference (W11)
            w = pq.ParquetWriter(
                tmp, BLOCKS_ARROW_SCHEMA,
                compression={"blob": "none", "seg": "zstd"},
            )
            self._tmps[column] = tmp
            self._writers[column] = w
        w.write_table(rows)
        for k in self._sums:
            self._sums[k] += pc.sum(rows[k]).as_py() or 0
        for c in rows["codec"].to_pylist():
            self._codecs[c] = self._codecs.get(c, 0) + 1

    def commit(self) -> dict:
        """Flush, rename every column file into place, then write the
        marker. Raises ValueError, before anything is renamed, when the
        columns disagree on block count or row total."""
        counts = set(self._counts.values())
        if len(counts) > 1:
            raise ValueError(
                f"part {self.part_id}: columns disagree on (blocks, rows): "
                f"{self._counts}"
            )
        n_blocks, n_rows = counts.pop() if counts else (0, 0)
        for column in list(self._pending):
            self._flush(column, final=True)
        for column, w in self._writers.items():
            w.close()
            os.replace(self._tmps[column], blocks_path(self.out_dir, self.part_id, column))
        secs = self._sums["kernel_ms"] / 1000.0
        row = {
            "part_id": self.part_id,
            "n_blocks": n_blocks,
            "n_cols": len(self._writers),
            "n_rows": n_rows,
            "raw_bytes": self._sums["raw_bytes"],
            "encoded_bytes": self._sums["encoded_bytes"],
            "encode_seconds": secs,
            "throughput_mbps": self._sums["raw_bytes"] / max(secs, 1e-9) / 1e6,
            "codec_counts": json.dumps(self._codecs, sort_keys=True),
            "columns": json.dumps([list(c) for c in self.columns]),
            "run_id": self.run_id,
            "status": "done",
            "format_rev": FORMAT_REV,
            **self.job_info,
        }
        mtmp = os.path.join(
            self.out_dir, "manifest", f".tmp-{self.part_id:05d}-{uuid.uuid4().hex[:8]}.parquet"
        )
        pq.write_table(pa.Table.from_pylist([row], schema=MANIFEST_ARROW_SCHEMA), mtmp)
        os.replace(mtmp, manifest_path(self.out_dir, self.part_id))
        return row

    def abort(self) -> None:
        for column, w in self._writers.items():
            try:
                w.close()
            finally:
                tmp = self._tmps.get(column)
                if tmp and os.path.exists(tmp):
                    os.remove(tmp)


def verify_integrity(spark, out_dir: str) -> dict:
    """Cross-check manifest vs blocks: every committed partition's
    blocks file must exist with matching block/row counts (guards the
    silent-shrink failure mode when files go missing). A zero-row part
    (an empty source file) commits a marker and no column files."""
    from pyspark.sql import functions as F

    manifest = spark.read.parquet(os.path.join(out_dir, "manifest"))
    blocks = spark.read.parquet(os.path.join(out_dir, "blocks"))
    per_part = blocks.groupBy("part_id").agg(
        F.countDistinct("block_id").alias("b_blocks"),
        F.sum(F.when(F.col("block_id") >= 0, F.col("n_values")).otherwise(0)).alias("chunk_vals"),
        F.countDistinct("column").alias("b_cols"),
    )
    joined = (
        manifest.alias("m")
        .join(per_part.alias("b"), "part_id", "full_outer")
        .withColumn(
            "ok",
            F.when(F.col("b.b_blocks").isNull(),
                   (F.col("m.n_rows") == 0) & (F.col("m.n_blocks") == 0))
            .otherwise(
                (F.col("m.n_blocks") == F.col("b.b_blocks"))
                & (F.col("m.n_cols") == F.col("b.b_cols"))
                & (F.col("m.n_rows") * F.col("b.b_cols") == F.col("b.chunk_vals"))
            ),
        )
    )
    bad = joined.filter(~F.coalesce(F.col("ok"), F.lit(False))).select("part_id").collect()
    return {"ok": not bad, "bad_parts": sorted(r.part_id for r in bad)}
