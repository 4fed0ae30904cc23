"""Zero-decode compaction: merge many small encoded partitions into
fewer large ones WITHOUT re-encoding any payload bytes.

The small-files problem is the dominant operational cost of a
partitioned format at 10^12 rows (millions of encode partitions from
streaming micro-batches or per-file tasks → per-task overhead and
metadata pressure on every read). Because this format keeps all
cross-block state in the chunk metadata (dictionary resets/seeds,
``row_start`` offsets), a merged partition is just the CONCATENATION of
its sources' chunk rows with three metadata adjustments:

- ``block_id`` renumbered sequentially across the group;
- ``row_start`` shifted by the cumulative row count of preceding parts;
- ``gdict_reset`` forced TRUE on each appended part's first chunk, so
  the replayed dictionary state starts fresh exactly where the original
  partition's encoder did — decoders already handle resets, so every
  reader works on compacted output unchanged.

Payload ``blob``/``seg`` bytes are copied verbatim (parquet column
reads — no decode, no re-compression), so compaction runs at IO speed
and the decoded table is bit-identical by construction. The merged
partition commits through ``manifest.PartWriter``, the writer encode
uses: same row groups, atomic renames and marker, whose figures (the
encode time included: the copied chunks' ``kernel_ms``) come from the
chunk rows written. The job has encode_files_job's shape: one literal
row per output partition (``partread.range_rows_df``) and one
``mapInArrow`` task each that yields the partition's manifest row.

Reference parity note: ARCADE has one file per run (no compaction
surface); this operator exists for the Spark-scale layout where
partition count is an independent knob (README.md:115-131 scope).
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import SparkSession

from arcade_spark.manifest import MANIFEST_ARROW_SCHEMA, PartWriter, blocks_path


def _compact_group(
    src_dir: str,
    dest_dir: str,
    new_pid: int,
    src_pids: list[int],
    columns: list[tuple[str, str]],
    run_id: str,
) -> dict:
    """Merge one group of source partitions into dest partition
    ``new_pid`` and commit it through ``PartWriter``; returns the
    manifest row. Each source part's column files are read, adjusted
    (part id, block ids, row starts, the first chunk's reset) and
    appended in part order; the writer's block and row counts at the
    start of a part are that part's offsets."""
    writer = PartWriter(dest_dir, new_pid, run_id, columns=columns, job_info={
        "mode": "compact", "source": json.dumps(src_pids)})
    try:
        for i, spid in enumerate(src_pids):
            blk_off, row_off = writer.n_blocks, writer.n_rows
            for col, _vt in columns:
                t = pq.read_table(blocks_path(src_dir, spid, col))
                n = t.num_rows
                bid = t.column("block_id").to_numpy()
                if n > 1 and not bool(np.all(np.diff(bid) > 0)):
                    raise ValueError(f"part {spid} col {col}: not in block order")
                # an appended part's first chunk resets the replayed
                # dictionary to the fresh state its encoder started from
                reset = t.column("gdict_reset").to_numpy(zero_copy_only=False).copy()
                if i > 0:
                    reset[:1] = True
                for name, values in (
                    ("part_id", np.full(n, new_pid, dtype=np.int32)),
                    ("block_id", np.arange(blk_off, blk_off + n, dtype=np.int32)),
                    ("row_start", t.column("row_start").to_numpy() + row_off),
                    ("gdict_reset", reset),
                ):
                    t = t.set_column(t.schema.get_field_index(name), name, pa.array(values))
                writer.append(col, t)
        return writer.commit()
    except Exception:
        writer.abort()
        raise


def compact_job(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    group_size: int = 8,
    columns: list[str] | None = None,
) -> dict:
    """Compact ``src_dir`` (any completed encode output) into
    ``dest_dir`` with ~``group_size``× fewer partitions. One task per
    OUTPUT partition; consecutive source parts merge in part-id order,
    so global row order (and therefore ``random_access`` row ids) is
    preserved exactly. Idempotent under retries (deterministic bytes +
    atomic marker commit).

    ``columns`` projects the output table to a subset — the cheap way
    to DROP heavy columns after they've served their purpose (e.g. raw
    html once text is extracted): untouched columns' files never open."""
    from arcade_spark.partread import Manifest, range_rows_df
    from arcade_spark.schema import MANIFEST_DDL

    if group_size < 1:
        raise ValueError("group_size must be >= 1")
    mdir = os.path.join(dest_dir, "manifest")
    if os.path.isdir(mdir) and os.listdir(mdir):
        raise ValueError(
            f"{dest_dir}: manifest dir is not empty — compaction writes a "
            f"fresh table; mixing groups from different runs would corrupt "
            f"row ids (use a new dest_dir)"
        )
    m = Manifest.read(src_dir)
    if columns is not None:
        m.vts(columns)  # an unknown name raises before the job
    # keep source order
    columns = [(n, v) for n, v in m.cols if columns is None or n in columns]
    pids = m.pids
    groups = [pids[i: i + group_size] for i in range(0, len(pids), group_size)]
    run_id = uuid.uuid4().hex

    def kernel(batches):
        for batch in batches:
            for gid, src_pids in zip(batch["gid"].to_pylist(), batch["pids"].to_pylist()):
                row = _compact_group(src_dir, dest_dir, gid, src_pids, columns, run_id)
                yield pa.RecordBatch.from_pylist([row], schema=MANIFEST_ARROW_SCHEMA)

    # one task per output partition, as encode_files_job slices its groups
    rows = range_rows_df(spark, [
        ("gid", "int", list(range(len(groups)))),
        ("pids", "array<int>", groups),
    ], len(groups)).mapInArrow(kernel, schema=MANIFEST_DDL).collect()
    return {
        "parts_in": len(pids),
        "parts_out": len(rows),
        "n_rows": sum(r.n_rows for r in rows),
    }
