"""Distributed encode job: source DataFrame → encoded-blocks table +
manifest (the Spark-first re-expression of ``ArcadeWriter::compress``,
writer.cpp:379-496 — SURVEY.md §3a).

Plan shape:

    source scan (Catalyst: column pruning, filter pushdown)
      → part_id = pmod(xxhash64(host, salt), P)     [explicit skew salting]
      → repartition(P, part_id)                     [the one shuffle]
      → sortWithinPartitions(part_id, order_key)    [deterministic blocks]
      → mapInArrow(encode_kernel)                   [Arrow-native, zero-copy block slicing]
          kernel streams each partition's chunk rows to
          blocks/part-NNNNN.parquet and commits a manifest marker
          (manifest.py) — per-partition checkpoint, resumable mid-run
      → driver collects the (tiny) manifest rows for job metrics

Partitioning & skew: the default partition key is (host(url), salt)
where salt = xxhash64(url) % salt_buckets — pages of one host co-locate
(better dictionary locality) while Zipf-heavy hosts split across
``salt_buckets`` partitions, bounding the largest partition (the north
rule's explicit skew handling). Deterministic: every retry of a task
sees the same rows in the same order (sortWithinPartitions by url), so
differential-dictionary state and block contents are reproducible —
which also makes the tmp+rename block writes idempotent under Spark
task retries and speculative execution.

Resume: a partition is complete iff its manifest marker exists
(manifest.validated_completed_parts); the job anti-joins those out of the input,
so a killed run re-encodes only unfinished partitions (FIXTURES.md §4).

Scale note: out_dir must be shared storage on a real cluster (the
kernel writes through pyarrow; an s3://... or hdfs://... out_dir works
via pyarrow.fs — local paths here because the sandbox is single-host).
"""

from __future__ import annotations

import os
import time
import uuid

import numpy as np
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession, functions as F

from arcade_spark import BLOCK_ROWS
from arcade_spark.blocks import StrBlock
from arcade_spark.core import encode_int_block, encode_str_block
from arcade_spark.gdict import GlobalDict
from arcade_spark.manifest import (
    MANIFEST_ARROW_SCHEMA,
    PartWriter,
    validated_completed_parts,
)
from arcade_spark.partread import range_rows_df
from arcade_spark.schema import MANIFEST_DDL, arrow_vtype, spark_vtype

_PART_COL = "__arcade_part"
_KEY_COL = "__arcade_key"


def with_part_id(
    df: DataFrame,
    num_parts: int,
    salt_col: str = "url",
    host_col: str | None = "url",
    salt_buckets: int = 8,
    part_id_offset: int = 0,
) -> DataFrame:
    """Assign the deterministic encode partition id, ALIGNED with
    Spark's own shuffle placement.

    Locality key = xxhash64(host, salt) where salt = xxhash64(row key) %
    salt_buckets: pages of one host co-locate (dictionary sharing),
    Zipf-heavy hosts split across ``salt_buckets`` partitions.

    part_id = pmod(murmur3(key), num_parts) — EXACTLY the bucket
    ``repartition(num_parts, key)`` sends the row to (HashPartitioning
    is Pmod(Murmur3Hash(expr), n); ``F.hash`` is the same Murmur3Hash).
    One Spark partition therefore holds exactly one part id: no
    balls-in-bins double hashing (hashing P part ids into P buckets
    collides, leaving some tasks 2-3 parts and others empty), and task
    balance is row-level multinomial, not key-level."""
    if host_col is not None and host_col in df.columns:
        host = F.regexp_extract(F.col(host_col), r"^[a-z]+://([^/]+)", 1)
    else:
        host = F.lit("")
    salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(salt_buckets))
    key = F.xxhash64(host, salt)
    part = (F.pmod(F.hash(key), F.lit(num_parts)) + F.lit(part_id_offset)).cast("int")
    return df.withColumn(_KEY_COL, key).withColumn(_PART_COL, part)


def encode_chunk(
    table, columns: list[tuple[str, str]], gdicts: dict[str, GlobalDict],
    part_id: int, block_id: int, row_start: int, fsst_rounds: int = 0,
) -> list[dict]:
    """One block of rows (``table``, an Arrow table) → its chunk rows,
    one per ``columns`` entry (name, vtype) in order: the column sliced
    zero-copy into a block, profiled, encoded (strings against the
    part's running ``gdicts`` entry), timed, and tagged with its place
    in the part. Every encode kernel writes its blocks through here."""
    from arcade_spark.convert import arrow_to_block

    rows = []
    for name, vtype in columns:
        t0 = time.monotonic()
        block = arrow_to_block(table.column(name), vtype)
        if isinstance(block, StrBlock):
            gd = gdicts.setdefault(name, GlobalDict())
            blob, meta = encode_str_block(block, gd, fsst_rounds=fsst_rounds)
        else:
            blob, meta = encode_int_block(block, vtype)
        meta["kernel_ms"] = (time.monotonic() - t0) * 1000.0
        meta.update(
            part_id=part_id, block_id=block_id, column=name, vtype=vtype,
            row_start=row_start, blob=blob,
        )
        rows.append(meta)
    return rows


def make_encode_kernel(
    columns: list[tuple[str, str]],
    out_dir: str,
    run_id: str,
    block_rows: int = BLOCK_ROWS,
    job_info: dict | None = None,
    fsst_rounds: int = 0,
):
    """Build the mapInArrow kernel closure. ``columns`` is
    [(name, vtype)] in output order. State per task: one GlobalDict per
    (part_id, string column) — the reference's per-file running
    dictionary scope (writer.cpp:167-253) mapped to per-partition.
    Arrow-native end-to-end: batches are sliced zero-copy into blocks,
    no pandas objects are ever materialized. Yields one manifest row
    per completed partition."""
    import pyarrow as pa

    col_names = [name for name, _ in columns]

    def kernel(batches):
        cur_part: int | None = None
        writer: PartWriter | None = None
        buffer: list[pa.Table] = []
        buffered = 0
        gdicts: dict[str, GlobalDict] = {}

        def encode_block(table: pa.Table) -> None:
            writer.write_block(encode_chunk(
                table, columns, gdicts, cur_part, writer.n_blocks,
                writer.n_rows, fsst_rounds,
            ))

        def drain(final: bool) -> None:
            nonlocal buffer, buffered
            if buffered == 0:
                return
            head = pa.concat_tables(buffer) if len(buffer) > 1 else buffer[0]
            limit = head.num_rows if final else (head.num_rows // block_rows) * block_rows
            for start in range(0, limit, block_rows):
                encode_block(head.slice(start, min(block_rows, limit - start)))
            rest = head.slice(limit)
            buffer = [rest] if rest.num_rows else []
            buffered = rest.num_rows

        def finish_part():
            nonlocal writer, gdicts
            drain(final=True)
            if writer is not None:
                row = writer.commit()
                yield pa.RecordBatch.from_pylist([row], schema=MANIFEST_ARROW_SCHEMA)
            writer = None
            gdicts = {}

        try:
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                parts = batch.column(_PART_COL).to_numpy()
                table = pa.Table.from_batches([batch]).select(col_names)
                bounds = np.nonzero(parts[1:] != parts[:-1])[0] + 1
                seg_starts = np.concatenate([[0], bounds]).astype(np.int64)
                seg_ends = np.concatenate([bounds, [len(parts)]]).astype(np.int64)
                for s0, e0 in zip(seg_starts, seg_ends):
                    pid = int(parts[s0])
                    if cur_part is not None and pid != cur_part:
                        yield from finish_part()
                    if writer is None:
                        cur_part = pid
                        writer = PartWriter(out_dir, pid, run_id, columns=columns,
                                            job_info=job_info)
                    cur_part = pid
                    buffer.append(table.slice(int(s0), int(e0 - s0)))
                    buffered += int(e0 - s0)
                    if buffered >= block_rows:
                        drain(final=False)
            yield from finish_part()
        except Exception:
            if writer is not None:
                writer.abort()
            raise

    return kernel


def encode_job(
    spark: SparkSession,
    source: DataFrame,
    out_dir: str,
    num_parts: int = 32,
    order_col: str = "url",
    salt_buckets: int = 8,
    block_rows: int = BLOCK_ROWS,
    resume: bool = True,
    part_id_offset: int = 0,
    fsst_rounds: int = 0,
) -> dict:
    """Run the full encode pipeline; returns job metrics.
    ``fsst_rounds``: string-codec profile (0 = throughput, the default;
    >0 = ratio profile with merged FSST symbols up to 8 bytes)."""
    reserved = {_PART_COL, _KEY_COL} & set(source.columns)
    if reserved:
        raise ValueError(
            f"source schema uses reserved internal column names "
            f"{sorted(reserved)} — rename them before encoding (they "
            f"would be silently dropped/overwritten otherwise)"
        )
    columns = [
        (f.name, spark_vtype(f.dataType))
        for f in source.schema.fields
    ]
    df = with_part_id(
        source, num_parts, salt_col=order_col, host_col=order_col,
        salt_buckets=salt_buckets, part_id_offset=part_id_offset,
    )

    job_info = {
        "mode": "shuffle", "num_parts": num_parts,
        "salt_buckets": salt_buckets, "order_col": order_col, "source": "",
    }
    done = (
        validated_completed_parts(
            out_dir, mode="shuffle", num_parts=num_parts,
            salt_buckets=salt_buckets, order_col=order_col,
            part_range=(part_id_offset, part_id_offset + num_parts),
        )
        if resume
        else set()
    )
    if done:
        df = df.filter(~F.col(_PART_COL).isin(*sorted(done)))

    run_id = uuid.uuid4().hex[:12]
    kernel = make_encode_kernel(
        columns, out_dir, run_id, block_rows, job_info=job_info,
        fsst_rounds=fsst_rounds,
    )
    # the shuffle key is the raw 64-bit locality key, and part_id was
    # computed as pmod(murmur3(key), num_parts) — the exact bucket this
    # repartition sends the row to (tests assert part_id ==
    # spark_partition_id). One part per task, balanced at row level,
    # single pass (repartitionByRange would re-run the whole source
    # scan to sample range bounds).
    df = (
        df.repartition(num_parts, F.col(_KEY_COL))
        .sortWithinPartitions(_PART_COL, order_col)
        .drop(_KEY_COL)
    )
    return _run_encode(df, kernel, out_dir, len(done), run_id)


def _run_encode(df: DataFrame | None, kernel, out_dir: str, skipped: int,
                run_id: str) -> dict:
    """Run ``kernel`` over ``df`` (None: nothing left to encode) and
    return the job metrics: totals over every committed part of
    ``out_dir``, this run's and resumed ones; wall time and throughput
    of this run's."""
    t0 = time.time()
    new_rows = [] if df is None else df.mapInArrow(kernel, schema=MANIFEST_DDL).collect()
    wall_seconds = time.time() - t0
    mdir = os.path.join(out_dir, "manifest")
    sums = dict.fromkeys(["n_rows", "raw_bytes", "encoded_bytes", "encode_seconds"], 0)
    if os.path.isdir(mdir):
        t = pq.read_table(mdir, schema=MANIFEST_ARROW_SCHEMA)
        sums = {k: sum(t.column(k).to_pylist()) for k in sums}
    raw, enc = sums["raw_bytes"], sums["encoded_bytes"]
    return {
        "rows": sums["n_rows"],
        "raw_bytes": raw,
        "encoded_bytes": enc,
        "ratio": enc / raw if raw else None,
        "encode_seconds": wall_seconds,
        "kernel_seconds": sums["encode_seconds"],
        "throughput_mbps": sum(r.raw_bytes for r in new_rows) / max(wall_seconds, 1e-9) / 1e6,
        "new_parts": len(new_rows),
        "skipped_parts": skipped,
        "run_id": run_id,
    }


def encode_files_job(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    block_rows: int = BLOCK_ROWS,
    resume: bool = True,
    files_per_task: int = 1,
    fsst_rounds: int = 0,
) -> dict:
    """Files-mode encode — the 100 TB fast path.

    The north star frames encoding per *data file partition*: each task
    encodes one source parquet file, reading it with pyarrow's C++
    reader **in-process** — no JVM row conversion, no shuffle, no
    Arrow IPC of row data (which profiling showed costs ~13 ns/byte per
    core, 3× the encode kernels themselves). Spark provides
    distribution, retries, and locality; the data path is
    parquet → Arrow → numpy kernels → encoded parquet, all C/numpy.

    part_id = index in the sorted source-file list (deterministic);
    resume skips files whose manifest marker exists. Dictionary scope =
    one source file, matching ARCADE's per-file running dictionary
    exactly (writer.cpp:167-253). Skew note: with pre-partitioned
    sources (e.g. Iceberg write.distribution-mode=hash on host), file
    boundaries already embody the salting; for raw unpartitioned
    sources use the shuffle-mode ``encode_job`` instead.

    ``files_per_task`` batches several source files into one Spark task
    (the small-files amortizer): per-task overhead (python worker
    handshake, scheduling, result fetch) is constant, so a corpus of
    many small files should be grouped until each task carries a few
    hundred MB. Checkpoint granularity is unchanged — each file keeps
    its own part_id, blocks file, and manifest marker, committed as the
    task reaches it, so a killed task still resumes per file.
    """
    import pyarrow as pa

    if os.path.isdir(input_path):
        files = sorted(
            os.path.join(input_path, f)
            for f in os.listdir(input_path)
            if f.endswith(".parquet")
        )
    else:
        files = [input_path]
    if not files:
        raise ValueError(f"no parquet files under {input_path}")

    columns = [(f.name, arrow_vtype(f.type)) for f in pq.read_schema(files[0])]

    n_files = len(files)
    done = (
        validated_completed_parts(
            out_dir, mode="files", num_parts=n_files,
            sources={pid: path for pid, path in enumerate(files)},
        )
        if resume
        else set()
    )
    assignments = [(pid, path) for pid, path in enumerate(files) if pid not in done]
    run_id = uuid.uuid4().hex[:12]

    import json as _json

    fpt = max(1, int(files_per_task))
    groups = [
        (gi, _json.dumps(assignments[gi * fpt : (gi + 1) * fpt]))
        for gi in range((len(assignments) + fpt - 1) // fpt)
    ]

    def kernel(batches):
        for batch in batches:
            for row in batch.to_pylist():
                for pid, path in _json.loads(row["paths"]):
                    pid = int(pid)
                    writer = PartWriter(
                        out_dir, pid, run_id, columns=columns,
                        job_info={"mode": "files", "num_parts": n_files, "source": path},
                    )
                    gdicts: dict[str, GlobalDict] = {}
                    try:
                        pf = pq.ParquetFile(path)
                        for rb in pf.iter_batches(batch_size=block_rows):
                            writer.write_block(encode_chunk(
                                pa.Table.from_batches([rb]), columns, gdicts,
                                pid, writer.n_blocks, writer.n_rows, fsst_rounds,
                            ))
                        mrow = writer.commit()
                    except Exception:
                        writer.abort()
                        raise
                    yield pa.RecordBatch.from_pylist(
                        [mrow], schema=MANIFEST_ARROW_SCHEMA
                    )

    adf = None
    if groups:
        # EXACTLY one group per Spark partition: hash repartition(n, gid)
        # scatters n keys into n partitions with collisions (balls-in-
        # bins), leaving some task slots with 2-3 groups and others
        # empty — a silent scaling killer at low parallelism. Range
        # slicing with len(groups) slices is 1:1 deterministically.
        adf = range_rows_df(spark, [
            ("gid", "int", [g for g, _ in groups]),
            ("paths", "string", [p for _, p in groups]),
        ], len(groups))
    return _run_encode(adf, kernel, out_dir, len(done), run_id)
