"""Round-2 correctness fixes (ADVICE.md):

1. equi_filter on double/float columns — values are stored bitcast to
   int64; equality must compare bit patterns of the *float* query value
   and the zone map must live in an order-preserving key domain
   (bits.float_order_keys), or negative floats prune wrongly.
2. Resume config validation — markers are only trusted when the
   row→part mapping (num_parts / salt_buckets / order_col / source
   file list) and FORMAT_REV match the run that wrote them.
3. decode_str_positions with duplicate positions (random_access with
   repeated row ids) must not corrupt plain/fsst payload slicing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from arcade_spark.bits import float_order_key, float_order_keys
from arcade_spark.blocks import StrBlock
from arcade_spark.core import decode_str_positions, encode_str_block
from arcade_spark.encode import encode_job
from arcade_spark.gdict import GlobalDict, GlobalDictDecoder
from arcade_spark.readops import equi_filter, random_access


def test_float_order_keys_are_order_preserving():
    vals = np.array(
        [-np.inf, -1e300, -2.0, -1.0, -0.5, -1e-300, 0.0, 1e-300, 0.5, 1.0, 2.0, 1e300, np.inf]
    )
    keys = float_order_keys(vals.view(np.int64))
    assert (np.diff(keys) > 0).all()
    for v in vals:
        assert float_order_key(float(v)) == keys[list(vals).index(v)]


@pytest.fixture(scope="module")
def double_table(spark, tmp_path_factory):
    """Table with a negative-heavy double column arranged so bitcast
    zone maps would prune the matching block (the round-1 bug)."""
    rng = np.random.default_rng(11)
    n = 2000
    vals = np.round(rng.normal(-5.0, 3.0, n), 3)  # mostly negative
    vals[::97] = -3.25  # exact target value, spread across blocks
    pdf = pd.DataFrame(
        {
            "url": [f"https://h{i % 7}.example/{i}" for i in range(n)],
            "value": vals,
            "k": np.arange(n, dtype=np.int64),
        }
    )
    src = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("dbl") / "enc")
    encode_job(spark, src, out, num_parts=3, block_rows=256)
    return out, pdf


def test_equi_filter_double_equality(spark, double_table):
    out, pdf = double_table
    got = equi_filter(spark, out, "value", -3.25, project=["k"]).toPandas()
    want = sorted(pdf.loc[pdf["value"] == -3.25, "k"].tolist())
    assert sorted(got["k"].tolist()) == want
    assert len(want) > 0


def test_equi_filter_double_no_match(spark, double_table):
    out, _ = double_table
    got = equi_filter(spark, out, "value", 123456.75, project=["k"]).toPandas()
    assert len(got) == 0


def test_resume_rejects_changed_config(spark, tmp_path_factory):
    from arcade_spark.corpus import write_corpus

    path = str(tmp_path_factory.mktemp("rc") / "c.parquet")
    write_corpus(path, n_rows=800, seed=3)
    src = spark.read.parquet(path)
    out = str(tmp_path_factory.mktemp("rc") / "enc")
    encode_job(spark, src, out, num_parts=4, block_rows=512)
    with pytest.raises(ValueError, match="num_parts"):
        encode_job(spark, src, out, num_parts=8, block_rows=512)
    with pytest.raises(ValueError, match="order_col|mapping"):
        encode_job(spark, src, out, num_parts=4, order_col="text", block_rows=512)
    # identical config resumes fine (all parts skipped)
    m = encode_job(spark, src, out, num_parts=4, block_rows=512)
    assert m["new_parts"] == 0 and m["skipped_parts"] == 4


def test_files_resume_rejects_changed_source_list(spark, tmp_path_factory):
    from arcade_spark.corpus import write_corpus_files
    from arcade_spark.encode import encode_files_job

    d = str(tmp_path_factory.mktemp("fc") / "files")
    write_corpus_files(d, 600, 3, seed=5)
    out = str(tmp_path_factory.mktemp("fc") / "enc")
    encode_files_job(spark, d, out, block_rows=512)
    # a new file that sorts FIRST shifts every pid→file assignment
    import shutil, os

    victims = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    shutil.copy(os.path.join(d, victims[0]), os.path.join(d, "aaa-new.parquet"))
    with pytest.raises(ValueError, match="source"):
        encode_files_job(spark, d, out, block_rows=512)


def test_random_access_duplicate_row_ids(spark, tmp_path_factory):
    from arcade_spark.corpus import write_corpus

    path = str(tmp_path_factory.mktemp("dup") / "c.parquet")
    write_corpus(path, n_rows=700, seed=8)
    src = spark.read.parquet(path)
    out = str(tmp_path_factory.mktemp("dup") / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=128)
    got = random_access(spark, out, [5, 5, 130, 5, 130], project=["url", "text"]).toPandas()
    assert len(got) == 5
    assert got["row_id"].value_counts()[5] == 3
    by_id = got.drop_duplicates("row_id").set_index("row_id")
    # duplicates must be byte-identical to each other
    for rid in (5, 130):
        vals = got.loc[got["row_id"] == rid, "text"].unique()
        assert len(vals) == 1
    # and consistent with a singleton lookup
    single = random_access(spark, out, [5, 130], project=["url", "text"]).toPandas()
    s_by = single.set_index("row_id")
    for rid in (5, 130):
        assert s_by.loc[rid, "text"] == by_id.loc[rid, "text"]
        assert s_by.loc[rid, "url"] == by_id.loc[rid, "url"]


def test_decode_str_positions_duplicates_plain():
    """Direct kernel check: plain/fsst path with duplicate positions
    previously produced lengths/payload disagreement."""
    values = [b"alpha", b"bravo-longer", b"c", b"delta", b"echo"]
    lengths = np.array([len(v) for v in values], dtype=np.int64)
    block = StrBlock(lengths=lengths, payload=b"".join(values))
    gd = GlobalDict()
    # force plain: high distinct ratio (5/5) triggers the plain rule
    blob, meta = encode_str_block(block, gd)
    assert meta["codec"] in ("plain", "fsst")
    out = decode_str_positions(blob, meta, np.array([1, 1, 3, 3, 3]), GlobalDictDecoder())
    got = [bytes(v) for v in out.to_object_array()]
    assert got == [b"bravo-longer", b"bravo-longer", b"delta", b"delta", b"delta"]
    assert int(out.lengths.sum()) == len(out.payload)


def test_word_packed_bitpack_matches_reference():
    """pack_uints/unpack_uints word-packed fast path is byte-identical
    to the bit-matrix reference for every width (the on-disk format
    depends on it — blocks must stay bit-identical across revisions)."""
    from arcade_spark.bits import (
        _pack_uints_bitmatrix,
        _unpack_uints_bitmatrix,
        pack_uints,
        unpack_uints,
    )

    rng = np.random.default_rng(42)
    for width in range(1, 65):
        hi = 2**width if width < 64 else 2**63
        for n in (0, 1, 5, 64, 193):
            a = rng.integers(0, hi, n, dtype=np.uint64)
            packed = pack_uints(a, width)
            assert packed == _pack_uints_bitmatrix(a, width)
            assert (unpack_uints(packed, width, n) == a).all()
            assert (_unpack_uints_bitmatrix(packed, width, n) == a).all()


@pytest.fixture(scope="module")
def fetch_table(spark, tmp_path_factory):
    """(encoded dir, source corpus path): 4000 corpus rows in 2 parts
    of 128-row blocks."""
    from arcade_spark.corpus import write_corpus

    path = str(tmp_path_factory.mktemp("rap") / "c.parquet")
    write_corpus(path, n_rows=4000, seed=13)
    src = spark.read.parquet(path)
    out = str(tmp_path_factory.mktemp("rap") / "enc")
    encode_job(spark, src, out, num_parts=2, block_rows=128)
    return out, path


@pytest.fixture
def fetched(monkeypatch):
    """Every payload read, recorded as {(file path, payload column):
    [block rows]} — all reads go through ``_ColFile.read``."""
    from arcade_spark import partread

    rec: dict[tuple[str, str], list[int]] = {}
    read = partread._ColFile.read

    def record(self, rows):
        for column, idx in rows.items():
            rec.setdefault((self.path, column), []).extend(int(i) for i in idx)
        return read(self, rows)

    monkeypatch.setattr(partread._ColFile, "read", record)
    return rec


def _pop_fetch_rule(fetched, out, pid, name, vt, cm, hit):
    """Pop one column file's recorded reads and check the fetch rule:
    blob rows are exactly the ``hit`` blocks; seg rows (str/binary
    only) are the stateful-or-hit blocks up to the last hit."""
    from arcade_spark.manifest import blocks_path

    fpath = blocks_path(out, pid, name)
    assert sorted(fetched.pop((fpath, "blob"))) == hit.tolist()
    segs = fetched.pop((fpath, "seg"), [])
    if vt in ("str", "binary"):
        rng = np.arange(cm.n)
        want = (cm.stateful | np.isin(rng, hit)) & (rng <= hit[-1])
        assert sorted(segs) == np.nonzero(want)[0].tolist()
    else:
        assert segs == []


def test_random_access_ships_only_touched_blocks(fetch_table, fetched):
    """VERDICT #3: a point lookup fetches blob bytes only for blocks
    containing requested rows, and seg bytes only for those blocks and
    the stateful dict chunks before the last of them — checked on the
    per-partition kernel with every payload fetch recorded."""
    import pyarrow as pa

    from arcade_spark import partread

    out, _ = fetch_table
    m = partread.Manifest.read(out)
    cols = list(m.cols)
    targets = partread._random_access_targets(m, [3, 1500, 2500, 3999])
    fulls = {
        pid: pa.Table.from_batches(
            list(partread._scan_part_batches(out, pid, cols, False))
        )
        for pid in targets
    }
    fetched.clear()  # only the lookups' reads are under test
    n_blocks = n_blob = 0
    for pid, local in targets.items():
        local = sorted(local)
        lps = np.array([lp for lp, _ in local], dtype=np.int64)
        got = pa.Table.from_batches(
            list(partread._ra_part_batches(out, pid, local, cols))
        )
        assert got.column("row_id").to_pylist() == [rid for _, rid in local]
        assert got.drop(["row_id"]).equals(fulls[pid].take(pa.array(lps)))
        for name, vt in cols:
            cm = partread._ColFile(out, pid, name, vt).cm
            hit = np.unique(
                np.searchsorted(cm.row_start + cm.n_values, lps, side="right")
            )
            _pop_fetch_rule(fetched, out, pid, name, vt, cm, hit)
            n_blocks += cm.n
            n_blob += len(hit)
    assert not fetched
    assert n_blob < n_blocks / 3, (n_blob, n_blocks)


def test_filter_ships_only_matched_blocks(fetch_table, fetched):
    """The same fetch rule on the filter projection: a selective
    predicate's str + int projection fetches blob bytes only for
    matched blocks and seg bytes only for those and the stateful chunks
    before the last match, and its rows equal the full scan's at the
    match positions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from arcade_spark import partread
    from arcade_spark.manifest import blocks_path
    from arcade_spark.readops import _Pred

    out, path = fetch_table
    cols, parts = partread.load_manifest(out)
    vt_of = dict(cols)
    urls = pq.read_table(path, columns=["url"]).column("url").to_pylist()
    conjuncts = [[_Pred("url", vt_of["url"], ("in", [urls[i] for i in (3, 1500, 2500, 3999)]))]]
    proj = [("text", vt_of["text"]), ("warc_ts", vt_of["warc_ts"])]
    assert vt_of["text"] == "str" and vt_of["warc_ts"] not in ("str", "binary")
    pids = [pid for pid, _ in parts]
    fulls = {
        pid: pa.Table.from_batches(
            list(partread._scan_part_batches(out, pid, proj, False))
        )
        for pid in pids
    }
    matches = {pid: partread._part_match_positions(out, pid, conjuncts)[0]
               for pid in pids}
    fetched.clear()  # only the filter's projection reads are under test
    n_blocks = n_blob = n_rows = 0
    for pid in pids:
        pos_of = matches[pid]
        hit = np.flatnonzero([len(p) for p in pos_of])
        got = pa.Table.from_batches(
            list(partread._filter_part_batches(out, pid, conjuncts, proj, False)),
            schema=partread._out_schema(proj),
        )
        cm = partread._ColFile(out, pid, "text", "str").cm
        rows = [cm.row_start[b] + pos_of[b] for b in hit]
        want = np.concatenate(rows) if rows else np.zeros(0, dtype=np.int64)
        assert got.equals(fulls[pid].take(pa.array(want)))
        n_rows += len(want)
        # the predicate pass's own reads of url are not under test
        for col in ("blob", "seg"):
            fetched.pop((blocks_path(out, pid, "url"), col), None)
        for name, vt in proj:
            if not len(hit):
                assert (blocks_path(out, pid, name), "blob") not in fetched
                continue
            cm_c = partread._ColFile(out, pid, name, vt).cm
            _pop_fetch_rule(fetched, out, pid, name, vt, cm_c, hit)
            n_blocks += cm_c.n
            n_blob += len(hit)
    assert not fetched
    assert n_rows >= 4
    assert n_blob < n_blocks / 3, (n_blob, n_blocks)


def test_equi_filter_prunes_projection_blobs(spark, double_table):
    """Projection chunks of zone-pruned blocks must not ship blobs:
    a selective filter's result is exact while non-matching blocks'
    projection columns are replay-only."""
    out, pdf = double_table
    got = equi_filter(spark, out, "k", 42, project=["url", "value"]).toPandas()
    assert len(got) == 1
    assert got["url"][0] == pdf["url"][42]
    assert got["value"][0] == pdf["value"][42]


@pytest.fixture(scope="module")
def encoded_corpus(spark, tmp_path_factory):
    from arcade_spark.corpus import write_corpus

    path = str(tmp_path_factory.mktemp("rng") / "c.parquet")
    write_corpus(path, n_rows=3000, seed=17)
    src = spark.read.parquet(path)
    out = str(tmp_path_factory.mktemp("rng") / "enc")
    encode_job(spark, src, out, num_parts=3, block_rows=256)
    return out, src


def test_filter_range_str(spark, encoded_corpus):
    from arcade_spark.readops import filter_range
    from pyspark.sql import functions as F

    out, src = encoded_corpus
    got = filter_range(spark, out, "lang", "de", "el", project=["url"]).toPandas()
    want = src.filter((F.col("lang") >= "de") & (F.col("lang") <= "el")).select("url").toPandas()
    assert sorted(got["url"]) == sorted(want["url"])
    assert len(want) > 0


def test_filter_range_int_ts(spark, encoded_corpus):
    from arcade_spark.readops import filter_range
    from pyspark.sql import functions as F

    out, src = encoded_corpus
    bounds = src.agg(F.min("warc_ts"), F.max("warc_ts")).collect()[0]
    lo_us = int(pd.Timestamp(bounds[0]).value // 1000)  # epoch µs
    hi_us = lo_us + (int(pd.Timestamp(bounds[1]).value // 1000) - lo_us) // 3
    got = filter_range(spark, out, "warc_ts", lo_us, hi_us, project=["url"]).toPandas()
    lo_ts = pd.Timestamp(lo_us * 1000)
    hi_ts = pd.Timestamp(hi_us * 1000)
    want = src.filter(
        (F.col("warc_ts") >= F.lit(lo_ts)) & (F.col("warc_ts") <= F.lit(hi_ts))
    ).select("url").toPandas()
    assert sorted(got["url"]) == sorted(want["url"])
    assert 0 < len(want) < src.count()


def test_filter_range_double_negatives(spark, double_table):
    from arcade_spark.readops import filter_range

    out, pdf = double_table
    got = filter_range(spark, out, "value", -6.0, -4.0, project=["k"]).toPandas()
    want = sorted(pdf.loc[(pdf["value"] >= -6.0) & (pdf["value"] <= -4.0), "k"])
    assert sorted(got["k"].tolist()) == want
    assert len(want) > 0


def test_filter_range_count_only(spark, encoded_corpus):
    from arcade_spark.readops import filter_range
    from pyspark.sql import functions as F

    out, src = encoded_corpus
    per_block = filter_range(spark, out, "lang", "zz", "zzz", count_only=True)
    row = per_block.agg(F.sum("matches").alias("m"), F.sum("zone_skipped").alias("z")).collect()[0]
    assert int(row["m"]) == 0
    assert int(row["z"]) > 0  # zone maps actually pruned out-of-range blocks


def test_group_count_decode_free(spark, encoded_corpus):
    """group_count aggregates on dictionary codes (no payload
    materialization on dict/rle blocks) and must match a plain-source
    GROUP BY exactly."""
    from arcade_spark.readops import group_count

    out, src = encoded_corpus
    got = group_count(spark, out, "lang").toPandas().set_index("lang")["cnt"]
    want = (
        src.groupBy("lang").count().toPandas().set_index("lang")["count"]
    )
    assert sorted(got.index) == sorted(want.index)
    for k in want.index:
        assert int(got[k]) == int(want[k]), k


def test_part_id_aligns_with_shuffle_placement(spark, tmp_path_factory):
    """The encode part id is pmod(murmur3(locality_key), P) — it must
    equal the Spark partition index after repartition(P, key), or the
    resume filter and the kernel would disagree with actual placement
    (one part split across tasks breaks dictionary state)."""
    from pyspark.sql import functions as F

    from arcade_spark.corpus import write_corpus
    from arcade_spark.encode import _KEY_COL, _PART_COL, with_part_id

    path = str(tmp_path_factory.mktemp("al") / "c.parquet")
    write_corpus(path, n_rows=2000, seed=29)
    df = with_part_id(spark.read.parquet(path), 16)
    check = (
        df.repartition(16, F.col(_KEY_COL))
        .withColumn("spid", F.spark_partition_id())
        .select(_PART_COL, "spid")
        .distinct()
        .collect()
    )
    assert all(r[_PART_COL] == r["spid"] for r in check), check[:5]
    # and every spark partition holds exactly one part id
    by_spid = {}
    for r in check:
        by_spid.setdefault(r["spid"], set()).add(r[_PART_COL])
    assert all(len(v) == 1 for v in by_spid.values())


def test_group_count_int_and_double(spark, encoded_corpus, double_table):
    from arcade_spark.readops import group_count

    # timestamp column (stored as epoch-µs int lane)
    out, src = encoded_corpus
    got = group_count(spark, out, "warc_ts")
    n_groups = got.count()
    total = got.agg({"cnt": "sum"}).collect()[0][0]
    want_groups = src.select("warc_ts").distinct().count()
    assert n_groups == want_groups and total == src.count()

    # double column with negatives
    out2, pdf = double_table
    got2 = group_count(spark, out2, "value").toPandas().set_index("value")["cnt"]
    want2 = pdf.groupby("value").size()
    assert len(got2) == len(want2)
    assert int(got2[-3.25]) == int(want2[-3.25])


def test_filter_and_conjunction(spark, encoded_corpus):
    """filter_and intersects per-column predicate positions: string eq +
    timestamp range must equal the plain-source conjunction."""
    from pyspark.sql import functions as F

    from arcade_spark.readops import filter_and

    out, src = encoded_corpus
    bounds = src.agg(F.min("warc_ts"), F.max("warc_ts")).collect()[0]
    lo_us = int(pd.Timestamp(bounds[0]).value // 1000)
    hi_us = lo_us + (int(pd.Timestamp(bounds[1]).value // 1000) - lo_us) // 2
    got = filter_and(
        spark, out,
        [("eq", "lang", "en"), ("range", "warc_ts", lo_us, hi_us)],
        project=["url"],
    ).toPandas()
    want = src.filter(
        (F.col("lang") == "en")
        & (F.col("warc_ts") >= F.lit(pd.Timestamp(lo_us * 1000)))
        & (F.col("warc_ts") <= F.lit(pd.Timestamp(hi_us * 1000)))
    ).select("url").toPandas()
    assert sorted(got["url"]) == sorted(want["url"])
    assert 0 < len(want) < src.filter(F.col("lang") == "en").count()

    # count-only agrees
    cnt = (
        filter_and(spark, out,
                   [("eq", "lang", "en"), ("range", "warc_ts", lo_us, hi_us)],
                   count_only=True)
        .agg(F.sum("matches")).collect()[0][0]
    )
    assert int(cnt) == len(want)


def test_column_minmax_metadata_only(spark, encoded_corpus, double_table):
    from arcade_spark.readops import column_minmax

    out2, pdf = double_table
    row = column_minmax(spark, out2, "value").collect()[0]
    assert row["min_v"] == pdf["value"].min()
    assert row["max_v"] == pdf["value"].max()
    assert row["cnt"] == len(pdf)
    # int column
    row_k = column_minmax(spark, out2, "k").collect()[0]
    assert (row_k["min_v"], row_k["max_v"], row_k["cnt"]) == (0, len(pdf) - 1, len(pdf))
    # timestamp column
    out, src = encoded_corpus
    from pyspark.sql import functions as F

    row_t = column_minmax(spark, out, "warc_ts").collect()[0]
    want = src.agg(F.min("warc_ts"), F.max("warc_ts"), F.count("*")).collect()[0]
    assert (row_t["min_v"], row_t["max_v"], row_t["cnt"]) == (want[0], want[1], want[2])


def test_column_minmax_null_tolerant(spark, tmp_path_factory):
    """FORMAT_REV 8: zone maps exclude null slots, so metadata min/max
    matches SQL (min/max over non-null, count(*) over all) — the round-2
    guard-raise is gone. All-null columns answer NULL extrema."""
    import pyspark.sql.types as T

    from arcade_spark.readops import column_minmax

    src = spark.createDataFrame(
        [("a", 5, None), ("b", None, None), ("c", -9, None), ("d", None, None)],
        T.StructType([T.StructField("url", T.StringType()),
                      T.StructField("x", T.LongType(), True),
                      T.StructField("y", T.LongType(), True)]),
    )
    out = str(tmp_path_factory.mktemp("mmx") / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=8)
    row = column_minmax(spark, out, "x").collect()[0]
    assert (row["min_v"], row["max_v"], row["cnt"]) == (-9, 5, 4)
    row_y = column_minmax(spark, out, "y").collect()[0]
    assert (row_y["min_v"], row_y["max_v"], row_y["cnt"]) == (None, None, 4)


def test_column_minmax_string_with_nulls(spark, tmp_path_factory):
    """String minmax under nulls: null slots (b'' sentinels) must not
    poison the minimum; short strings answer metadata-only."""
    import pyspark.sql.types as T

    from arcade_spark.readops import column_minmax

    src = spark.createDataFrame(
        [("u1", "banana"), ("u2", None), ("u3", "apple"), ("u4", "cherry")],
        T.StructType([T.StructField("url", T.StringType()),
                      T.StructField("s", T.StringType(), True)]),
    )
    out = str(tmp_path_factory.mktemp("mmxs") / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=8)
    row = column_minmax(spark, out, "s").collect()[0]
    assert (row["min_v"], row["max_v"], row["cnt"]) == ("apple", "cherry", 4)


def test_filter_in(spark, encoded_corpus, double_table):
    from pyspark.sql import functions as F

    from arcade_spark.readops import filter_in

    out, src = encoded_corpus
    got = filter_in(spark, out, "lang", ["de", "el", "sv"], project=["url"]).toPandas()
    want = src.filter(F.col("lang").isin(["de", "el", "sv"])).select("url").toPandas()
    assert sorted(got["url"]) == sorted(want["url"])
    assert len(want) > 0

    out2, pdf = double_table
    got2 = filter_in(spark, out2, "value", [-3.25, 123.0], project=["k"]).toPandas()
    want2 = sorted(pdf.loc[pdf["value"].isin([-3.25, 123.0]), "k"])
    assert sorted(got2["k"].tolist()) == want2
