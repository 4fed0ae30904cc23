"""Multi-round FSST (round-4 ratio profile): pair-merge rounds build
1-8-byte symbols on top of the digram pass. Round-trip exactness over
adversarial inputs, escape-adjacency safety, table serialization, and
the full encode_job pipeline at fsst_rounds>0."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from arcade_spark.blocks import StrBlock, strblock_from_arrow
from arcade_spark.codecs import strcodecs as sc


def _block(vals: list[bytes]) -> StrBlock:
    return StrBlock(
        lengths=np.array([len(v) for v in vals], dtype=np.int64),
        payload=b"".join(vals),
    )


def _roundtrip(vals: list[bytes], rounds: int) -> None:
    blk = _block(vals)
    payload, meta = sc.encode_fsst(blk, rounds=rounds)
    out = strblock_from_arrow(sc.decode_fsst(payload, meta["n_values"]))
    assert out.payload == blk.payload
    assert (out.lengths == blk.lengths).all()


@pytest.mark.parametrize("rounds", [0, 1, 2, 3])
def test_fsst_rounds_roundtrip_text(rounds):
    rng = np.random.default_rng(3)
    words = [b"the", b"quick", b"brown", b"fox", b"jumps", b"https://", b".com/"]
    vals = [
        b" ".join(words[i] for i in rng.integers(0, len(words), 12))
        for _ in range(400)
    ]
    _roundtrip(vals, rounds)


@pytest.mark.parametrize("rounds", [1, 3])
def test_fsst_rounds_roundtrip_escape_heavy(rounds):
    """Bytes outside the symbol table force escapes; merged symbols
    must never swallow an escaped literal."""
    rng = np.random.default_rng(9)
    vals = [bytes(rng.integers(0, 256, rng.integers(1, 60)).astype(np.uint8))
            for _ in range(300)]
    vals += [b"\xff" * 20, b"ab" * 30, b"", b"\xff ab\xff"]
    _roundtrip(vals, rounds)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.binary(min_size=0, max_size=80), min_size=1, max_size=60),
    st.integers(min_value=0, max_value=3),
)
def test_fsst_rounds_roundtrip_property(vals, rounds):
    _roundtrip(vals, rounds)


def test_fsst_rounds_symbols_grow_and_serialize():
    vals = [b"the quick brown fox jumps over the lazy dog " * 4] * 200
    blk = _block(vals)
    data = np.frombuffer(blk.payload, dtype=np.uint8)
    enc0, lens0, _ = sc._fsst_encode_stream(data, 0)
    enc3, lens3, bytes3 = sc._fsst_encode_stream(data, 3)
    assert lens3.max() > 2  # merged symbols exist
    assert lens3.max() <= 8  # real-FSST cap
    assert len(enc3) < len(enc0)  # merging shrinks the stream
    l2, b2 = sc._deserialize_table(sc._serialize_table(lens3, bytes3))
    assert (l2 == lens3).all()
    assert (b2[:, : bytes3.shape[1]] == bytes3).all()


def test_fsst_rounds_ratio_improves_on_text():
    """The ratio profile's post-aware estimate should beat the digram
    profile on repetitive text (the corpus-measured A/B)."""
    import pyarrow as pa

    rng = np.random.default_rng(17)
    words = [b"lorem", b"ipsum", b"dolor", b"sit", b"amet", b"consectetur"]
    vals = [b" ".join(words[i] for i in rng.integers(0, len(words), 20))
            for _ in range(600)]
    blk = _block(vals)
    z = pa.Codec("zstd", compression_level=1)
    data = np.frombuffer(blk.payload, dtype=np.uint8)
    enc0, _, _ = sc._fsst_encode_stream(data, 0)
    enc3, _, _ = sc._fsst_encode_stream(data, 3)
    assert len(z.compress(enc3.tobytes(), asbytes=True)) < len(
        z.compress(enc0.tobytes(), asbytes=True)
    )


def test_encode_job_ratio_profile_roundtrip(spark, tmp_path_factory):
    """Full pipeline at fsst_rounds=3: encode → scan must be
    byte-identical, and the ratio must not regress vs the default."""
    from arcade_spark.corpus import write_corpus
    from arcade_spark.decode import scan
    from arcade_spark.encode import encode_job

    corpus = str(tmp_path_factory.mktemp("fr") / "c.parquet")
    write_corpus(corpus, n_rows=3000, seed=7)
    src = spark.read.parquet(corpus)
    out_t = str(tmp_path_factory.mktemp("fr") / "enc_t")
    out_r = str(tmp_path_factory.mktemp("fr") / "enc_r")
    m_t = encode_job(spark, src, out_t, num_parts=2, block_rows=1024)
    m_r = encode_job(spark, src, out_r, num_parts=2, block_rows=1024,
                     fsst_rounds=3)
    from pyspark.sql import functions as F

    for out in (out_t, out_r):
        dec = scan(spark, out)
        j = src.alias("s").join(dec.alias("d"), "url", "full_outer")
        bad = j.filter(
            ~(
                (F.col("s.text") == F.col("d.text"))
                & (F.col("s.html") == F.col("d.html"))
                & (F.col("s.lang") == F.col("d.lang"))
            )
        ).count()
        assert bad == 0
    assert m_r["ratio"] <= m_t["ratio"] + 0.005
