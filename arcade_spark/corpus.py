"""Deterministic Common-Crawl-style corpus synthesizer (FIXTURES.md §1).

Schema per BASELINE.json input_hint:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Every value is a pure function of (seed, row_id) via a splitmix64-style
integer mixer — fully vectorized, order- and partition-independent, so
the distributed generator produces byte-identical rows regardless of
parallelism (required for the two-parallelism scaling bench and for
deterministic task retries).

Skew is intentional: hosts and languages are Zipf-distributed (the
north rule requires explicit handling of host/language skew).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_HOSTS = 1000
N_LANGS = 20
LANGS = [
    "en", "zh", "es", "de", "fr", "ru", "ja", "pt", "it", "nl",
    "pl", "tr", "ar", "ko", "sv", "el", "cs", "fi", "hu", "da",
][:N_LANGS]
WORD_POOL_SIZE = 8192
TS_WINDOW_START = 1_700_000_000  # epoch seconds, fixed (no wall clock)
TS_WINDOW = 30 * 86400
DUP_MOD = 50  # ~2% of rows duplicate another row's text exactly

_U64 = np.uint64


def _mix(x) -> np.ndarray:
    """splitmix64 finalizer (public-domain constant set)."""
    x = np.asarray(x, dtype=_U64)
    with np.errstate(over="ignore"):
        x = (x + _U64(0x9E3779B97F4A7C15)).astype(_U64)
        x = ((x ^ (x >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)).astype(_U64)
        x = ((x ^ (x >> _U64(27))) * _U64(0x94D049BB133111EB)).astype(_U64)
        return x ^ (x >> _U64(31))


def _hash2(a: np.ndarray, b) -> np.ndarray:
    return _mix(a.astype(_U64) ^ (_mix(np.asarray(b, dtype=_U64)) if np.isscalar(b) else _mix(b.astype(_U64))))


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return np.cumsum(w) / w.sum()


_HOST_CDF = _zipf_cdf(N_HOSTS, 1.2)
_LANG_CDF = _zipf_cdf(N_LANGS, 1.3)


def _word_pool() -> np.ndarray:
    syll = ["ka", "lo", "mi", "ra", "te", "vu", "zo", "ne", "phi", "qua",
            "sol", "tri", "ba", "dex", "gli", "hom", "jun", "kry", "lum", "nox"]
    words = []
    i = 0
    while len(words) < WORD_POOL_SIZE:
        a = syll[i % 20]
        b = syll[(i // 20) % 20]
        c = syll[(i // 400) % 20]
        words.append((a + b + c + str(i % 7)).encode())
        i += 1
    return np.array(words, dtype=object)


_WORDS = _word_pool()
_PATH_WORDS = np.array([w.decode() for w in _WORDS[:512]], dtype=object)


def corpus_pandas(n_rows: int, seed: int = 42, start: int = 0) -> pd.DataFrame:
    """Rows [start, start+n_rows) of the infinite deterministic corpus."""
    ids = np.arange(start, start + n_rows, dtype=np.uint64)
    seed_u = _U64(seed)

    h_host = _hash2(ids, seed_u ^ _U64(1))
    host_idx = np.searchsorted(_HOST_CDF, (h_host >> _U64(11)).astype(np.float64) / 2**53)
    h_lang = _hash2(ids, seed_u ^ _U64(2))
    lang_idx = np.searchsorted(_LANG_CDF, (h_lang >> _U64(11)).astype(np.float64) / 2**53)

    # text: ~2% exact duplicates — duplicate rows re-derive from a
    # canonical earlier row id
    is_dup = (_hash2(ids, seed_u ^ _U64(3)) % _U64(DUP_MOD)) == 0
    text_seed = np.where(is_dup, (ids // _U64(DUP_MOD)) * _U64(DUP_MOD), ids)

    # lognormal-ish word count in [5, ~120]
    h_len = _hash2(text_seed, seed_u ^ _U64(4))
    u = (h_len >> _U64(11)).astype(np.float64) / 2**53
    n_words = (5 + np.exp(2.2 + 1.0 * (u * 2 - 1) ** 3 * 2.5)).astype(np.int64)
    n_words = np.clip(n_words, 5, 200)

    total = int(n_words.sum())
    row_rep = np.repeat(text_seed, n_words)
    offsets = np.concatenate([[0], np.cumsum(n_words)])
    pos = np.arange(total, dtype=np.uint64) - np.repeat(offsets[:-1].astype(np.uint64), n_words)
    # words derive from the canonical row's language so duplicate rows
    # carry byte-identical text
    h_lang_seed = _hash2(text_seed, seed_u ^ _U64(2))
    lang_idx_seed = np.searchsorted(_LANG_CDF, (h_lang_seed >> _U64(11)).astype(np.float64) / 2**53)
    lang_rep = np.repeat(lang_idx_seed.astype(np.uint64), n_words)
    widx = (_mix(row_rep ^ _mix(pos + _U64(1000)) ^ (lang_rep << _U64(32))) % _U64(WORD_POOL_SIZE)).astype(np.int64)
    words_flat = _WORDS[widx]

    joined = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()),
                                 pa.array(words_flat, type=pa.binary())),
        pa.scalar(b" ", type=pa.binary()),
    )
    text = joined.cast(pa.large_binary())

    hosts = np.char.add(
        np.char.add("www", (host_idx % 7).astype("U1")),
        np.char.add(".site-", np.char.add(host_idx.astype("U4"), ".example.org")),
    )
    p1 = _PATH_WORDS[(_hash2(ids, seed_u ^ _U64(5)) % _U64(512)).astype(np.int64)]
    p2 = _PATH_WORDS[(_hash2(ids, seed_u ^ _U64(6)) % _U64(512)).astype(np.int64)]
    url = pc.binary_join_element_wise(
        pa.array(np.char.add("https://", hosts)),
        pa.array(p1, type=pa.string()),
        pa.array(p2, type=pa.string()),
        pa.array(ids.astype("U20")),
        pa.scalar("/"),
    )

    # timestamps clustered per host crawl session (FOR/delta-friendly)
    sess = (host_idx.astype(np.int64) * 9973) % TS_WINDOW
    jitter = (_hash2(ids, seed_u ^ _U64(7)) % _U64(3600)).astype(np.int64)
    ts = (TS_WINDOW_START + sess + jitter) * 1_000_000  # µs

    # html: template wrapping text; ~30% of rows get high-entropy padding
    pad_mask = (_hash2(ids, seed_u ^ _U64(8)) % _U64(10)) < _U64(3)
    pad_len = np.where(pad_mask, 64 + (_hash2(ids, seed_u ^ _U64(9)) % _U64(192)), _U64(0)).astype(np.int64)
    pad_total = int(pad_len.sum())
    pad_ids = np.repeat(ids, pad_len)
    pad_off = np.concatenate([[0], np.cumsum(pad_len)])
    pad_pos = np.arange(pad_total, dtype=np.uint64) - np.repeat(pad_off[:-1].astype(np.uint64), pad_len)
    pad_bytes = (_mix(pad_ids ^ _mix(pad_pos + _U64(77))) & _U64(0xFF)).astype(np.uint8)
    pad_list = pa.ListArray.from_arrays(
        pa.array(pad_off, type=pa.int32()),
        pa.array(pad_bytes, type=pa.uint8()).cast(pa.uint8()),
    )
    # join padding bytes into a binary per row
    pad_bin = pa.array(
        [bytes(memoryview(pad_bytes[pad_off[i]:pad_off[i + 1]])) for i in range(n_rows)]
        if pad_total else [b""] * n_rows,
        type=pa.large_binary(),
    )

    html = pc.binary_join_element_wise(
        pa.scalar(b"<html><head><title>", type=pa.large_binary()),
        pa.array(np.char.encode(hosts)).cast(pa.large_binary()),
        pa.scalar(b"</title></head><body><p>", type=pa.large_binary()),
        text,
        pa.scalar(b"</p><!--", type=pa.large_binary()),
        pad_bin,
        pa.scalar(b"--></body></html>", type=pa.large_binary()),
        pa.scalar(b"", type=pa.large_binary()),
    )

    return pd.DataFrame(
        {
            "url": url.to_pandas().astype(str),
            "warc_ts": pd.to_datetime(ts, unit="us"),
            "html": html.to_pandas(),
            "text": pc.cast(text, pa.large_string()).to_pandas().astype(str),
            "lang": np.array(LANGS, dtype=object)[lang_idx],
        }
    )


CORPUS_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)

CORPUS_SPARK_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def write_corpus(path: str, n_rows: int, seed: int = 42, chunk: int = 65536) -> str:
    """Write the corpus as parquet (idempotent: skips if present)."""
    if os.path.exists(path):
        return path
    tmp = path + ".tmp"
    writer = pq.ParquetWriter(tmp, CORPUS_SCHEMA, compression="snappy")
    for start in range(0, n_rows, chunk):
        df = corpus_pandas(min(chunk, n_rows - start), seed=seed, start=start)
        writer.write_table(pa.Table.from_pandas(df, schema=CORPUS_SCHEMA, preserve_index=False))
    writer.close()
    os.rename(tmp, path)
    return path


def write_corpus_files(
    dir_path: str, n_rows: int, n_files: int, seed: int = 42, chunk: int = 65536
) -> str:
    """Multi-file corpus (idempotent): the Iceberg-style layout the
    files-mode encoder consumes — file i holds rows
    [i*rows_per, (i+1)*rows_per)."""
    done_marker = os.path.join(dir_path, "_DONE")
    if os.path.exists(done_marker):
        return dir_path
    os.makedirs(dir_path, exist_ok=True)
    rows_per = (n_rows + n_files - 1) // n_files
    for i in range(n_files):
        start = i * rows_per
        count = min(rows_per, n_rows - start)
        if count <= 0:
            break
        path = os.path.join(dir_path, f"corpus-{i:05d}.parquet")
        if os.path.exists(path):
            continue
        tmp = path + ".tmp"
        writer = pq.ParquetWriter(tmp, CORPUS_SCHEMA, compression="snappy")
        for s in range(start, start + count, chunk):
            df = corpus_pandas(min(chunk, start + count - s), seed=seed, start=s)
            writer.write_table(
                pa.Table.from_pandas(df, schema=CORPUS_SCHEMA, preserve_index=False)
            )
        writer.close()
        os.rename(tmp, path)
    with open(done_marker, "w") as f:
        f.write(f"{n_rows} {n_files}")
    return dir_path
