"""prefix / contains / suffix predicates (LIKE 'p%' / '%s%' / '%s'):
dictionary-entry evaluation (Arrow starts_with / match_substring /
ends_with), prefix zone pruning, plain/fsst materialize fallback,
negated forms, and DNF composition — all against pandas brute force on
tables with nulls and mixed codecs."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from arcade_spark.encode import encode_job
from arcade_spark.readops import (
    _like_to_regex,
    _prefix_upper,
    filter_contains,
    filter_dnf,
    filter_like,
    filter_prefix,
    filter_sample,
    filter_suffix,
)


def test_prefix_upper():
    assert _prefix_upper(b"src1") == b"src2"
    assert _prefix_upper(b"a\xff") == b"b"
    assert _prefix_upper(b"\xff\xff") is None
    assert _prefix_upper(b"ab\xff\xff") == b"ac"


@pytest.fixture(scope="module")
def match_table(spark, tmp_path_factory):
    rng = np.random.default_rng(31)
    langs = np.array(["en", "en-GB", "de", "fr", "es", "el", "sv", "zz"])
    n = 2000
    pdf = pd.DataFrame(
        {
            # url is high-cardinality → plain/fsst codecs (fallback path)
            "url": [
                f"https://h{int(i)}.example.org/p/{j}"
                for j, i in enumerate(rng.integers(0, 6, n))
            ],
            # lang is low-cardinality → dict codecs (mask path)
            "lang": langs[rng.integers(0, len(langs), n)],
            "x": rng.integers(-50, 50, n).astype(np.int64),
        }
    )
    pdf.loc[rng.random(n) < 0.06, "lang"] = None
    src = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("match") / "enc")
    encode_job(spark, src, out, num_parts=2, block_rows=200, order_col="url")
    return out, pdf


def _langs(pdf):
    return pdf["lang"].fillna("")


def test_prefix_dict_column(spark, match_table):
    out, pdf = match_table
    got = filter_prefix(spark, out, "lang", "en", project=["url"]).toPandas()
    want = pdf.loc[_langs(pdf).str.startswith("en"), "url"]
    assert sorted(got["url"]) == sorted(want)
    assert len(got) > 0


def test_prefix_plain_fsst_column(spark, match_table):
    out, pdf = match_table
    got = filter_prefix(
        spark, out, "url", "https://h3.", project=["url", "lang"]
    ).toPandas()
    want = pdf.loc[pdf["url"].str.startswith("https://h3."), "url"]
    assert sorted(got["url"]) == sorted(want)
    assert len(got) > 0


def test_contains(spark, match_table):
    out, pdf = match_table
    got = filter_contains(spark, out, "url", "h4.example", project=["url"]).toPandas()
    want = pdf.loc[pdf["url"].str.contains("h4.example", regex=False), "url"]
    assert sorted(got["url"]) == sorted(want)
    assert len(got) > 0


def test_suffix(spark, match_table):
    out, pdf = match_table
    got = filter_suffix(spark, out, "lang", "e", project=["url"]).toPandas()
    want = pdf.loc[_langs(pdf).str.endswith("e"), "url"]
    assert sorted(got["url"]) == sorted(want)
    assert len(got) > 0


def test_negated_forms_null_semantics(spark, match_table):
    """NOT (lang LIKE 'en%'): null langs satisfy neither the predicate
    nor its negation (SQL three-valued logic)."""
    out, pdf = match_table
    got = filter_dnf(
        spark, out, [[("not_prefix", "lang", "en")]], project=["url"]
    ).toPandas()
    want = pdf.loc[
        pdf["lang"].notna() & ~_langs(pdf).str.startswith("en"), "url"
    ]
    assert sorted(got["url"]) == sorted(want)

    got = filter_dnf(
        spark, out, [[("not_contains", "lang", "e")]], project=["url"]
    ).toPandas()
    want = pdf.loc[
        pdf["lang"].notna() & ~_langs(pdf).str.contains("e", regex=False), "url"
    ]
    assert sorted(got["url"]) == sorted(want)


def test_dnf_mixing_match_and_range(spark, match_table):
    out, pdf = match_table
    got = filter_dnf(
        spark,
        out,
        [
            [("prefix", "lang", "e"), ("range", "x", 0, 49)],
            [("suffix", "url", "/p/7")],
        ],
        project=["url"],
    ).toPandas()
    w = (_langs(pdf).str.startswith("e") & (pdf["x"] >= 0) & (pdf["x"] <= 49)) | (
        pdf["url"].str.endswith("/p/7")
    )
    want = pdf.loc[w, "url"]
    assert sorted(got["url"]) == sorted(want)


def test_prefix_zone_pruning_observable(spark, tmp_path):
    """A table sorted by the filter column: a selective prefix must
    zone-skip most blocks (count_only exposes the per-block verdict)."""
    n = 4000
    pdf = pd.DataFrame(
        {
            "k": [f"key{i:06d}" for i in range(n)],
            "x": np.arange(n, dtype=np.int64),
        }
    )
    src = spark.createDataFrame(pdf)
    out = str(tmp_path / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=200, order_col="k")
    rows = filter_prefix(
        spark, out, "k", "key0001", count_only=True
    ).toPandas()
    # 10 matching rows (key000100..key000199 → wait: key0001xx = 100 rows)
    assert int(rows["matches"].sum()) == len(
        [k for k in pdf["k"] if k.startswith("key0001")]
    )
    assert int(rows["zone_skipped"].sum()) >= rows.shape[0] - 3


def test_like_to_regex():
    assert _like_to_regex(b"a%b_c.d") == b"(?s)^a.*b.c\\.d$"
    assert _like_to_regex(b"%") == b"(?s)^.*$"
    assert _like_to_regex(b"[x](y)") == b"(?s)^\\[x\\]\\(y\\)$"


def _like_re(pat: str) -> str:
    import re as _re

    return "^" + "".join(
        ".*" if c == "%" else "." if c == "_" else _re.escape(c) for c in pat
    ) + "$"


def test_like_patterns(spark, match_table):
    """Full LIKE with both wildcards on dict and plain/fsst columns,
    including a wildcard-leading pattern (no zone prune possible)."""
    out, pdf = match_table
    cases = [
        ("lang", "e_"),            # matches en/es/el, not en-GB
        ("lang", "en%"),
        ("lang", "%-__"),          # wildcard-leading
        ("url", "https://h_.example.org/p/1%"),
        ("url", "%/p/4_"),
    ]
    for col, pat in cases:
        got = filter_like(spark, out, col, pat, project=["url"]).toPandas()
        base = pdf[col].fillna("") if col == "lang" else pdf[col]
        want = pdf.loc[base.str.match(_like_re(pat)), "url"]
        assert sorted(got["url"]) == sorted(want), (col, pat)


def test_not_like_null_semantics(spark, match_table):
    out, pdf = match_table
    got = filter_dnf(
        spark, out, [[("not_like", "lang", "e%")]], project=["url"]
    ).toPandas()
    want = pdf.loc[
        pdf["lang"].notna() & ~_langs(pdf).str.startswith("e"), "url"
    ]
    assert sorted(got["url"]) == sorted(want)


def test_like_zone_pruning_on_literal_prefix(spark, tmp_path):
    n = 4000
    pdf = pd.DataFrame(
        {"k": [f"key{i:06d}" for i in range(n)], "x": np.arange(n, dtype=np.int64)}
    )
    src = spark.createDataFrame(pdf)
    out = str(tmp_path / "enc")
    encode_job(spark, src, out, num_parts=1, block_rows=200, order_col="k")
    rows = filter_like(spark, out, "k", "key0001__", count_only=True).toPandas()
    assert int(rows["matches"].sum()) == 100
    assert int(rows["zone_skipped"].sum()) >= rows.shape[0] - 3


def _md5_keep(v: str, num: int, den: int) -> bool:
    import hashlib

    return int(hashlib.md5(v.encode()).hexdigest()[:15], 16) % den < num


def test_filter_sample_deterministic(spark, match_table):
    """Hash sampling: exact deterministic subset, exact complement, and
    the union of sample + not_sample is the whole (non-null) table."""
    out, pdf = match_table
    got = filter_sample(spark, out, "url", 3, 10, project=["url"]).toPandas()
    want = pdf.loc[pdf["url"].map(lambda v: _md5_keep(v, 3, 10)), "url"]
    assert sorted(got["url"]) == sorted(want)
    # ~30%, deterministic
    assert 0.2 < len(got) / len(pdf) < 0.4
    again = filter_sample(spark, out, "url", 3, 10, project=["url"]).toPandas()
    assert sorted(got["url"]) == sorted(again["url"])

    comp = filter_dnf(
        spark, out, [[("not_sample", "url", 3, 10)]], project=["url"]
    ).toPandas()
    assert len(got) + len(comp) == len(pdf)
    assert not set(got["url"]) & set(comp["url"])


def test_filter_sample_composes(spark, match_table):
    out, pdf = match_table
    got = filter_dnf(
        spark, out,
        [[("sample", "url", 5, 10), ("prefix", "lang", "e")]],
        project=["url"],
    ).toPandas()
    want = pdf.loc[
        pdf["url"].map(lambda v: _md5_keep(v, 5, 10))
        & _langs(pdf).str.startswith("e"),
        "url",
    ]
    assert sorted(got["url"]) == sorted(want)


def test_filter_sample_validates(spark, match_table):
    out, _pdf = match_table
    with pytest.raises(ValueError, match="numerator"):
        filter_sample(spark, out, "url", 11, 10).toPandas()
    with pytest.raises(Exception, match="string/binary"):
        filter_sample(spark, out, "x", 1, 2).toPandas()


def test_prefix_rejects_int_column(spark, match_table):
    out, _pdf = match_table
    with pytest.raises(Exception, match="string/binary"):
        filter_prefix(spark, out, "x", "1").toPandas()


def test_empty_pattern_rejected(spark, match_table):
    out, _pdf = match_table
    with pytest.raises(ValueError, match="non-empty"):
        filter_contains(spark, out, "lang", "")


def test_plan_mode_agrees(spark, match_table):
    """Each string matcher on a dict column and a plain/fsst column
    agrees with pandas brute force (nulls never match)."""
    out, pdf = match_table
    for fn, col, pat, want in [
        (filter_prefix, "lang", "en", lambda s: s.str.startswith("en")),
        (filter_contains, "url", "h2.example",
         lambda s: s.str.contains("h2.example", regex=False)),
        (filter_suffix, "lang", "v", lambda s: s.str.endswith("v")),
    ]:
        got = fn(spark, out, col, pat, project=["url"]).toPandas()
        expect = pdf.loc[want(pdf[col].fillna("")), "url"]
        assert sorted(got["url"]) == sorted(expect)
        assert len(got) > 0
