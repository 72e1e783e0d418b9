"""Golden-vector canonicalization tests.

Port of the reference's URL-construction contract
(MavenURLConstructionCheck.scala:23-47): exact expected strings for regular
ids and percent-encoded irregular ids (``${parent.version}`` ->
``%24%7Bparent.version%7D``).
"""

from __future__ import annotations

import pandas as pd
import pytest

from delphi_crawler_spark.datagen import gen_seed_urls
from delphi_crawler_spark.functions.canonicalize import (
    canonicalize_url,
    canonicalize_url_py,
    host_rev_col,
    with_url_keys,
)

GOLDEN = [
    # regular URL passes through
    ("https://repo1.maven.org/maven2/junit/junit/4.12/junit-4.12.jar",
     "https://repo1.maven.org/maven2/junit/junit/4.12/junit-4.12.jar"),
    # percent-encoding of ${...} — the reference's irregular-id vector
    ("https://repo1.maven.org/maven2/a/b/${parent.version}/x.jar",
     "https://repo1.maven.org/maven2/a/b/%24%7Bparent.version%7D/x.jar"),
    # space
    ("https://example.com/a b/c", "https://example.com/a%20b/c"),
    # case folding host + scheme
    ("HTTPS://WWW.Example.COM/Path", "https://www.example.com/Path"),
    # default-port stripping
    ("https://example.com:443/x", "https://example.com/x"),
    ("http://example.com:80/x", "http://example.com/x"),
    ("http://example.com:8080/x", "http://example.com:8080/x"),
    # dot-segment resolution
    ("https://example.com/a/./b/../c", "https://example.com/a/c"),
    ("https://example.com/../a", "https://example.com/a"),
    # empty path
    ("https://example.com", "https://example.com/"),
    # fragment dropped, query kept + encoded
    ("https://example.com/x?q=a b#frag", "https://example.com/x?q=a%20b"),
    # pre-encoded escape preserved, hex uppercased
    ("https://example.com/a%2fb", "https://example.com/a%2Fb"),
    # userinfo dropped, trailing host dot stripped
    ("https://user:pw@example.com./x", "https://example.com/x"),
    # malformed
    ("notaurl", None),
    ("ftp://example.com/x", None),
    ("https://:80/x", None),
    # two ports: not a host:port authority (else a default port survives
    # one pass and the result is not idempotent)
    ("https://a.com:443:443/x", None),
    ("https://a.com:443:8080/x", None),
]


@pytest.mark.parametrize("raw,expected", GOLDEN)
def test_golden_python(raw, expected):
    assert canonicalize_url_py(raw) == expected


def test_golden_spark_udf(spark):
    pdf = pd.DataFrame({"url": [g[0] for g in GOLDEN]})
    df = spark.createDataFrame(pdf).select(canonicalize_url("url").alias("c"))
    got = [r.c for r in df.collect()]
    assert got == [g[1] for g in GOLDEN]


def test_udf_matches_python_on_fixture(spark):
    pdf = gen_seed_urls(n=2000)
    expected = [canonicalize_url_py(u) for u in pdf.url]
    df = spark.createDataFrame(pdf[["url"]]).select(canonicalize_url("url").alias("c"))
    assert [r.c for r in df.collect()] == expected


def test_key_columns(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"url": ["https://www.example.com/x"]})
    )
    row = with_url_keys(df).collect()[0]
    assert row.host == "www.example.com"
    assert row.host_rev == "com.example.www"
    assert isinstance(row.url_hash, int)
    assert isinstance(row.url_hash64, int)


def test_vectorized_fast_path_equivalence():
    """The pandas fast path (already-canonical passthrough) must agree with
    the per-row reference implementation on clean, junk, and edge URLs."""
    from delphi_crawler_spark.functions.canonicalize import canonicalize_urls_pd

    clean = [f"https://h{i}.example.com/p/{i}" for i in range(200)]
    edge = [
        "https://example.com",          # empty path → slow path, '/' fill
        "https://example.com?q=1",      # query, empty path
        "https://example.com/a/",       # trailing slash preserved
        "https://example.com//x",       # empty segment preserved
        "https://example.com/a/./b",    # dot segment → slow path
        "https://example.com/a/../b",
        "https://example.com./x",       # trailing host dot
        "https://example.com/a?x=1&y=2+3",
        None,
    ]
    junk = list(gen_seed_urls(n=500).url)
    s = pd.Series(clean + edge + junk, dtype=object)
    got = canonicalize_urls_pd(s)
    exp = s.map(canonicalize_url_py, na_action="ignore")
    assert got.fillna("~").tolist() == exp.fillna("~").tolist()


def test_udf_edge_vectors(spark):
    """The Spark UDF (with its in-batch already-canonical fast path) must be
    byte-identical to the per-row reference implementation around the fast
    path's edges: whitespace anywhere, dot segments vs near-dot filenames,
    and charclass outliers (+ = & % in the path) that must take the slow
    path and be encoded."""
    tricky = [
        "https://example.com/clean/path",       # fast branch, identity
        "https://example.com/p?a=1&b=2+3",      # fast branch with query
        "http://example.com/a\n",               # trailing newline → slow
        "http://example.com/a ",                # trailing space → slow
        " http://example.com/a",                # leading space → slow
        "http://example.com/a\tb",              # interior tab → slow (encoded)
        "https://example.com/.hidden",          # dot-prefixed file is NOT a dot segment
        "https://example.com/..double",         # nor is a '..'-prefixed one
        "https://example.com/a/.",              # real dot segment → slow
        "https://example.com/a/..",             # real dot segment → slow
        "https://example.com/a..b/c.d/",        # interior dots stay fast
        "https://example.com/a+b",              # '+' in path → slow, %2B
        "https://example.com/a=b&c",            # '=&' in path → slow, encoded
        "https://example.com/x?p=%41",          # '%' in query → slow, hex upper
        "https://example.com/",                 # root path stays fast
        "https://example.com",                  # no path → slow, '/' fill
        "https://example.com/...",              # 3+ dots is a real segment, fast
        "https://example.com/.../y",            # ditto mid-path
        "https://example.com//x",               # empty segment passes through
        "https://example.com/a/",               # trailing empty segment
        None,
    ]
    junk = list(gen_seed_urls(n=400).url)
    urls = tricky + junk
    expected = [canonicalize_url_py(u) if u is not None else None for u in urls]
    df = spark.createDataFrame(
        pd.DataFrame({"url": pd.Series(urls, dtype=object)})
    ).select(canonicalize_url("url").alias("c"))
    assert [r.c for r in df.collect()] == expected


def test_idempotent():
    pdf = gen_seed_urls(n=500)
    for u in pdf.url:
        c = canonicalize_url_py(u)
        assert c is not None
        assert canonicalize_url_py(c) == c
    for u in ("https://a.com:443:443/x", "https://a.com:443:8080/x"):
        c = canonicalize_url_py(u)
        assert c is None or canonicalize_url_py(c) == c


def test_strip_tracking_params(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from delphi_crawler_spark.functions.canonicalize import strip_tracking_params

    cases = {
        "https://a.com/p?a=1&utm_source=x&b=2": "https://a.com/p?a=1&b=2",
        "https://a.com/p?utm_campaign=x&gclid=1": "https://a.com/p",
        "https://a.com/p?a=1": "https://a.com/p?a=1",
        "https://a.com/p": "https://a.com/p",
        "https://a.com/p?fbclid=1&z=9&msclkid=2": "https://a.com/p?z=9",
        # param VALUES containing 'utm_' are not names — untouched
        "https://a.com/p?q=utm_source": "https://a.com/p?q=utm_source",
    }
    df = spark.createDataFrame([Row(u=k) for k in cases])
    got = {
        r["u"]: r["s"]
        for r in df.select("u", strip_tracking_params(F.col("u")).alias("s")).collect()
    }
    assert got == cases


def test_clean_text_nfc_and_control_strip(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from delphi_crawler_spark.functions.textfns import clean_text_col

    cases = {
        "café": "café",          # NFC composes
        "a\x01b\x00c": "abc",               # C0 stripped
        "l1\r\nl2\rl3\nl4": "l1\nl2\nl3\nl4",  # CRLF/CR folded
        "tab\there": "tab\there",           # \t kept (structure)
        "édejà": "édejà",  # already-NFC unchanged
    }
    df = spark.createDataFrame([Row(t=k) for k in cases])
    got = {
        r["t"]: r["c"]
        for r in df.select("t", clean_text_col(F.col("t")).alias("c")).collect()
    }
    assert got == cases


def test_host_to_ascii_idna(spark):
    """IDNA ToASCII golden vectors: punycode per label, nameprep
    case-fold, ASCII passthrough (fast path never pays the Python hop),
    fail-open on codec rejections, null safety."""
    from delphi_crawler_spark.functions.canonicalize import (
        host_to_ascii,
        host_to_ascii_py,
    )

    cases = {
        "bücher.de": "xn--bcher-kva.de",
        "中国.example": "xn--fiqs8s.example",
        "münchen.müller.example": "xn--mnchen-3ya.xn--mller-kva.example",
        "ascii.example.com": "ascii.example.com",
        "ПРИМЕР.испытание": "xn--e1afmkfd.xn--80akhbyknj4f",
        "ok..двойнаяточка": "ok..двойнаяточка",  # empty label -> fail-open
    }
    for h, want in cases.items():
        assert host_to_ascii_py(h) == want, h
    assert host_to_ascii_py(None) is None

    df = spark.createDataFrame([(h,) for h in cases] + [(None,)], "host string")
    got = {
        r["host"]: r["a"]
        for r in df.select("host", host_to_ascii("host").alias("a")).collect()
    }
    for h, want in cases.items():
        assert got[h] == want, h
    assert got[None] is None


def test_host_alias_folding(spark):
    """www/m/mobile/amp prefixes fold, one stacking level clears, deeper
    stacks and lookalike hosts are untouched."""
    from pyspark.sql import functions as F

    from delphi_crawler_spark.functions.canonicalize import fold_host_aliases

    cases = [
        ("www.example.com", "example.com"),
        ("m.example.com", "example.com"),
        ("amp.m.example.com", "example.com"),
        ("m.amp.m.example.com", "m.example.com"),  # only two levels clear
        ("example.com", "example.com"),
        ("mmm.example.com", "mmm.example.com"),    # not an alias prefix
        ("wwwexample.com", "wwwexample.com"),      # needs the dot
    ]
    df = spark.createDataFrame(cases, ["host", "expected"])
    out = df.select("host", "expected", fold_host_aliases(F.col("host")).alias("got"))
    for r in out.collect():
        assert r["got"] == r["expected"], r["host"]


def test_url_structure_features(spark):
    """Depth counts real segments, params need a query string, digit
    share sees only the path, flags fire at the documented thresholds."""
    from pyspark.sql import functions as F

    from delphi_crawler_spark.functions.canonicalize import url_structure_cols

    cases = [
        (1, "https://h.test/page/one"),
        (2, "https://h.test/a/b/c/d/e/f/g/h"),           # depth 8 -> flag
        (3, "https://h.test/p?a=1&b=2&c=3&d=4&e=5"),     # 5 params -> flag
        (4, "https://h.test/123456789/9"),               # digits -> flag
        (5, "https://h.test/"),
    ]
    df = spark.createDataFrame(cases, ["id", "url"])
    c = url_structure_cols(F.col("url"))
    out = {
        r["id"]: r
        for r in df.select("id", *[v.alias(k) for k, v in c.items()]).collect()
    }
    assert out[1]["path_depth"] == 2 and not out[1]["low_value_flag"]
    assert out[2]["path_depth"] == 8 and out[2]["low_value_flag"]
    assert out[3]["n_params"] == 5 and out[3]["low_value_flag"]
    assert out[4]["digit_share"] > 0.4 and out[4]["low_value_flag"]
    assert out[5]["path_depth"] == 0 and out[5]["n_params"] == 0
