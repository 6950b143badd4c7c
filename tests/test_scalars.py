from __future__ import annotations

from pyspark.sql import functions as F

from webalizer_spark.functions.scalars import (
    agent_mangle,
    get_domain,
    search_terms,
    url_decode,
)


def _one(spark, col, value):
    df = spark.createDataFrame([(value,)], "v string")
    return df.select(col.alias("r")).collect()[0]["r"]


def test_url_decode(spark):
    c = url_decode(F.col("v"))
    assert _one(spark, c, "a%20b%2Fc") == "a b/c"
    # malformed escapes fall back to the input [webalizer.c ƒunescape]
    assert _one(spark, c, "bad%zz") == "bad%zz"


def test_agent_mangle_levels(spark):
    """MangleAgents ladder [webalizer.c]: family/maj.min (os) grammar."""
    a = "claude/6.17 (linux) extra-detail"
    expect = {
        0: a,
        1: "claude/6.17 (linux)",
        2: "claude/6.17 (linux)",
        3: "claude/6.17",
        4: "claude/6",
        5: "claude",
    }
    for level, want in expect.items():
        got = _one(spark, agent_mangle(F.col("v"), level), a)
        assert got == want, f"level {level}: {got!r} != {want!r}"


def test_get_domain(spark):
    c = get_domain(F.col("v"), 2)
    assert _one(spark, c, "a.b.example.org") == "example.org"
    assert _one(spark, get_domain(F.col("v"), 1), "a.b.org") == "org"


def test_search_terms_extraction(spark):
    """F4 [webalizer.c ƒsrch_string]: param extract + '+'->space +
    %XX-decode + lowercase."""
    c = search_terms(F.col("v"), "q")
    assert _one(spark, c, "proto://eng-1.example/?q=Spark+Shuffle%21") == \
        "spark shuffle!"
    assert _one(spark, c, "proto://eng-1.example/?other=x") is None


def test_url_canonicalize_rules(spark):
    from webalizer_spark.functions.scalars import url_canonicalize

    cases = [
        # default port dropped, case folded, fragment stripped
        ("HTTP://Ex.COM:80/A/b?x=1#frag", "http://ex.com/A/b?x=1"),
        ("https://ex.com:443/", "https://ex.com/"),
        # non-default / wrong-scheme ports survive
        ("https://ex.com:80/p", "https://ex.com:80/p"),
        ("http://ex.com:8080/p", "http://ex.com:8080/p"),
        ("ftp://Ex.Com:80/f", "ftp://ex.com:80/f"),
        # empty path -> "/"
        ("http://ex.com", "http://ex.com/"),
        # tracking params dropped, survivors sorted; all-dropped -> no ?
        ("http://ex.com/p?utm_source=a&b=2&a=1&ref=xyz&gclid=9",
         "http://ex.com/p?a=1&b=2"),
        ("http://ex.com/p?utm_only=1", "http://ex.com/p"),
        # "ref" only as exact key; "refresh=1" survives
        ("http://ex.com/p?refresh=1&ref", "http://ex.com/p?refresh=1"),
        # no scheme -> untouched passthrough
        ("not a url at all", "not a url at all"),
        ("/relative/path?utm_source=x", "/relative/path?utm_source=x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in
           df.select(url_canonicalize(F.col("url")).alias("c")).collect()]
    for (u, want), g in zip(cases, got):
        assert g == want, (u, g, want)
