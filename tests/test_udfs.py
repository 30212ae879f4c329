"""Parity between JVM fast-path expressions and the exact Python kernel:
get_domain_col == get_domain_udf == get_domain; canonicalize_split ==
canonicalize_url_udf == canonicalize_url. The JVM forms are the 100-TB hot
path; the Python forms are the doctested oracle."""

from pyspark.sql import functions as F

from webscraping_spark.functions import udfs
from webscraping_spark.functions.urlnorm import canonicalize_url, get_domain

URLS = [
    "http://www.google.com.au/tos.html",
    "http://code.google.com/x",
    "https://sub.a.b.example.co.uk/deep/path?q=1",
    "http://192.168.1.1/admin",
    "http://single",
    "http://EX.COM/Upper",
    "http://www.shop3.com.au/x",
    "http://d123.com/page",
    "http://a.biz.info/x",
    # EVERY label is a public suffix ('pa' = Panama ccTLD): the JVM form
    # must fall back to the whole host, not crash on the empty
    # non-suffix-label array (ANSI element_at round-1 regression)
    "http://pa.com/err",
    "http://co.com.au/x",
]

LINK_CASES = [
    ("http://example.com", "../abc.html"),
    ("http://example.com", "abc.html#link"),
    ("http://example.com", "abc.html?a=1&amp;b=2"),
    ("http://example.com/a/b.html", "c.html"),
    ("http://example.com", "http://other.com/x"),
    ("http://example.com", "http://other.com/x#frag"),
    ("http://example.com", "http://other.com/%7Euser"),
    ("http://example.com", "/..//top.html"),
    ("http://example.com/d/", "page.html?x=1&y=2"),
    ("http://example.com", "http://clean.com/totally/clean.html?a=1"),
]


def test_get_domain_col_parity(spark):
    df = spark.createDataFrame([(u,) for u in URLS], "url string")
    rows = df.select(
        "url",
        udfs.get_domain_col(F.col("url")).alias("jvm"),
        udfs.get_domain_udf(F.col("url")).alias("py"),
    ).collect()
    for r in rows:
        expected = get_domain(r["url"])
        assert r["jvm"] == expected, f"JVM domain mismatch for {r['url']}"
        assert r["py"] == expected, f"UDF domain mismatch for {r['url']}"


def test_get_domain_fuzz_parity(spark):
    """Seeded host soup: get_domain_col == get_domain_udf == get_domain.
    The JVM form answers most hosts with one trie-regex pass and routes
    hosts with empty labels to an exact label walk; both must agree with
    the kernel on empty labels (leading, trailing and doubled dots),
    all-suffix hosts, labels that merely start or end with a suffix
    ('comfoo', 'fooco'), suffix labels in mid-host, ports, mixed case and
    IP hosts."""
    import random

    from webscraping_spark.functions.urlnorm import _DOMAIN_SUFFIXES

    rng = random.Random(20261017)
    suffixes = sorted(_DOMAIN_SUFFIXES)
    plain = ["example", "www", "a", "x1", "comfoo", "fooco", "coms", "c",
             "o", "cou", "ukk", "org-", "co-op", "xn--p1ai", "shop3",
             "d123", "", ""]
    schemes = ["http://", "https://", "", "ftp://", "HTTP://"]
    tails = ["", "/", "/p.html", "/a/b?q=1", ":8080/x", "?r=http://x.co.uk/",
             "/go?to=https://10.0.0.1/"]
    ips = ["10.0.0.1", "192.168.1.254", "1.2.3.4.5", "999.1.1.1", "1.2.3",
           "127.0.0.1"]

    def label():
        r = rng.random()
        if r < 0.45:
            return rng.choice(suffixes)
        if r < 0.9:
            return rng.choice(plain)
        return rng.choice(suffixes) + rng.choice(["foo", "1", "-x", ""])

    urls = []
    for _ in range(1500):
        if rng.random() < 0.08:
            host = rng.choice(ips)
            if rng.random() < 0.3:
                host = rng.choice(["www.", "a.b."]) + host
        else:
            host = ".".join(label() for _ in range(rng.randint(1, 5)))
            if rng.random() < 0.15:
                host = "." + host
            if rng.random() < 0.15:
                host += "."
            if rng.random() < 0.2:
                host = "".join(ch.upper() if rng.random() < 0.5 else ch for ch in host)
        urls.append(rng.choice(schemes) + host + rng.choice(tails))
    # the shapes the docstring names, whatever the draw produced
    urls += [
        "http://.example.com/", "http://example.com./", "http://a..b.com/",
        "http://..com/", "http://co.uk/", "http://com.au.co/", "http://com/",
        "http://comfoo.com/", "http://www.co.example.com/",
        "http://shop.com.au.example.net/", "http://10.1.2.3:81/x",
        "http://user.10.1.2.3/", "",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        "url",
        udfs.get_domain_col(F.col("url")).alias("jvm"),
        udfs.get_domain_udf(F.col("url")).alias("py"),
    ).collect()
    assert len(rows) == len(urls)
    for r in rows:
        expected = get_domain(r["url"])
        assert r["jvm"] == expected, f"JVM domain mismatch for {r['url']!r}: {r['jvm']!r}"
        assert r["py"] == expected, f"UDF domain mismatch for {r['url']!r}: {r['py']!r}"


def test_canonicalize_split_parity(spark):
    df = spark.createDataFrame(LINK_CASES, "base string, link string")
    out = udfs.canonicalize_split(df, "base", "link", "canon").collect()
    for r in out:
        assert r["canon"] == canonicalize_url(r["base"], r["link"]), (
            f"mismatch for ({r['base']}, {r['link']})"
        )
    assert len(out) == len(LINK_CASES)


def test_clean_link_predicate_is_conservative(spark):
    """Every link the predicate marks clean must be a normalize fixpoint."""
    df = spark.createDataFrame(LINK_CASES, "base string, link string")
    clean_rows = df.filter(udfs.clean_link_predicate(F.col("link"))).collect()
    for r in clean_rows:
        assert canonicalize_url(r["base"], r["link"]) == r["link"]


import pytest


@pytest.mark.parametrize("compact", [False, True])
def test_canonicalize_tiered_parity_random(spark, compact):
    """Randomized parity sweep over link shapes that straddle the JVM
    fast-path tier boundaries (tier routing must never change the value)."""
    import itertools

    bases = [
        "http://d5.com/dir/index.html",
        "http://d5.com/dir/",
        "http://d5.com",
        "http://d5.com/a/b/c.html",
        "http://d5.com/p?q=1",
        "http://d5.com/a//b/c.html",  # base dir with empty segment
        "http://d5.com/a/../b/c.html",  # base dir with dot segment
        "http://d5.com/w/x/y/z/deep.html",
    ]
    links = [
        "page7.html",
        "page7.html?x=1&y=2",
        "q.html?a=1&amp;b=2",
        "../up.html",
        "./here.html",
        "sub/dir/deep.html",
        "?a=1",
        "#frag-only",
        "",
        "/rooted.html",
        "//proto-relative.com/x",
        "mailto:a@b.com",
        "http://abs.com/x",
        "http://abs.com/x#f",
        "%7Euser/p.html",
        "page.html;params",
        "..",
        ".",
        "page.html#x?y",
        "x=../q.html",
        # tier-R dot-segment shapes (JVM resolution must match urljoin)
        "../p7.html#frag",
        "../../p.html",
        "../../../../../p.html",  # excess .. clamps at root
        "../x/../y.html",
        "a/./b.html",
        "p/../q.html",
        "p/..",
        "p/.",
        "../",
        "./",
        "a/b/../../c/d/../e.html",
        "../" * (udfs._MAX_JVM_DOTDOT + 1) + "deep.html",  # falls to Python
        "../" * udfs._MAX_JVM_DOTDOT + "edge.html",  # depth boundary
        "..p.html",  # dots inside a normal segment
        "p..html",
        "a.../b.html",
        # empty-segment quirk: urljoin collapses '//' — must NOT stay JVM
        "a//b.html",
        "a//../b.html",
        "a/b//",
        # trailing-'?' quirk: urljoin drops a bare '?'
        "p.html?",
        "p.html?a=?",
        "../q.html?redir=http://x.com/y",
        # root-relative: replaces the base path wholesale (tier R)
        "/rooted/deep.html",
        "/rooted.html?a=1",
        "/",
        "/..",
        "/a/../b.html",
        "/a//b.html",  # empty segment: kernel's job
        "/./x.html",
    ]
    cases = list(itertools.product(bases, links))
    df = spark.createDataFrame(cases, "base string, link string")
    out = udfs.canonicalize_split(df, "base", "link", "canon", compact=compact).collect()
    assert len(out) == len(cases)
    for r in out:
        expected = canonicalize_url(r["base"], r["link"])
        assert r["canon"] == expected, f"({r['base']!r}, {r['link']!r}): {r['canon']!r} != {expected!r}"


@pytest.mark.parametrize("compact", [False, True])
def test_canonicalize_fuzz_parity(spark, compact):
    """Seeded random link shapes: segment soup with dot segments, empty
    segments, escapes, entities, queries — split output must equal the
    kernel for every one (the tier router can only change WHERE a link is
    resolved, never the value)."""
    import random

    rng = random.Random(0xC0FFEE)
    segs = ["a", "bb", "c.html", "..", ".", "", "%7E", "&amp;x", "x=1",
            "p q", "ü", "..d", "d..", "...", "a.b.c"]
    cases = []
    bases = [
        "http://h.com/d1/d2/index.html",
        "http://h.com/d1/",
        "http://h.com/",
        "http://h.com",
        "http://h.com/a//b/x.html",
    ]
    for _ in range(600):
        n = rng.randint(1, 6)
        link = "/".join(rng.choice(segs) for _ in range(n))
        r = rng.random()
        if r < 0.25:
            link += rng.choice(["?a=1", "?", "#f", "?a=1&amp;b=2", "#", "?x"])
        if rng.random() < 0.15:
            link = "/" + link
        if rng.random() < 0.10:
            link = "http://abs.com/" + link
        if rng.random() < 0.05:
            link = "//" + link
        cases.append((rng.choice(bases), link))
    df = spark.createDataFrame(cases, "base string, link string")
    out = udfs.canonicalize_split(df, "base", "link", "canon", compact=compact).collect()
    assert len(out) == len(cases)
    for r in out:
        expected = canonicalize_url(r["base"], r["link"])
        assert r["canon"] == expected, (
            f"({r['base']!r}, {r['link']!r}): {r['canon']!r} != {expected!r}"
        )


def test_extension_and_media_gate(spark):
    from webscraping_spark.functions.urlnorm import get_extension

    urls = [
        "http://x.com/a.JPG",
        "http://x.com/a.html?q=1",
        "hello_world.JPG",
        "http://x.com/noext",
        "http://www.google-analytics.com/__utm.gif?utmwv=1.3&utmn=420639071",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select("url", udfs.get_extension_col(F.col("url")).alias("ext")).collect()
    for r in rows:
        assert r["ext"] == get_extension(r["url"]), r["url"]
