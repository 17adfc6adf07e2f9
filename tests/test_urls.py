"""URL canonicalization unit vectors.

Vectors adapted from the behaviors pinned by the reference's unit tests
(/root/reference/src/engine/parsed_url.rs:561-635, crawler.rs:1904-2192,
found_url.rs:165-195, found_urls.rs:85-118) — re-derived from semantics,
not copied.
"""

import hashlib

import pytest

from siteone_crawler_spark.functions.urls import (
    absolutize,
    canonicalize,
    extension_of,
    filter_query,
    is_href_valid,
    normalize_href,
    path_depth,
    resolve_candidate,
    second_level_domain,
)


@pytest.mark.parametrize(
    "href,ok",
    [
        ("https://a.test/x", True),
        ("http://a.test/x", True),
        ("/relative/path", True),
        ("./x", True),
        ("../x", True),
        ("//host.test/y", True),
        ("page.html?q=1", True),
        ("#fragment", False),
        ("", False),
        ("mailto:info@a.test", False),
        ("javascript:void(0)", False),
        ("data:image/png;base64,xyz", False),
        ("file:///etc/passwd", False),
        ("tel:+123456", False),
        ("{{ template }}", False),
        ("<b>notaurl</b>", False),
        ("x?a=1&#38;b=2", True),  # &#38; decoded to & by normalize first
    ],
)
def test_is_href_valid(href, ok):
    assert is_href_valid(normalize_href(href)) == ok


def test_normalize_href():
    assert normalize_href('  "https://a.test/x y"  ') == "https://a.test/x%20y"
    assert normalize_href("x?a=1&amp;b=2") == "x?a=1&b=2"
    assert normalize_href("x?a=1&#38;b=2") == "x?a=1&b=2"


@pytest.mark.parametrize(
    "base,href,expected",
    [
        ("https://a.test/dir/page.html", "other.html", "https://a.test/dir/other.html"),
        ("https://a.test/dir/page.html", "./other", "https://a.test/dir/other"),
        ("https://a.test/dir/sub/", "../up", "https://a.test/dir/up"),
        ("https://a.test/dir/", "/abs", "https://a.test/abs"),
        ("https://a.test/x", "//b.test/y", "https://b.test/y"),
        ("https://a.test/x", "https://c.test/z#frag", "https://c.test/z"),
        ("https://a.test/a/b/c", "../../d", "https://a.test/d"),
        ("https://a.test/", "p/./q/../r", "https://a.test/p/r"),
    ],
)
def test_absolutize(base, href, expected):
    assert absolutize(base, href) == expected


@pytest.mark.parametrize(
    "url,canon",
    [
        ("HTTPS://WWW.Example.COM/Path", "https://www.example.com/Path"),
        ("https://a.test:443/x", "https://a.test/x"),
        ("http://a.test:80/x", "http://a.test/x"),
        ("https://a.test:8443/x", "https://a.test:8443/x"),
        ("https://a.test", "https://a.test/"),
        ("https://a.test?q=1", "https://a.test/?q=1"),
        ("https://a.test/x#frag", "https://a.test/x"),
        ("https://a.test/a/../b", "https://a.test/b"),
        ("https://a.test/a/./b/", "https://a.test/a/b/"),
    ],
)
def test_canonicalize_form(url, canon):
    assert canonicalize(url)["canon_url"] == canon


def test_canonicalize_fields():
    c = canonicalize("https://Sub.Example.test:8443/dir/file.HTML?b=2&a=1")
    assert c["scheme"] == "https"
    assert c["host"] == "sub.example.test"
    assert c["port"] == 8443
    assert c["path"] == "/dir/file.HTML"
    assert c["query"] == "b=2&a=1"  # order preserved
    assert c["ext"] == "html"
    assert c["d2l"] == "example.test"
    assert c["depth"] == 2
    expected_md5 = hashlib.md5(c["canon_url"].encode()).hexdigest()
    assert c["url_key"] == expected_md5
    assert c["uq_id"] == expected_md5[:8]


def test_www_scheme_folding():
    # www variant of the initial host folds onto the initial form
    c = canonicalize("https://www.a.test/x", initial_host="a.test", initial_scheme="https")
    assert c["canon_url"] == "https://a.test/x"
    c = canonicalize("http://a.test/x", initial_host="a.test", initial_scheme="https")
    assert c["canon_url"] == "https://a.test/x"
    # unrelated host untouched
    c = canonicalize("https://www.b.test/x", initial_host="a.test", initial_scheme="https")
    assert c["canon_url"] == "https://www.b.test/x"


@pytest.mark.parametrize(
    "query,remove,keep,expected",
    [
        ("a=1&b=2&c", False, None, "a=1&b=2&c"),
        ("a=1&b=2&c", True, None, ""),
        ("a=1&b=2&c=3", False, ["c", "a"], "a=1&c=3"),  # original order preserved
        ("a=1&b", False, ["b"], "b"),  # valueless param kept as bare name
        ("", False, ["a"], ""),
    ],
)
def test_filter_query(query, remove, keep, expected):
    assert filter_query(query, remove, keep) == expected


def test_misc_helpers():
    assert second_level_domain("a.b.example.test") == "example.test"
    assert path_depth("/a/b/c") == 3
    assert path_depth("/") == 0
    assert extension_of("/x/file.tar.gz") == "gz"
    assert extension_of("/x/noext") == ""


def test_resolve_candidate_end_to_end():
    c = resolve_candidate(
        "https://A.test/dir/page.html",
        '  "../other?x=1&amp;y=2#top"  ',
        initial_host="a.test",
        initial_scheme="https",
    )
    assert c["valid"]
    assert c["canon_url"] == "https://a.test/other?x=1&y=2"
    c2 = resolve_candidate("https://a.test/", "mailto:x@y")
    assert not c2["valid"]


def test_resolve_udf_matches_kernel(spark):
    from siteone_crawler_spark.functions.urls import make_resolve_udf
    import pyspark.sql.functions as F

    rows = [
        ("https://a.test/dir/page.html", "../other?x=1&amp;y=2#top"),
        ("https://a.test/", "//B.TEST/y"),
        ("https://a.test/", "mailto:x@y"),
        ("https://a.test/p/", "./q/../r"),
    ]
    df = spark.createDataFrame(rows, "base string, href string")
    udf = make_resolve_udf("a.test", "https")
    out = df.select("base", "href", udf("base", "href").alias("c")).collect()
    for r in out:
        k = resolve_candidate(r["base"], r["href"], "a.test", "https")
        assert r["c"]["canon_url"] == k["canon_url"]
        assert r["c"]["valid"] == k["valid"]
        assert r["c"]["url_key"] == k["url_key"]


def test_native_md5_key_matches_python_kernel(spark):
    """Engine path parity: make_resolve_udf(with_key=False) + F.md5(canon_url)
    must reproduce the Python kernel's url_key/uq_id bit-for-bit (the engine
    computes the key JVM-side to keep hashing out of the Arrow kernel)."""
    from siteone_crawler_spark.functions.urls import make_resolve_udf
    import pyspark.sql.functions as F

    rows = [
        ("https://a.test/dir/page.html", "../other?x=1&amp;y=2#top"),
        ("https://a.test/", "//B.TEST/y"),
        ("https://a.test/p/", "./q/../r"),
        ("https://a.test/", "/café/über?z=%20"),
    ]
    df = spark.createDataFrame(rows, "base string, href string")
    udf = make_resolve_udf("a.test", "https", with_key=False)
    key = F.md5(F.col("c.canon_url"))
    out = (
        df.select("base", "href", udf("base", "href").alias("c"))
        .filter(F.col("c.valid"))
        .select(
            "base", "href", F.col("c.canon_url").alias("url"),
            key.alias("url_key"), F.substring(key, 1, 8).alias("uq_id"),
            F.col("c.url_key").alias("kernel_key"),
        )
        .collect()
    )
    assert out, "expected valid rows"
    for r in out:
        k = resolve_candidate(r["base"], r["href"], "a.test", "https")
        assert r["kernel_key"] == ""  # kernel skipped the hash
        assert r["url_key"] == k["url_key"]
        assert r["uq_id"] == k["uq_id"]
