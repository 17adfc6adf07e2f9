"""F13 PCRE pattern normalization + P13 single-foreign-page parity."""

from __future__ import annotations

from siteone_crawler_spark.config import (
    CrawlConfig,
    is_pcre_pattern,
    normalize_pcre_pattern,
)
from siteone_crawler_spark.generator import generate_site, site_to_dfs
from siteone_crawler_spark.simulator import simulate


def test_pcre_pattern_normalize():
    # utils.rs:14-52 semantics
    assert is_pcre_pattern("/foo/i")
    assert is_pcre_pattern("#bar#")
    assert is_pcre_pattern("~x~is")
    assert is_pcre_pattern("%y%")
    assert not is_pcre_pattern("foo")
    assert not is_pcre_pattern("/unterminated")
    assert not is_pcre_pattern("/bad/FLAGS")
    assert normalize_pcre_pattern("/pat/i") == "(?i)pat"
    assert normalize_pcre_pattern("/pat/") == "pat"
    assert normalize_pcre_pattern("#a/b#i") == "(?i)a/b"
    assert normalize_pcre_pattern("plain.*") == "plain.*"
    # config applies it to include/ignore lists
    cfg = CrawlConfig(include_regex=("/docs/i",), ignore_regex=("/private//",))
    assert cfg.include_regex == ("(?i)docs",)
    assert cfg.ignore_regex == ("private/",)


def _foreign_site():
    site = generate_site(seed=42, n_hosts=2, docs_per_host=12)
    fu = "https://cdn.foreign.test/page"
    site.docs.append(
        {
            "doc_id": fu,
            "spans": [
                {"kind": "a_href", "text": "/sub1", "media_ref": "", "offset": 0},
                {"kind": "img_src", "text": "/i.png", "media_ref": "", "offset": 1},
            ],
        }
    )
    site.meta.append(
        {
            "doc_id": fu,
            "status_code": 200,
            "content_type_header": "text/html",
            "redirect_location": None,
            "size": 100,
            "request_time_ms": 5.0,
            "headers": {"content-type": "text/html"},
        }
    )
    site.seeds.append((fu, 91))
    return site, fu


import pytest


@pytest.mark.parametrize(
    "cfg_kw",
    [
        dict(images_enabled=False),
        dict(scripts_enabled=False, styles_enabled=False),
        dict(files_enabled=False, fonts_enabled=False),
    ],
)
def test_asset_class_toggle_parity(spark, tmp_path, cfg_kw):
    """P14: each --disable-* class drops the same spans in engine and
    simulator (kind membership + extension-class gates)."""
    from siteone_crawler_spark.engine import CrawlEngine

    site = generate_site(seed=42, n_hosts=2, docs_per_host=16)
    cfg = CrawlConfig(allowed_domains=("*.example.test",), **cfg_kw)
    sim = simulate(site, cfg)
    assert len(sim.crawl_order) > 5
    docs, meta, robots, seeds = site_to_dfs(spark, site)
    eng = CrawlEngine(
        spark, cfg, str(tmp_path / ("-".join(sorted(cfg_kw)))), n_buckets=8
    )
    tables = eng.run(docs, meta, site.robots, site.seeds)
    got = [
        (r["seq"], r["url"], r["source_attr"], r["status_code"])
        for r in tables["visited"].orderBy("seq").collect()
    ]
    exp = [(t[0], t[1], t[4], t[6]) for t in sim.crawl_order]
    assert got == exp, (len(got), len(exp))


def test_sitemap_seed_parity(spark, tmp_path):
    """S5: seeding a sitemap.xml enqueues its <loc> pages with
    UrlSource::Sitemap provenance (code 90) — engine == simulator."""
    from siteone_crawler_spark.engine import CrawlEngine

    site = generate_site(seed=9, n_hosts=1, docs_per_host=14)
    site.seeds = [("https://h0000.example.test/sitemap.xml", 91)]
    cfg = CrawlConfig()
    sim = simulate(site, cfg)
    attrs = {t[4] for t in sim.crawl_order}
    assert 90 in attrs and len(sim.crawl_order) > 5

    docs, meta, robots, seeds = site_to_dfs(spark, site)
    eng = CrawlEngine(spark, cfg, str(tmp_path / "sm"), n_buckets=8)
    tables = eng.run(docs, meta, site.robots, site.seeds)
    got = [
        (r["seq"], r["url"], r["source_attr"], r["status_code"])
        for r in tables["visited"].orderBy("seq").collect()
    ]
    exp = [(t[0], t[1], t[4], t[6]) for t in sim.crawl_order]
    assert got == exp


def test_single_foreign_page_parity(spark, tmp_path):
    from siteone_crawler_spark.engine import CrawlEngine

    site, fu = _foreign_site()
    cfg = CrawlConfig(
        allowed_domains=("*.example.test", "*.foreign.test"), single_foreign_page=True
    )
    sim = simulate(site, cfg)
    sim_urls = {t[1] for t in sim.crawl_order}
    # the foreign page itself is crawled, its <a href> suppressed, assets kept
    assert fu in sim_urls
    assert "https://cdn.foreign.test/sub1" not in sim_urls
    assert "https://cdn.foreign.test/i.png" in sim_urls

    docs, meta, robots, seeds = site_to_dfs(spark, site)
    eng = CrawlEngine(spark, cfg, str(tmp_path / "sfp"), n_buckets=8)
    tables = eng.run(docs, meta, site.robots, site.seeds)
    got = [
        (r["seq"], r["url"], r["source_attr"], r["status_code"])
        for r in tables["visited"].orderBy("seq").collect()
    ]
    exp = [(t[0], t[1], t[4], t[6]) for t in sim.crawl_order]
    assert got == exp


def test_resolve_overrides_parse():
    """--resolve parsing (crawler.rs:180-190): curl domain:port:ip syntax,
    malformed entries dropped, last wins."""
    cfg = CrawlConfig(
        resolve=(
            "www.mydomain.tld:80:127.0.0.1",
            "api.mydomain.tld:443:2001:db8::7",
            "nonsense",
            "www.mydomain.tld:80:10.0.0.9",
        )
    )
    got = cfg.resolve_overrides()
    assert got == {
        "www.mydomain.tld:80": "10.0.0.9",
        "api.mydomain.tld:443": "2001:db8::7",
    }


def test_resolve_overrides_probes(spark):
    from siteone_crawler_spark.operators.network import (
        apply_resolve_overrides,
        synth_probes,
    )

    targets = spark.createDataFrame(
        [("a.test", 443, 0), ("b.test", 443, 0), ("c.test", 443, 3)],
        "host string, port int, __seed long",
    )
    probes = synth_probes(targets, 1_800_000_000)
    over = CrawlConfig(
        resolve=("a.test:443:10.1.2.3", "c.test:443:2001:db8::9")
    ).resolve_overrides()
    got = {
        r["host"]: (r["ipv4"], r["ipv6"], r["cnames"])
        for r in apply_resolve_overrides(probes, over).collect()
    }
    assert got["a.test"] == (["10.1.2.3"], [], [])
    assert got["c.test"][0] != ["2001:db8::9"] and got["c.test"][1] == ["2001:db8::9"]
    assert got["c.test"][2] == []
    # non-overridden host keeps synthesized resolution
    assert got["b.test"][0] and got["b.test"][0][0].startswith("192.0.2.")
