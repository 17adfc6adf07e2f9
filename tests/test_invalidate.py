"""Recrawl/invalidation: CrawlEngine.invalidate + crawl_diff."""

import pytest

from siteone_crawler_spark.config import CrawlConfig
from siteone_crawler_spark.engine import CrawlEngine
from siteone_crawler_spark.generator import generate_site, site_to_dfs


def _engine(spark, cfg, ckpt, bloom_min_keys=None):
    eng = CrawlEngine(spark, cfg, str(ckpt), n_buckets=8)
    if bloom_min_keys is not None:
        eng.seen.bloom_min_keys = bloom_min_keys
    return eng


def _crawl(spark, site, cfg, ckpt, bloom_min_keys=None):
    docs, meta, _r, _s = site_to_dfs(spark, site)
    eng = _engine(spark, cfg, ckpt, bloom_min_keys)
    tables = eng.run(docs, meta, site.robots, site.seeds)
    return eng, docs, meta, tables


@pytest.mark.parametrize("seen_path", ["exact", "bloom"])
def test_invalidate_recrawls_exactly_the_batch(spark, tmp_path, seen_path):
    """`exact`: the seen set stays below bloom_min_keys (broadcast exact
    anti-join). `bloom`: the Bloom prefilter is forced on, so the recrawl
    also restores it from the checkpointed `blooms` table."""
    site = generate_site(seed=42, n_hosts=2, docs_per_host=15)
    cfg = CrawlConfig(allowed_domains=("*.example.test",))
    bloom_min_keys = 1 if seen_path == "bloom" else None
    eng, docs, meta, t1 = _crawl(spark, site, cfg, tmp_path / "c", bloom_min_keys)

    v1 = t1["visited"].select("url", "seq", "wave", "status_code").collect()
    assert len(v1) > 5
    last_wave = max(r["wave"] for r in v1)
    # pick 3 crawled URLs (one that 200'd, order-stable)
    targets = sorted(r["url"] for r in v1 if r["status_code"] == 200)[:3]

    n = eng.invalidate(targets + ["https://nowhere.example.test/ghost"])
    assert n == 3  # unknown URLs don't match

    e2 = _engine(spark, cfg, tmp_path / "c", bloom_min_keys)
    t2 = e2.run(docs, meta, site.robots, site.seeds)
    assert bool(e2.seen.prefilter.bits) == (seen_path == "bloom")

    v2 = t2["visited"].select("url", "seq", "wave", "status_code").collect()
    # the recrawl log: original rows intact + exactly one new row per target
    assert len(v2) == len(v1) + 3
    new_rows = [r for r in v2 if r["wave"] > last_wave]
    assert sorted(r["url"] for r in new_rows) == targets
    # seq is the URL's stable identity — recrawl rows reuse it
    orig = {r["url"]: r["seq"] for r in v1}
    for r in new_rows:
        assert r["seq"] == orig[r["url"]]
    # nothing else re-enqueued: frontier (seen set) unchanged
    assert t2["frontier"].count() == t1["frontier"].count()


def test_invalidate_requires_done(spark, tmp_path):
    site = generate_site(seed=3, n_hosts=2, docs_per_host=10)
    cfg = CrawlConfig(allowed_domains=("*.example.test",))
    docs, meta, _r, _s = site_to_dfs(spark, site)
    eng = CrawlEngine(spark, cfg, str(tmp_path / "p"), n_buckets=8)
    with pytest.raises(ValueError):
        eng.invalidate(["https://h0.example.test/"])  # nothing committed
    eng.run(docs, meta, site.robots, site.seeds, max_waves=1)
    with pytest.raises(ValueError):
        eng.invalidate(["https://h0.example.test/"])  # not done yet


def test_crawl_diff_summarizes_generations(spark, tmp_path):
    """invalidate -> rerun -> crawl_diff: recrawled URLs show 2 fetches and
    changed=false (same synthetic content); everything else 1 fetch."""
    from siteone_crawler_spark.operators.recrawl import crawl_diff

    site = generate_site(seed=42, n_hosts=2, docs_per_host=12)
    cfg = CrawlConfig(allowed_domains=("*.example.test",))
    eng, docs, meta, t1 = _crawl(spark, site, cfg, tmp_path / "d")
    v1 = t1["visited"].select("url", "status_code").collect()
    targets = sorted(r["url"] for r in v1 if r["status_code"] == 200)[:2]
    assert eng.invalidate(targets) == 2
    e2 = CrawlEngine(spark, cfg, str(tmp_path / "d"), n_buckets=8)
    t2 = e2.run(docs, meta, site.robots, site.seeds)

    diff = {r["url"]: r for r in crawl_diff(t2["visited"]).collect()}
    assert len(diff) == len(v1)  # one row per URL, generations collapsed
    for u in targets:
        assert diff[u]["n_fetches"] == 2
        assert diff[u]["last_wave"] > diff[u]["first_wave"]
        assert diff[u]["changed"] is False  # same fixture content
    others = [u for u in diff if u not in targets]
    assert all(diff[u]["n_fetches"] == 1 for u in others)
    assert all(diff[u]["changed"] is False for u in others)


def test_crawl_diff_detects_change(spark):
    from siteone_crawler_spark.operators.recrawl import crawl_diff

    rows = [
        # url_key, url, seq, wave, status, size
        ("k1", "u1", 0, 0, 200, 100),
        ("k1", "u1", 0, 3, 200, 150),   # size changed
        ("k2", "u2", 1, 0, 200, 70),
        ("k2", "u2", 1, 3, 404, 70),    # status changed
        ("k3", "u3", 2, 0, 200, 50),
        ("k3", "u3", 2, 2, 200, 50),
        ("k3", "u3", 2, 4, 200, 50),    # 3 generations, stable
    ]
    df = spark.createDataFrame(
        rows, "url_key string, url string, seq long, wave int,"
        " status_code int, size long"
    )
    got = {r["url_key"]: r for r in crawl_diff(df).collect()}
    assert got["k1"]["changed"] and got["k1"]["last_size"] == 150
    assert got["k2"]["changed"] and got["k2"]["last_status"] == 404
    assert not got["k3"]["changed"] and got["k3"]["n_fetches"] == 3
