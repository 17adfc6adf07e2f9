"""Crawl-order / URL-seen / skipped parity: CrawlEngine (Spark) vs the
reference-faithful workers=1 simulator, on the same generated site.

This is the fixture strategy from FIXTURES.md §5: the simulator produces
expected_crawl_order / expected_url_seen / expected_skipped, and the
distributed engine must reproduce them exactly (BFS order at workers=1
semantics, per BASELINE.md)."""

import shutil

import pytest

from siteone_crawler_spark.config import CrawlConfig
from siteone_crawler_spark.engine import CrawlEngine
from siteone_crawler_spark.generator import generate_site, site_to_dfs
from siteone_crawler_spark.simulator import simulate


def run_engine(spark, site, cfg, tmpdir, **kw):
    docs, meta, robots, seeds = site_to_dfs(spark, site)
    eng = CrawlEngine(spark, cfg, str(tmpdir), n_buckets=8)
    return eng, eng.run(docs, meta, site.robots, site.seeds, **kw)


def assert_parity(sim, tables):
    visited = [
        (r["seq"], r["url"], r["uq_id"], r["source_uq_id"], r["source_attr"], r["wave"],
         r["status_code"])
        for r in tables["visited"].orderBy("seq").collect()
    ]
    expected = [t[:7] for t in sim.crawl_order]
    assert len(visited) == len(expected), (len(visited), len(expected))
    for got, exp in zip(visited, expected):
        assert got == exp, f"\n got: {got}\n exp: {exp}"

    got_seen = {r["url_key"] for r in tables["frontier"].select("url_key").collect()}
    assert got_seen == set(sim.seen.keys())

    got_skipped = {
        (r["url"], r["reason"], r["source_uq_id"], r["source_attr"])
        for r in tables["skipped"].collect()
    }
    assert got_skipped == set(sim.skipped)


@pytest.mark.parametrize(
    "cfg_kw",
    [
        dict(allowed_domains=("*.example.test",)),
        dict(),  # single-host: cross-host links -> skipped(NotAllowedHost)
        dict(allowed_domains=("*.example.test",), remove_query_params=True),
        dict(allowed_domains=("*.example.test",), max_depth=2),
        dict(allowed_domains=("*.example.test",), crawl_assets=False),
        dict(allowed_domains=("*.example.test",), ignore_robots_txt=True),
        dict(allowed_domains=("*.example.test",), max_visited_urls=25),
        dict(allowed_domains=("*.example.test",), ignore_regex=(r"/docs/",)),
        # NOTE: leading-'/' patterns are delimited-PCRE literals to F13
        # ("/docs/" normalizes to "docs") — anchor on \.test/ instead
        # root pattern keeps the seed crawlable (include applies to seeds too)
        dict(
            allowed_domains=("*.example.test",),
            include_regex=(r"\.test/$", r"\.test/docs/", r"\.test/p/"),
        ),
        dict(
            allowed_domains=("*.example.test",),
            include_regex=(r"\.test/$", r"\.test/docs/", r"\.test/p"),
            ignore_regex=(r"p/1$",),
        ),
        # seed itself fails the include filter -> fully empty crawl; the
        # engine must return empty tables, not crash on file-less state dirs
        dict(allowed_domains=("*.example.test",), include_regex=(r"zz-matches-nothing",)),
        # opt-in native href pre-filter: a plan change only — the fixture
        # plants mailto:/javascript:/template hrefs, so the native drop path
        # is genuinely exercised and must not change any table
        dict(allowed_domains=("*.example.test",), native_href_prefilter=True),
        # auto mode: whatever the probe decides, tables must be identical
        # (threshold 0 forces the prefilter ON through the auto path)
        dict(allowed_domains=("*.example.test",), native_href_prefilter="auto"),
        dict(
            allowed_domains=("*.example.test",),
            native_href_prefilter="auto",
            href_prefilter_threshold=0.0,
        ),
    ],
)
def test_parity_configs(spark, tmp_path, cfg_kw):
    site = generate_site(seed=42, n_hosts=2, docs_per_host=20)
    cfg = CrawlConfig(**cfg_kw)
    sim = simulate(site, cfg)
    _, tables = run_engine(spark, site, cfg, tmp_path / "ckpt")
    assert_parity(sim, tables)


def test_two_include_or_semantics(spark, tmp_path):
    """P9: multiple --include-regex patterns are ANY-match (crawler.rs OR
    semantics) — a URL matching EITHER pattern is crawlable. The site has
    /docs/ and /p/ pages but no URL matching both, so AND semantics would
    visit neither family; parity plus the family assertions pin OR."""
    site = generate_site(seed=42, n_hosts=2, docs_per_host=20)
    cfg = CrawlConfig(
        allowed_domains=("*.example.test",),
        # the root pattern keeps seeds crawlable; no URL matches ALL three
        # patterns, so AND semantics would crawl nothing past the seeds
        include_regex=(r"\.test/$", r"\.test/docs/", r"\.test/p/"),
    )
    sim = simulate(site, cfg)
    urls = [t[1] for t in sim.crawl_order]
    assert any("/docs/" in u for u in urls), "fixture must reach /docs/ pages"
    assert any("/p/" in u for u in urls), "fixture must reach /p/ pages"
    assert not any("/docs/" in u and "/p/" in u for u in urls)
    _, tables = run_engine(spark, site, cfg, tmp_path / "ckpt")
    assert_parity(sim, tables)


def test_parity_larger_site(spark, tmp_path):
    site = generate_site(seed=7, n_hosts=3, docs_per_host=40)
    cfg = CrawlConfig(allowed_domains=("*.example.test",))
    sim = simulate(site, cfg)
    _, tables = run_engine(spark, site, cfg, tmp_path / "ckpt")
    assert_parity(sim, tables)


@pytest.fixture(scope="module")
def resume_site_full(spark, tmp_path_factory):
    """The resume tests' site, config and uninterrupted crawl (one crawl,
    shared): (site, cfg, checkpoint dir, tables)."""
    site = generate_site(seed=3, n_hosts=2, docs_per_host=15)
    cfg = CrawlConfig(allowed_domains=("*.example.test",))
    root = tmp_path_factory.mktemp("resume_full")
    _, full = run_engine(spark, site, cfg, root)
    return site, cfg, root, full


def test_resume_bit_identical(spark, tmp_path, resume_site_full):
    """Kill after 2 waves, resume, and compare every table to an
    uninterrupted run — the resumability the reference lacks (R3)."""
    site, cfg, _root, full = resume_site_full

    # interrupted: stop after 2 waves, then resume with a FRESH engine
    docs, meta, robots, seeds = site_to_dfs(spark, site)
    e1 = CrawlEngine(spark, cfg, str(tmp_path / "part"), n_buckets=8)
    e1.run(docs, meta, site.robots, site.seeds, max_waves=2)
    assert not e1.store.read_manifest()["done"]
    e2 = CrawlEngine(spark, cfg, str(tmp_path / "part"), n_buckets=8)
    resumed = e2.run(docs, meta, site.robots, site.seeds)
    assert e2.store.read_manifest()["done"]

    for t in ("visited", "frontier", "skipped"):
        a = sorted(map(tuple, full[t].collect()))
        b = sorted(map(tuple, resumed[t].collect()))
        assert a == b, f"table {t} differs after resume"


def test_engine_bloom_forced_crawl_parity(spark, tmp_path):
    """Full engine crawl with the Bloom prefilter FORCED on from the first
    wave (bloom_min_keys=1): the prefiltered anti-join must reproduce the
    simulator exactly."""
    site = generate_site(seed=42, n_hosts=2, docs_per_host=20)
    cfg = CrawlConfig(allowed_domains=("*.example.test",))
    sim = simulate(site, cfg)
    docs, meta, _r, _s = site_to_dfs(spark, site)
    eng = CrawlEngine(spark, cfg, str(tmp_path / "ckpt"), n_buckets=8)
    eng.seen.bloom_min_keys = 1
    tables = eng.run(docs, meta, site.robots, site.seeds)
    assert eng.seen.prefilter.bits, "the Bloom prefilter must have been built"
    assert_parity(sim, tables)


def test_bloom_forced_resume_bit_identical(spark, tmp_path, resume_site_full):
    """Kill-and-resume with the Bloom prefilter forced on restores it from
    the checkpointed `blooms` table and rebuilds the exact seen set from the
    frontier log alone — the checkpoint holds no separate seen table. The
    prefilter never changes the crawl, so the resumed tables must equal the
    uninterrupted unfiltered run's."""
    site, cfg, full_root, full = resume_site_full
    docs, meta, _r, _s = site_to_dfs(spark, site)

    def engine():
        eng = CrawlEngine(spark, cfg, str(tmp_path / "part"), n_buckets=8)
        eng.seen.bloom_min_keys = 1
        return eng

    e1 = engine()
    e1.run(docs, meta, site.robots, site.seeds, max_waves=2)
    assert not e1.store.read_manifest()["done"]
    e2 = engine()
    resumed = e2.run(docs, meta, site.robots, site.seeds)
    assert e2.store.read_manifest()["done"]
    assert e2.seen.prefilter.bits
    for root in (full_root, tmp_path / "part"):
        assert not (root / "seen").exists()
    for t in ("visited", "frontier", "skipped"):
        a = sorted(map(tuple, full[t].collect()))
        b = sorted(map(tuple, resumed[t].collect()))
        assert a == b, f"table {t} differs after resume"


def test_breaker_parity(spark, tmp_path):
    """The basename circuit breaker (-6 short-circuits) must match the
    sequential reference semantics exactly, including mid-wave trips."""
    site = generate_site(seed=42, n_hosts=1, docs_per_host=30, with_breaker_family=True)
    cfg = CrawlConfig(allowed_domains=("*.example.test",), max_non200_per_basename=3)
    sim = simulate(site, cfg)
    assert any(t[6] == -6 for t in sim.crawl_order), "fixture must exercise -6"
    _, tables = run_engine(spark, site, cfg, tmp_path / "ckpt")
    assert_parity(sim, tables)


def test_queue_cap_parity(spark, tmp_path):
    site = generate_site(seed=42, n_hosts=2, docs_per_host=25)
    cfg = CrawlConfig(allowed_domains=("*.example.test",), max_queue_length=10)
    sim = simulate(site, cfg)
    _, tables = run_engine(spark, site, cfg, tmp_path / "ckpt")
    assert_parity(sim, tables)


def test_breaker_long_tail_bounded(spark, tmp_path):
    """100x-scale story for P4: 10^5 DISTINCT once-failing basenames must
    not inflate the driver — breaker state lives in the checkpointed
    basename_events table; the broadcast side and the precheck's driver
    collects carry only basenames that can actually trip (O(trippable))."""
    from pyspark.sql import functions as F

    from siteone_crawler_spark.engine import VISITED_SCHEMA, CrawlEngine

    cfg = CrawlConfig(allowed_domains=("*.example.test",), max_non200_per_basename=3)
    eng = CrawlEngine(spark, cfg, str(tmp_path / "ckpt"), n_buckets=8)

    n_tail = 100_000
    # long tail: each basename fails exactly once (can never trip);
    # 2 hot basenames fail 4x (>= n=3 -> broadcastable, > n -> tripped)
    visited = spark.range(n_tail + 8).select(
        F.concat(F.lit("https://h.example.test/e/t"), F.col("id")).alias("url"),
        F.md5(F.col("id").cast("string")).alias("url_key"),
        F.lit("u").alias("uq_id"),
        F.lit("h.example.test").alias("host"),
        F.when(F.col("id") < n_tail, F.concat(F.lit("/e/t"), F.col("id")))
        .when(F.col("id") < n_tail + 4, F.lit("/e/hot_a"))
        .otherwise(F.lit("/e/hot_b"))
        .alias("path"),
        F.lit("").alias("ext"),
        F.lit(2).alias("depth"),
        F.lit(0).alias("wave"),
        F.col("id").alias("seq"),
        F.lit("").alias("source_uq_id"),
        F.lit(91).alias("source_attr"),
        F.lit(404).alias("status_code"),
        F.lit("text/html").alias("content_type_header"),
        F.lit(0).cast("long").alias("size"),
        F.lit(1.0).alias("request_time_ms"),
        F.lit(None).cast("map<string,string>").alias("headers"),
        F.lit(0).alias("cache_type_flags"),
        F.lit(0).alias("cache_lifetime"),
    )
    eng.store.write_table("visited", 0, visited)
    eng._absorb_events(0)

    # state is a Spark table, not driver memory
    assert eng._bn_state is not None
    assert eng._bn_state.count() == n_tail + 2
    assert eng._bn_state_max == 4  # saturated at n+1
    # broadcast side: ONLY the two trippable basenames ship
    agg = {r["basename"]: r["evt_seqs"] for r in eng._events_agg().collect()}
    assert set(agg) == {"hot_a", "hot_b"}
    assert agg["hot_a"] == list(range(n_tail, n_tail + 4))

    # precheck: tail basenames pass through, tripped ones short-circuit -6
    raw = spark.createDataFrame(
        [
            ("t0", 10**6, 200),
            ("t1", 10**6 + 1, 404),  # 1 prior + 1 now: still <= n, no trip
            ("hot_a", 10**6 + 2, 200),  # prior 4 > n -> -6 even when 200
            (None, 10**6 + 3, 200),  # root: never trips
        ],
        "basename string, seq long, fetch_status int",
    )
    got = {
        r["seq"]: r["status"]
        for r in eng._apply_breaker_precheck(raw).collect()
    }
    assert got == {10**6: 200, 10**6 + 1: 404, 10**6 + 2: -6, 10**6 + 3: 200}


def test_resume_with_breaker_events(spark, tmp_path):
    """Resume must reload the checkpointed basename_events table: a crawl
    interrupted mid-breaker-accumulation and resumed with a FRESH engine
    must produce the same -6 short-circuits as an uninterrupted run."""
    site = generate_site(seed=42, n_hosts=1, docs_per_host=30, with_breaker_family=True)
    cfg = CrawlConfig(allowed_domains=("*.example.test",), max_non200_per_basename=3)

    _, full = run_engine(spark, site, cfg, tmp_path / "full")
    assert any(r["status_code"] == -6 for r in full["visited"].collect())

    docs, meta, robots, seeds = site_to_dfs(spark, site)
    e1 = CrawlEngine(spark, cfg, str(tmp_path / "part"), n_buckets=8)
    e1.run(docs, meta, site.robots, site.seeds, max_waves=2)
    assert not e1.store.read_manifest()["done"]
    e2 = CrawlEngine(spark, cfg, str(tmp_path / "part"), n_buckets=8)
    resumed = e2.run(docs, meta, site.robots, site.seeds)

    for t in ("visited", "frontier", "skipped"):
        a = sorted(map(tuple, full[t].collect()))
        b = sorted(map(tuple, resumed[t].collect()))
        assert a == b, f"table {t} differs after resume"
