"""Politeness admission: the global budget (the first K pending rows in
(depth, seq) order) combined with per-host budgets (a per-host cap and/or
robots Crawl-delay), checked row for row against a driver-side reference on
a hand-built pending set, plus resume of a budgeted crawl."""

from types import SimpleNamespace

import pytest

from siteone_crawler_spark.config import CrawlConfig
from siteone_crawler_spark.engine import FRONTIER_COLS, FRONTIER_SCHEMA, CrawlEngine
from siteone_crawler_spark.functions.robots import compile_rules_map
from siteone_crawler_spark.generator import generate_site, site_to_dfs

HOSTS = [f"h{i}.example.test" for i in range(6)]
# the last host is hot (four ninths of this wave's rows) and has Crawl-delay
DELAYED = HOSTS[5]


def _pending_rows():
    """This wave's discoveries (seq 100.., depth 2-3) plus rows deferred from
    an earlier wave (seq 10.., depth 1-2), so that seq order and (depth,
    seq) order disagree."""
    rows = []
    for i in range(36):
        seq = 100 + i
        rows.append((HOSTS[min(i % 9, 5)], 2 + (i % 4 == 3), 5, seq))
    for i in range(8):
        rows.append((HOSTS[i % 6], 1 + i % 2, 3, 10 + i))
    return [
        (f"https://{h}/p{seq}", f"k{seq}", f"u{seq}", h, f"/p{seq}", "", depth, wave,
         seq, "", 10)
        for h, depth, wave, seq in rows
    ]


def _reference(rows, k, budgets):
    """(admitted, deferred) urls: the k smallest (depth, seq) rows (all rows
    when k is 0), then the first budgets[host] of each host among them (no
    cap when budgets is None)."""
    ordered = sorted(rows, key=lambda r: (r[6], r[8]))
    inbound = ordered[:k] if k else ordered
    taken: dict[str, int] = {}
    admitted = set()
    for r in inbound:
        taken[r[3]] = taken.get(r[3], 0) + 1
        if budgets is None or taken[r[3]] <= budgets[r[3]]:
            admitted.add(r[0])
    return admitted, {r[0] for r in rows} - admitted


def _uniform(b):
    return {h: b for h in HOSTS}


# case -> (config kwargs, k, per-host budgets of the reference). Crawl-delay
# cases: wave_seconds 10 over the default delay 2.5 gives 4 per wave, the
# delayed host's 5 s gives 2.
CASES = {
    "global_cuts_host": (
        dict(global_wave_budget=15, per_host_wave_budget=2), 15, _uniform(2)
    ),
    "global_covers_pending": (
        dict(global_wave_budget=100, per_host_wave_budget=2), 100, _uniform(2)
    ),
    "global_only": (dict(global_wave_budget=15), 15, None),
    "per_host_only": (dict(per_host_wave_budget=2), 0, _uniform(2)),
    "crawl_delay": (
        dict(wave_seconds=10.0, default_crawl_delay=2.5), 0,
        {**_uniform(4), DELAYED: 2},
    ),
    "crawl_delay_global_per_host": (
        dict(global_wave_budget=20, per_host_wave_budget=3, wave_seconds=10.0,
             default_crawl_delay=2.5),
        20, {**_uniform(3), DELAYED: 2},
    ),
}


@pytest.mark.parametrize("case", list(CASES))
def test_admit_matches_reference(spark, tmp_path, case):
    cfg_kw, k, budgets = CASES[case]
    rows = _pending_rows()
    want_adm, want_def = _reference(rows, k, budgets)
    if case == "global_cuts_host":
        # the fixture must make K split a host: some host has rows on both
        # sides of the global bound
        inbound = {r[0] for r in sorted(rows, key=lambda r: (r[6], r[8]))[:k]}
        split = {r[3] for r in rows if r[0] in inbound} & {
            r[3] for r in rows if r[0] not in inbound
        }
        assert split
    assert want_adm and want_def

    eng = CrawlEngine(spark, CrawlConfig(**cfg_kw), str(tmp_path / "ckpt"), n_buckets=4)
    eng._rules_bc = SimpleNamespace(
        value=compile_rules_map({DELAYED: "User-agent: *\nCrawl-delay: 5\n"})
    )
    try:
        admitted, deferred = eng._admit(spark.createDataFrame(rows, FRONTIER_SCHEMA))
        assert admitted.columns == FRONTIER_COLS and deferred.columns == FRONTIER_COLS
        got_adm = [r["url"] for r in admitted.collect()]
        got_def = [r["url"] for r in deferred.collect()]
    finally:
        for h in eng._wave_caches:
            h.unpersist()
        eng._wave_caches.clear()
    assert sorted(got_adm) == sorted(want_adm)
    assert sorted(got_def) == sorted(want_def)


def test_budgeted_resume_matches_uninterrupted(spark, tmp_path):
    """A crawl under global and per-host budgets, stopped after 2 waves and
    resumed by a fresh engine, ends with the same visited, frontier, skipped
    and deferred rows as one uninterrupted crawl. On the way, a failing
    deferred write (it runs on a pool thread) must fail its wave before the
    manifest bump."""
    site = generate_site(seed=5, n_hosts=2, docs_per_host=6)
    cfg = CrawlConfig(
        allowed_domains=("*.example.test",), crawl_assets=False,
        global_wave_budget=4, per_host_wave_budget=2,
    )
    docs, meta, _robots, _seeds = site_to_dfs(spark, site)

    def crawl(name, **kw):
        eng = CrawlEngine(spark, cfg, str(tmp_path / name), n_buckets=8)
        return eng, eng.run(docs, meta, site.robots, site.seeds, **kw)

    def deferred_rows(eng, tables):
        return sorted(map(tuple, eng.store.read_all(
            "deferred", tables["last_wave"] + 1, FRONTIER_SCHEMA
        ).collect()))

    e0, full = crawl("full")
    want_deferred = deferred_rows(e0, full)
    assert want_deferred, "the budgets must bind"

    e1, _ = crawl("part", max_waves=2)
    assert e1.store.read_manifest()["last_wave"] == 1

    e2 = CrawlEngine(spark, cfg, str(tmp_path / "part"), n_buckets=8)
    write_table = e2.store.write_table

    def failing_write(table, *a, **kw):
        if table == "deferred":
            raise OSError("deferred write failed")
        return write_table(table, *a, **kw)

    e2.store.write_table = failing_write
    try:
        with pytest.raises(OSError, match="deferred write failed"):
            e2.run(docs, meta, site.robots, site.seeds)
    finally:
        for h in e2._wave_caches:
            h.unpersist()
    assert e2.store.read_manifest()["last_wave"] == 1

    e3, resumed = crawl("part")
    assert e3.store.read_manifest()["done"]
    for t in ("visited", "frontier", "skipped"):
        a = sorted(map(tuple, full[t].collect()))
        b = sorted(map(tuple, resumed[t].collect()))
        assert a == b, f"table {t} differs after resume"
    assert deferred_rows(e3, resumed) == want_deferred
