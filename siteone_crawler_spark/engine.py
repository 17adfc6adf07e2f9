"""CrawlEngine — the iterative BFS wave driver.

Re-architecture of the reference's tokio worker loop
(/root/reference/src/engine/crawler.rs:222-391: FIFO dequeue, per-URL task,
shared DashMap state) as deterministic Spark dataflow. One wave =

    pending(K) → politeness admission         (crawler.rs:540-569 superset:
                                                global + per-host budgets, one
                                                cached per-host ranking; the
                                                rest -> deferred(K+1))
      → admitted ⋈ docs ⋈ docs_meta            (the synthetic "fetch")
      → basename circuit-breaker pre-check     (crawler.rs:506-525)
      → explode spans → resolve/canonicalize   (pandas UDF, crawler.rs:1020+)
      → host / breaker / robots / regex /      (enqueue pipeline,
        suitability filters                     crawler.rs:1055-1306)
      → anti-join seen (Bloom join + exact key scan) (crawler.rs:1287-1297)
      → first-wins dedup + deterministic rank   (crawler.rs:1232-1242)
      → caps → frontier(K+1), visited, skipped, events, metrics
      → checkpoint commit (atomic manifest bump)

State tables (sources/checkpoint.py):
  frontier   append-only discovery log: ONE row per enqueued URL, wave =
             discovery wave; doubles as the exact seen set (read back as a
             url_key-only scan) and the order source (seq is the global
             enqueue == dequeue sequence).
  deferred   politeness-deferred pending rows, indexed by the wave that will
             process them (empty in parity mode).
  blooms     the Bloom prefilter's (bucket, word, bits) rows as of each
             frontier wave; resume points the prefilter at the last one.
  visited / skipped / events / metrics  as named.

Crawl order parity: the reference's FIFO queue yields enqueue order ==
dequeue order; we reproduce it by ranking each wave's accepted candidates by
the unique compound key (parent_seq, span_offset) and assigning a cumulative
global `seq`. At workers=1 the reference's order is exactly this (BASELINE.md
note); tests/test_frontier_parity.py asserts equality against the simulator.

Scale notes (local[N] in tests and perfbench, 1000 executors in spirit):
  - no driver-side row loops: per-row logic lives in one Arrow-batched UDF
    (resolve, which also evaluates robots in the same batch) and one narrow
    applyInPandas (breaker, only over at-risk basename groups);
  - the wave rank avoids a single-partition window (operators/ordering.py);
  - seen-set dedup is Bloom-prefiltered above SeenSet.bloom_min_keys keys
    by a broadcast join on word-blocked filter rows (no Python), so only
    maybe-seen candidates join the exact keys (operators/seen.py);
  - every wave's state lands in the checkpoint store, so lineage is cut per
    wave (no ever-growing plan) and a killed run resumes bit-identically;
  - between crawls, invalidate(urls) re-queues already-crawled URLs through
    the deferred table for a recrawl generation (visited becomes a fetch
    log; operators/recrawl.crawl_diff collapses it to current state).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .functions import headers as hdrs
from .config import (
    ASSET_KINDS,
    NON_LINK_KINDS,
    SKIP_NOT_ALLOWED_HOST,
    SKIP_ROBOTS_TXT,
    SPAN_KIND_TO_SOURCE,
    CrawlConfig,
)
from .functions.robots import compile_rules_map
from .functions.urls import (
    HTMLISH_EXTENSIONS,
    canonicalize,
    make_resolve_udf,
)
from .operators.ordering import with_global_seq
from .operators.seen import SeenSet
from .sources.checkpoint import CheckpointStore

FRONTIER_SCHEMA = (
    "url string, url_key string, uq_id string, host string, path string, ext string,"
    " depth int, wave int, seq long, source_uq_id string, source_attr int"
)
FRONTIER_COLS = [c.split(" ")[0] for c in FRONTIER_SCHEMA.replace(", ", ",").split(",")]
VISITED_SCHEMA = FRONTIER_SCHEMA + (
    ", status_code int, content_type_header string, size long, request_time_ms double,"
    " headers map<string,string>, cache_type_flags int, cache_lifetime int"
)
SKIPPED_SCHEMA = (
    "url string, url_key string, reason int, source_uq_id string, source_attr int, wave int,"
    " parent_seq long, offset int"
)
BN_STATE_SCHEMA = "basename string, evt_seqs array<bigint>, n_events long"
METRICS_SCHEMA = "wave int, stage string, rows long"
LINEAGE_SCHEMA = "wave int, table string, file string, n_rows long, n_bytes long"
BLOOMS_SCHEMA = "bucket int, word int, bits long"


def _kind_to_attr_expr():
    mapping = F.create_map(
        *[x for k, v in SPAN_KIND_TO_SOURCE.items() for x in (F.lit(k), F.lit(v))]
    )
    return F.coalesce(mapping[F.col("kind")], F.lit(10))


def _span_gate_expr(cfg):
    """Native twin of config.span_kind_allowed (P14 per-class toggles) —
    pure Catalyst: kind membership + rlike extension classes."""
    from .config import (
        FILE_KINDS,
        IMAGE_KINDS,
        RE_CLASS_ANY_FILE,
        RE_CLASS_CSS,
        RE_CLASS_FONT,
        RE_CLASS_HTML,
        RE_CLASS_IMAGE,
        RE_CLASS_JS,
        SCRIPT_KINDS,
    )

    kind, txt = F.col("s.kind"), F.col("s.text")
    keep = F.lit(True)
    if not cfg.images_enabled:
        keep = keep & ~kind.isin(*IMAGE_KINDS)
        keep = keep & ~(kind.isin("css_url", "link_href") & txt.rlike(RE_CLASS_IMAGE))
    if not cfg.scripts_enabled:
        keep = keep & ~kind.isin(*SCRIPT_KINDS)
        keep = keep & ~((kind == "link_href") & txt.rlike(RE_CLASS_JS))
    if not cfg.fonts_enabled:
        keep = keep & ~(kind.isin("css_url", "link_href") & txt.rlike(RE_CLASS_FONT))
    if not cfg.styles_enabled:
        keep = keep & ~(kind.isin("css_url", "link_href") & txt.rlike(RE_CLASS_CSS))
    if not cfg.files_enabled:
        keep = keep & ~kind.isin(*FILE_KINDS)
        keep = keep & ~(
            (kind == "a_href") & txt.rlike(RE_CLASS_ANY_FILE) & ~txt.rlike(RE_CLASS_HTML)
        )
    return keep


def _basename_expr(url_col, path_col):
    """Native twin of functions.urls.base_name (reference get_base_name,
    parsed_url.rs:465-481): NULL for root/empty path; trailing slashes
    trimmed; query appended when it contains '/' or '%2F'."""
    query = F.parse_url(url_col, F.lit("QUERY"))
    seg = F.element_at(F.split(F.regexp_replace(path_col, "/+$", ""), "/"), -1)
    with_query = F.when(
        query.isNotNull() & (query.contains("/") | query.contains("%2F")),
        F.concat(seg, F.lit("?"), query),
    ).otherwise(seg)
    return F.when(
        path_col.isNull() | (path_col == "") | (path_col == "/") | (seg == ""),
        F.lit(None).cast("string"),
    ).otherwise(with_query)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        config: CrawlConfig,
        checkpoint_dir: str,
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.config = config
        self.store = CheckpointStore(spark, checkpoint_dir)
        self.seen = SeenSet(spark, n_buckets=n_buckets)
        self.n_enqueued = 0
        self._wave_caches: list[DataFrame] = []
        self._wave_seq_start: dict[int, int] = {}
        self._min_pending_seq: int | None = None
        # basename-breaker state lives in a checkpointed Spark table
        # (basename string, evt_seqs array<bigint>, n_events long), NOT on
        # the driver: a 404 long tail of distinct failing basenames is
        # unbounded at 100x scale. evt_seqs keeps only the smallest
        # max_non200+1 event seqs (the n-th smallest trips the breaker,
        # crawler.rs:506-525); n_events saturates at max_non200+1 (every
        # comparison the breaker makes is `> max_non200`). _bn_state_max
        # caches max(n_events) so no-trippable waves skip all breaker joins.
        self._bn_state: DataFrame | None = None
        self._bn_state_max = 0

    # ------------------------------------------------------------------ run
    def run(
        self,
        docs: DataFrame,
        meta: DataFrame,
        robots_bodies: dict[str, str],
        seeds: list[tuple[str, int]],
        max_waves: int | None = None,
        external_frontier: DataFrame | None = None,
        preseeded: bool = False,
    ) -> dict:
        cfg = self.config
        sc = self.spark.sparkContext
        first = canonicalize(seeds[0][0])
        self.initial_host, self.initial_scheme = first["host"], first["scheme"]
        rules = compile_rules_map(robots_bodies)
        self._rules_bc = sc.broadcast(rules)
        self._resolve = make_resolve_udf(
            self.initial_host,
            self.initial_scheme,
            cfg.remove_query_params,
            list(cfg.keep_query_params) or None,
            robots_rules=None if cfg.ignore_robots_txt else rules,
            # uq_id/url_key are recomputed natively (F.md5) in
            # _resolve_candidates — keeps the Arrow kernel hash-free
            with_key=False,
        )
        docs = docs.withColumnRenamed("doc_id", "__doc_url")
        if "headers" not in meta.columns:
            meta = meta.withColumn("headers", F.lit(None).cast("map<string,string>"))
        meta = meta.withColumnRenamed("doc_id", "__meta_url")

        manifest = self.store.read_manifest()
        if manifest["last_wave"] >= 0:
            if manifest.get("done"):
                return self._final_tables(manifest["last_wave"])
            wave = manifest["last_wave"] + 1
            self._restore_state(manifest["last_wave"])
        elif external_frontier is not None:
            wave = 0
            if not preseeded:
                self.seed_frontier(external_frontier)
        else:
            wave = 0
            self._bootstrap(seeds)

        limit = max_waves if max_waves is not None else (cfg.max_waves or 100_000)
        waves_run = 0
        while waves_run < limit:
            # pending size from parquet footers — no Spark job
            n_pending = self.store.count_rows("frontier", wave) + self.store.count_rows(
                "deferred", wave
            )
            if n_pending == 0:
                self.store.commit_wave(wave - 1, done=True)
                break
            self._run_wave(wave, self._pending(wave), docs, meta, n_pending)
            wave += 1
            waves_run += 1
        return self._final_tables(self.store.read_manifest()["last_wave"])

    # ----------------------------------------------------------- bootstrap
    def _bootstrap(self, seeds: list[tuple[str, int]]) -> None:
        rows = [(u, u, -1, i, "seed", attr, "") for i, (u, attr) in enumerate(seeds)]
        cand = self.spark.createDataFrame(
            rows,
            "base string, href string, parent_seq long, offset int, kind string,"
            " source_attr int, source_uq_id string",
        )
        accepted, skipped = self._split_candidates(
            self._resolve_candidates(cand), wave=0, events_agg=None
        )
        self.store.write_table("skipped", 0, skipped)
        self._finalize_frontier(accepted, wave=0)
        for h in self._wave_caches:
            h.unpersist()
        self._wave_caches.clear()

    def invalidate(self, urls: list[str]) -> int:
        """Mark already-crawled URLs for recrawl; returns how many matched.

        Re-queues each URL's ORIGINAL frontier row (same url_key/uq_id/
        depth/seq — seq is the URL's stable first-enqueue identity) through
        the `deferred` table at the next wave index, which is empty once a
        crawl is done, then clears the manifest's done flag. The next
        `run()` resumes, fetches exactly these URLs, and re-extracts: links
        they yield stay deduped against the intact seen set, so the recrawl
        touches only the invalidated pages plus genuinely NEW links (site
        changed since the last crawl). No committed state is rewritten —
        `visited` becomes a fetch LOG where a recrawled URL appears once
        per crawl generation, distinguishable by `wave` (consumers wanting
        current-state take max(wave) per seq).

        The reference has no recrawl (one process = one crawl, then the
        seen DashMap dies, crawler.rs:96-103); at cluster scale re-fetching
        10^10 URLs to refresh 10^4 is not an option, which is what this
        exists for."""
        manifest = self.store.read_manifest()
        last = manifest["last_wave"]
        if last < 0:
            raise ValueError("no committed crawl state to invalidate")
        if not manifest.get("done"):
            raise ValueError("invalidate() runs between crawls; resume first")
        w = last + 1
        batch = list(dict.fromkeys(urls))
        urls_df = self.spark.createDataFrame([(u,) for u in batch], "url string")
        rows = (
            self.store.read_all("frontier", w, FRONTIER_SCHEMA)
            .join(F.broadcast(urls_df), on=["url"], how="left_semi")
            .select(*FRONTIER_COLS)
        )
        self.store.write_table("deferred", w, rows)
        n = self.store.count_rows("deferred", w)
        if n:
            self.store.commit_wave(last, done=False)
        return n

    def seed_frontier(self, frontier: DataFrame) -> None:
        """Install an externally-built wave-0 frontier (FRONTIER_SCHEMA
        columns, url_key distinct, seq pre-assigned 0..N-1). Used by the
        steady-state benchmark and by callers resuming from external state.
        Columns are cast to FRONTIER_SCHEMA, which the checkpoint reads
        declare."""
        cols = [
            F.col(name).cast(t).alias(name)
            for name, t in (f.split() for f in FRONTIER_SCHEMA.split(","))
        ]
        self.store.write_table("frontier", 0, frontier.select(*cols), max_files=32)
        n = self.store.count_rows("frontier", 0)
        self.seen._keys = self._seen_keys(0)
        self._wave_seq_start[0] = 0
        self.n_enqueued = n
        if n >= self.seen.bloom_min_keys:
            self._checkpoint_prefilter(0)

    def _restore_state(self, last_wave: int) -> None:
        # frontier rows discovered while processing last_wave live at index
        # last_wave+1 — they are already committed state (manifest bumped
        # after finalize), so the seen set must include them. One frontier
        # row per enqueued URL: the enqueue count is a footer sum, no job.
        self.seen._keys = self._seen_keys(last_wave + 1)
        n_last = self.store.count_rows("frontier", last_wave + 1)
        self.n_enqueued = n_last + sum(
            self.store.count_rows("frontier", w) for w in range(last_wave + 1)
        )
        self._wave_seq_start[last_wave + 1] = self.n_enqueued - n_last
        # basename-breaker state: newest checkpointed table at or before
        # last_wave; waves after it are replayed (pre-state-table checkpoints
        # replay everything — the merge chain reproduces the same table)
        w0 = -1
        for w in range(last_wave, -1, -1):
            if self.store.has_wave("basename_events", w):
                w0 = w
                break
        if w0 >= 0:
            self._bn_state = self.store.read_wave(
                "basename_events", w0, BN_STATE_SCHEMA
            )
            self._bn_state_max = self._bn_max(w0)
        for w in range(w0 + 1, last_wave + 1):
            self._absorb_events(w)
        if self.store.has_wave("blooms", last_wave + 1):
            self.seen.prefilter = self.store.read_wave(
                "blooms", last_wave + 1, BLOOMS_SCHEMA
            )
        elif self.n_enqueued >= self.seen.bloom_min_keys:
            self.seen.absorb(self.seen.keys)

    def _pending(self, wave: int) -> DataFrame:
        newly = self.store.read_wave("frontier", wave, FRONTIER_SCHEMA)
        deferred = self.store.read_wave("deferred", wave, FRONTIER_SCHEMA)
        return newly.unionByName(deferred)

    # ------------------------------------------------------------ the wave
    def _run_wave(
        self, wave: int, pending: DataFrame, docs: DataFrame, meta: DataFrame,
        n_pending: int = 0,
    ) -> None:
        import time as _time

        _t = _time.time()

        def _mark(stage: str) -> None:
            # per-phase wall time lands in the metrics table as a
            # `time_us:<phase>` row (rows = microseconds) — the lineage data
            # behind the content-processors-stats report table. Phases after
            # the metrics write itself (metrics+lineage, commit) can't be
            # recorded, by construction.
            nonlocal _t
            now = _time.time()
            metrics.append((wave, f"time_us:{stage}", int((now - _t) * 1e6)))
            _t = now

        cfg = self.config
        metrics: list[tuple[int, str, int]] = []

        # min parent seq over the WHOLE pending set (deferred rows carry
        # earlier-wave parents) — parquet footer stats, no job. Feeds the
        # queue-cap trigger bound in _finalize_frontier.
        mins = [
            self.store.min_stat(t, wave, "seq") for t in ("frontier", "deferred")
        ]
        mins = [m for m in mins if m is not None]
        self._min_pending_seq = min(mins) if mins else None

        # politeness admission (north-rule superset; parity mode admits all).
        # Under budgets both frames filter one cached ranking of the pending
        # rows; a global budget's bound collect materializes it.
        admitted, deferred = self._admit(pending)

        # "fetch": join meta (S1 analog — in a real deployment this is a
        # mapInPandas batch HTTP fetcher; here the docs table IS the web).
        # Persist only the SLIM meta-side join — the breaker pre-check
        # branches over it twice (wave_bad aggregate + main path) and the
        # visited projection reuses it. The heavy spans column is NOT
        # cached: serializing 10^6 span arrays into the block store is
        # memory-bandwidth-bound and was the wave's worst-scaling stage
        # (x1.9 from 2->8 cores); extraction re-joins docs for spans
        # instead — join compute that scales with cores.
        raw_fetch = (
            admitted.join(meta, admitted.url == F.col("__meta_url"), "left")
            .withColumn("fetch_status", F.coalesce(F.col("status_code"), F.lit(-1)))
            .withColumn("basename", _basename_expr(F.col("url"), F.col("path")))
            .drop("__meta_url", "status_code")
        )
        raw_fetch.persist(StorageLevel.MEMORY_AND_DISK)
        self._wave_caches.append(raw_fetch)

        # basename circuit-breaker pre-check -> final status (-6 short-circuit).
        # Its tiny collect materializes the raw_fetch cache (and, with it,
        # every partition of the admission cache); in parity mode it is the
        # wave's first action.
        fetched = self._apply_breaker_precheck(raw_fetch)

        # One pool for the wave's concurrent jobs: the deferred write, the
        # visited write next to the candidate count, then the skipped write
        # next to the finalize. Three workers: the deferred write never
        # queues the count. Leaving the block waits for every job, so a
        # failure never leaves a write running behind the exception.
        with ThreadPoolExecutor(max_workers=3) as pool:
            # the pre-check's collect has materialized the admission cache, so
            # the deferred write reads only cached rows, off the wave's
            # critical path; it is joined before the metrics write and the
            # commit, so a failed write still fails the wave
            f_def = None
            if deferred is not None:
                f_def = pool.submit(self.store.write_table, "deferred", wave + 1, deferred)
            _mark("breaker_precheck")

            # visited is the FETCH log: wave = the wave that processed the row
            # (== discovery wave under parity; later when politeness defers)
            visited = fetched.select(
                "url", "url_key", "uq_id", "host", "path", "ext", "depth",
                F.lit(wave).cast("int").alias("wave"), "seq",
                "source_uq_id", "source_attr",
                F.col("status").alias("status_code"),
                "content_type_header",
                # -6 short-circuits never fetch (crawler.rs:509 create_skipped):
                # no body, no timing
                F.when(F.col("status") == -6, F.lit(0))
                .otherwise(F.coalesce(F.col("size"), F.lit(0)))
                .cast("long")
                .alias("size"),
                F.when(F.col("status") == -6, F.lit(0.0))
                .otherwise(F.coalesce(F.col("request_time_ms"), F.lit(0.0)))
                .alias("request_time_ms"),
                # F9 header model: flags/lifetime only for real responses
                # (crawler.rs:766-772 -> NOT_AVAILABLE when status <= 0)
                F.when(F.col("status") > 0, F.col("headers")).alias("headers"),
                F.when(F.col("status") <= 0, F.lit(hdrs.NOT_AVAILABLE))
                .otherwise(hdrs.cache_flags_expr(F.col("headers")))
                .cast("int")
                .alias("cache_type_flags"),
                F.when(
                    F.col("status") > 0, hdrs.cache_lifetime_expr(F.col("headers"))
                ).alias("cache_lifetime"),
            )
            # ---- extraction: spans of 200-pages + redirect Locations ------
            # spans come from a fresh docs join (not the slim cache — see above);
            # docs is bucketed/persisted on the join key so this is co-located
            pages = (
                fetched.filter(F.col("status") == 200)
                .select("url", "host", "seq", "uq_id")
                .join(docs, F.col("url") == F.col("__doc_url"), "inner")
                .filter(F.col("spans").isNotNull())
            )
            base_expr = F.coalesce(
                F.try_element_at(
                    F.filter("spans", lambda s: s.kind == F.lit("base_href")), F.lit(1)
                )["text"],
                F.col("url"),
            )
            link_spans = (
                pages.withColumn("base", base_expr)
                .select(
                    "base",
                    "host",
                    F.col("seq").alias("parent_seq"),
                    F.col("uq_id").alias("source_uq_id"),
                    F.explode("spans").alias("s"),
                )
                .filter(~F.col("s.kind").isin(*NON_LINK_KINDS))
            )
            if not cfg.crawl_assets:
                link_spans = link_spans.filter(~F.col("s.kind").isin(*ASSET_KINDS))
            link_spans = link_spans.filter(_span_gate_expr(cfg))
            if cfg.single_page:
                link_spans = link_spans.filter(F.col("s.kind") != "a_href")
            if cfg.single_foreign_page:
                # P13 remainder (html_processor.rs:180-182): pages on a foreign
                # 2nd-level domain contribute no <a href> links
                d2l = F.regexp_extract(F.col("host"), r"([^.]+\.[^.]+)$", 1)
                init_d2l = ".".join(self.initial_host.split(".")[-2:])
                link_spans = link_spans.filter(
                    (F.col("s.kind") != "a_href") | (d2l == F.lit(init_d2l))
                )
            link_spans = link_spans.drop("host")
            candidates = link_spans.select(
                "base",
                F.col("s.text").alias("href"),
                "parent_seq",
                F.col("s.offset").alias("offset"),
                F.col("s.kind").alias("kind"),
                "source_uq_id",
            )
            redirects = fetched.filter(
                F.col("status").between(301, 308) & F.col("redirect_location").isNotNull()
            ).select(
                F.col("url").alias("base"),
                F.col("redirect_location").alias("href"),
                F.col("seq").alias("parent_seq"),
                F.lit(-1).alias("offset"),
                F.lit("redirect_location").alias("kind"),
                F.col("uq_id").alias("source_uq_id"),
            )
            candidates = candidates.unionByName(redirects).withColumn(
                "source_attr", _kind_to_attr_expr()
            )

            # the candidate cache (fetch join -> explode -> resolve/robots UDF —
            # the wave's heaviest compute) materializes CONCURRENTLY with the
            # visited write + driver-side event absorption: the breaker flag is
            # attached only after both finish (it needs this wave's events), so
            # neither branch waits on the other. Concurrent jobs over the same
            # cached plan are safe — BlockManager locks per partition.
            c = self._resolve_candidates(candidates)

            def _write_visited_and_absorb():
                t0 = _time.time()
                self.store.write_table(
                    "visited", wave, visited, max_files=self._nfiles(n_pending)
                )
                t1 = _time.time()
                metrics.append((wave, "subtime_us:visited_write", int((t1 - t0) * 1e6)))
                self._absorb_events(wave)  # driver-side column read, no job
                metrics.append(
                    (wave, "subtime_us:absorb_events", int((_time.time() - t1) * 1e6))
                )

            f_vis = pool.submit(_write_visited_and_absorb)
            f_cnt = pool.submit(c.count)
            n_cand_all = f_cnt.result()
            f_vis.result()
            _mark("visited+candidates_materialize")
            metrics.append((wave, "frontier", self.store.count_rows("visited", wave)))
            metrics.append((wave, "candidates", n_cand_all))

            accepted, skipped = self._split_candidates(c, wave + 1, self._events_agg())

            # skipped-write and frontier-finalize are independent once the cache
            # is hot — run them as concurrent Spark jobs (fills idle cores and
            # removes their latencies from the wave's serial chain). Per-thread
            # sub-timings land as `subtime_us:` metric rows (a separate prefix:
            # the bench sums `time_us:` rows for its tail residual, and these
            # overlap in wall time).
            def _timed(name: str, fn, *a):
                t0 = _time.time()
                out = fn(*a)
                metrics.append(
                    (wave, f"subtime_us:{name}", int((_time.time() - t0) * 1e6))
                )
                return out

            f_skip = pool.submit(
                _timed, "skipped_write", self.store.write_table, "skipped",
                wave + 1, skipped, self._nfiles(n_cand_all),
            )
            f_new = pool.submit(
                _timed, "finalize", self._finalize_frontier, accepted,
                wave + 1, n_cand_all, metrics,
            )
            f_skip.result()
            n_new = f_new.result()
            _mark("skipped+finalize")
            metrics.append((wave, "enqueued", n_new))
            metrics.append((wave, "skipped", self.store.count_rows("skipped", wave + 1)))
            if f_def is not None:
                f_def.result()
            _mark("footer_counts")

        # metrics + lineage are rows the driver holds: pyarrow writes, no job
        self.store.write_table("metrics", wave, metrics, schema=METRICS_SCHEMA)
        # per-partition lineage (north rule): one row per output file
        lineage = self.store.collect_lineage(
            wave, ("visited",)
        ) + self.store.collect_lineage(wave + 1, ("frontier", "skipped"))
        self.store.write_table("lineage", wave, lineage, schema=LINEAGE_SCHEMA)
        _mark("metrics+lineage")
        self.store.commit_wave(wave, done=False)
        _mark("commit")
        for h in self._wave_caches:
            h.unpersist()
        self._wave_caches.clear()

    # ------------------------------------------------- candidate pipeline
    def _resolve_candidates(self, cand: DataFrame) -> DataFrame:
        """Resolve + event-independent predicate flags on ONE cached
        DataFrame, so the expensive upstream (fetch joins + resolve/robots
        pandas UDFs) is evaluated exactly once per wave. The breaker (P4)
        is NOT part of the cached plan — it depends on THIS wave's events,
        so keeping it out lets the cache materialize CONCURRENTLY with the
        visited write + event absorption (engine._run_wave overlaps them).
        The cache handle is parked on self._wave_caches and released at
        wave end."""
        cfg = self.config
        # AQE coalesces the (small) upstream join output to ~1 partition; the
        # exploded candidate set is 10-50x bigger and about to hit the Python
        # kernel — spread it across the executors first. The shuffle moves
        # only (base, href) strings and buys full-parallel UDF execution.
        c = cand.repartition(self.spark.sparkContext.defaultParallelism * 2)
        c = c.withColumn("r", self._resolve(F.col("base"), F.col("href")))
        c = c.filter(F.col("r.valid"))  # P1/P2/P6 — invalid dropped silently
        # url_key/uq_id natively: Spark md5(str) is bit-identical to the
        # kernel's hashlib.md5(utf8).hexdigest() (the UDF was built with
        # with_key=False), so the last Python hashing leaves the hot loop.
        # The UDF output is already materialized (nondeterministic node), so
        # computing md5 twice here is two cheap JVM exprs, not two UDF runs.
        native_key = F.md5(F.col("r.canon_url"))
        c = c.select(
            F.col("r.canon_url").alias("url"),
            native_key.alias("url_key"),
            F.substring(native_key, 1, 8).alias("uq_id"),
            F.col("r.host").alias("host"),
            F.col("r.path").alias("path"),
            F.col("r.ext").alias("ext"),
            F.col("r.depth").alias("depth"),
            F.col("r.basename").alias("__bn"),  # reference get_base_name (P4)
            F.col("r.robots_ok").alias("__robots_ok"),  # P5, computed in-batch
            "parent_seq", "offset", "kind", "source_uq_id", "source_attr",
        )

        # P12: a_href depth cap (extraction-side silent drop)
        if cfg.max_depth > 0:
            c = c.filter((F.col("kind") != "a_href") | (F.col("depth") <= cfg.max_depth))

        # P3: host allowlist — native column expr
        bare = F.regexp_replace(F.col("host"), r"^www\.", "")
        ih_bare = self.initial_host.removeprefix("www.")
        host_ok = (F.col("host") == self.initial_host) | (bare == F.lit(ih_bare))
        if cfg.allowed_domains:
            combined = "|".join(r.pattern for r in cfg.allowed_domain_regexes())
            host_ok = host_ok | F.col("host").rlike(combined)
        c = c.withColumn("__host_ok", host_ok)

        # P5: robots.txt — already evaluated inside the resolve UDF's Arrow
        # batch (__robots_ok column; */$ wildcards aren't Catalyst-expressible
        # so they ride the same Python exchange as canonicalization)

        # P9/P10: include/ignore regex, url length, asset gate (silent drops).
        # Include list is a disjunction — ANY match allows (crawler.rs:1309-
        # 1338); ignore list is a conjunction of negations (any match vetoes).
        suit = F.length("url") <= cfg.max_url_length
        if cfg.include_regex:
            inc = F.lit(False)
            for pat in cfg.include_regex:
                inc = inc | F.col("url").rlike(pat)
            suit = suit & inc
        for pat in cfg.ignore_regex:
            suit = suit & ~F.col("url").rlike(pat)
        if not cfg.crawl_assets:
            suit = suit & (
                F.col("ext").isin(*[e for e in HTMLISH_EXTENSIONS if e])
                | (F.col("ext") == "")
                | (F.col("kind") == "sitemap_loc")
            )
        c = c.withColumn("__suit_ok", suit)

        c.persist(StorageLevel.MEMORY_AND_DISK)
        self._wave_caches.append(c)
        return c

    def _split_candidates(self, c: DataFrame, wave: int, events_agg: DataFrame | None):
        """Attach the breaker flag (P4 — a broadcast join over the CACHED
        resolve output) and split into (accepted, skipped). Events per
        basename are bounded (~max_non200), so the aggregate broadcasts and
        the predicate stays pure Catalyst."""
        cfg = self.config
        if events_agg is not None:
            n = cfg.max_non200_per_basename
            # NULL basename (root URLs) never joins -> evt_seqs NULL -> ok;
            # enqueue side trips at >= n (crawler.rs:1086)
            c = (
                c.join(F.broadcast(events_agg), F.col("__bn") == events_agg.basename, "left")
                .withColumn(
                    "__breaker_ok",
                    F.col("evt_seqs").isNull()
                    | (
                        F.size(F.filter("evt_seqs", lambda s: s <= F.col("parent_seq")))
                        < F.lit(n)
                    ),
                )
                .drop("basename", "evt_seqs")
            )
        else:
            c = c.withColumn("__breaker_ok", F.lit(True))

        skip_cols = [
            "url", "url_key", "source_uq_id", "source_attr",
            F.lit(wave).cast("int").alias("wave"), "parent_seq", "offset",
        ]
        skipped_host = c.filter(~F.col("__host_ok")).select(
            skip_cols[:2] + [F.lit(SKIP_NOT_ALLOWED_HOST).alias("reason")] + skip_cols[2:]
        )
        skipped_robots = c.filter(
            F.col("__host_ok") & F.col("__breaker_ok") & ~F.col("__robots_ok")
        ).select(skip_cols[:2] + [F.lit(SKIP_ROBOTS_TXT).alias("reason")] + skip_cols[2:])
        skipped = skipped_host.unionByName(skipped_robots)

        accepted = c.filter(
            F.col("__host_ok") & F.col("__breaker_ok") & F.col("__robots_ok") & F.col("__suit_ok")
        ).drop("__host_ok", "__breaker_ok", "__robots_ok", "__suit_ok", "__bn")
        return accepted, skipped

    # -------------------------------------------------- finalize a wave
    def _finalize_frontier(
        self, accepted: DataFrame, wave: int, size_hint: int | None = None,
        metrics: list | None = None,
    ) -> int:
        cfg = self.config
        import time as _time

        _t0 = _time.time()

        def _sub(name: str) -> None:
            # optional fine-grained attribution (subtime_us: rows — see
            # _run_wave; they overlap the threaded skipped write, so they
            # are NOT part of the bench's time_us phase arithmetic)
            nonlocal _t0
            if metrics is not None:
                now = _time.time()
                metrics.append(
                    (wave - 1, f"subtime_us:finalize/{name}",
                     int((now - _t0) * 1e6))
                )
                _t0 = now

        # accepted: anti-join seen FIRST (the bloom prefilter drops the
        # dominant mass — occurrences of already-seen keys — MAP-SIDE,
        # before any shuffle; dedup-first would push every wide candidate
        # row through the agg shuffle instead), then first-wins dedup as
        # min_by(struct(cols), struct(parent_seq, offset)) — a hash
        # aggregate, not a window, so no per-duplicate sort and map-side
        # partial combine where keys do co-locate
        unseen = self.seen.filter_new(accepted, n_seen=self.n_enqueued)
        data_cols = [col for col in unseen.columns if col != "url_key"]
        new = (
            unseen.groupBy("url_key")
            .agg(
                F.min_by(
                    F.struct(*data_cols), F.struct("parent_seq", "offset")
                ).alias("__w")
            )
            .select("url_key", "__w.*")
        )
        new, n_cand = with_global_seq(
            new, ["parent_seq", "offset"], seq_col="seq", start=self.n_enqueued,
            cache_registry=self._wave_caches, size_hint=size_hint,
        )
        _sub("rank")
        # global enqueue cap (crawler.rs:1268-1306): total-ever < max_visited
        new = new.filter(F.col("seq") < cfg.max_visited_urls)
        # queue cap: cheap python upper bound first (max seq - min possible
        # parent - 1); only run the exact sequential pass when it could bind.
        # NOTE the exact pass runs on the PRE-dedup stream: a cap-rejected
        # first occurrence must not consume the key — a later duplicate can
        # still enqueue once dequeues free a slot (reference FIFO semantics).
        # Under politeness deferral pending rows carry parents from EARLIER
        # waves, so the min parent comes from the pending set's parquet
        # footer stats (stashed by _run_wave), not from the wave counter.
        min_parent = self._min_pending_seq
        if min_parent is None:
            min_parent = self._wave_seq_start.get(wave - 1, -1)
        qlen_bound = (self.n_enqueued + n_cand - 1) - (min_parent + 1)
        if qlen_bound >= cfg.max_queue_length:
            new = self._apply_queue_cap(unseen)

        frontier_new = new.select(
            "url", "url_key", "uq_id", "host", "path", "ext", "depth",
            F.lit(wave).cast("int").alias("wave"), "seq", "source_uq_id", "source_attr",
        )
        self.store.write_table("frontier", wave, frontier_new, max_files=self._nfiles(n_cand))
        n_new = self.store.count_rows("frontier", wave)  # footer read, no job
        _sub("frontier_write")

        self._wave_seq_start[wave] = self.n_enqueued
        self.n_enqueued += n_new
        # parquet-backed seen keys: cut lineage, one url_key scan over the
        # committed frontier waves
        self.seen._keys = self._seen_keys(wave)

        # prefilter maintenance only once the seen set is big enough to pay
        # for it (below that, filter_new broadcast-anti-joins the exact keys)
        if self.n_enqueued >= self.seen.bloom_min_keys:
            self._checkpoint_prefilter(wave)
            _sub("bloom")
        return n_new

    def _seen_keys(self, upto_wave: int) -> DataFrame:
        """The exact seen set: url_key projection of frontier waves 0..upto_wave."""
        return self.store.read_all_partitioned(
            "frontier", upto_wave, FRONTIER_SCHEMA, ["url_key"]
        )

    def _checkpoint_prefilter(self, wave: int) -> None:
        """Fold frontier wave `wave` into the Bloom prefilter (the whole seen
        set on the first build), write it as the `blooms` table's wave, and
        point the prefilter at that scan: lineage is cut per wave and resume
        reads the rows back as they are."""
        if self.seen.prefilter is None:
            self.seen.absorb(self.seen.keys)
        else:
            self.seen.absorb(self.store.read_wave("frontier", wave, FRONTIER_SCHEMA))
        self.store.write_table("blooms", wave, self.seen.prefilter)
        self.seen.prefilter = self.store.read_wave("blooms", wave, BLOOMS_SCHEMA)

    @staticmethod
    def _nfiles(n_rows: int) -> int:
        """Output files per state-table write: 1 while tiny (keeps test-scale
        scans compact), growing ~1 file / 100k rows so big waves write in
        parallel instead of funneling through a single coalesced task."""
        return max(1, min(64, n_rows // 100_000))

    # ------------------------------------------------------------ helpers
    def _absorb_events(self, wave: int) -> None:
        """Fold the wave's non-200 fetches (excluding -6 short-circuits) into
        the checkpointed basename-event state table (crawler.rs:1440-1451:
        root URLs and index.* never count). The all-200 common case is
        detected from parquet status-column footers driver-side (no Spark
        job, no state write); eventful waves merge DISTRIBUTED — driver
        memory stays O(1) even under a 404 long tail of distinct failing
        basenames. Per basename the wave contributes at most max_non200+1
        events (the precheck -6-short-circuits the rest), so the collect_list
        below is O(n) per key by construction."""
        import pyarrow.compute as pc

        from .functions.urls import BREAKER_EXEMPT_BASENAMES

        eventful = False
        for chunk in self.store.iter_column_chunks(
            "visited", wave, ["status_code"]
        ):
            st = chunk["status_code"]
            mask = pc.and_(pc.not_equal(st, 200), pc.not_equal(st, -6))
            if pc.sum(mask).as_py() not in (0, None):
                eventful = True
                break
        if not eventful:
            return
        cap = self.config.max_non200_per_basename + 1
        empty = F.array().cast("array<bigint>")
        ev = (
            self.store.read_wave("visited", wave, VISITED_SCHEMA)
            .filter(~F.col("status_code").isin(200, -6))
            .withColumn("basename", _basename_expr(F.col("url"), F.col("path")))
            .filter(
                F.col("basename").isNotNull()
                & ~F.col("basename").isin(*BREAKER_EXEMPT_BASENAMES)
            )
            .groupBy("basename")
            .agg(
                F.slice(F.sort_array(F.collect_list("seq")), 1, cap).alias("new_seqs"),
                F.count(F.lit(1)).alias("new_n"),
            )
        )
        if self._bn_state is None:
            merged = ev.select(
                "basename",
                F.col("new_seqs").cast("array<bigint>").alias("evt_seqs"),
                F.least(F.col("new_n"), F.lit(cap)).cast("long").alias("n_events"),
            )
        else:
            # seqs only grow wave-over-wave, so sorted-concat + slice keeps
            # exactly the globally smallest cap event seqs
            merged = ev.join(self._bn_state, "basename", "full_outer").select(
                "basename",
                F.slice(
                    F.sort_array(
                        F.concat(
                            F.coalesce(F.col("evt_seqs"), empty),
                            F.coalesce(F.col("new_seqs").cast("array<bigint>"), empty),
                        )
                    ),
                    1,
                    cap,
                ).alias("evt_seqs"),
                F.least(
                    F.coalesce(F.col("n_events"), F.lit(0))
                    + F.coalesce(F.col("new_n"), F.lit(0)),
                    F.lit(cap),
                )
                .cast("long")
                .alias("n_events"),
            )
        self.store.write_table("basename_events", wave, merged)
        self._bn_state = self.store.read_wave("basename_events", wave, BN_STATE_SCHEMA)
        self._bn_state_max = self._bn_max(wave)

    def _bn_max(self, wave: int) -> int:
        """Max n_events of a basename_events wave: driver-side column read,
        no job."""
        import pyarrow.compute as pc

        return max(
            (
                pc.max(t["n_events"]).as_py() or 0
                for t in self.store.iter_column_chunks("basename_events", wave, ["n_events"])
            ),
            default=0,
        )

    def _events_agg(self) -> DataFrame | None:
        """P4's broadcast side: (basename, evt_seqs) straight from the state
        table. Only basenames with >= n events can ever trip the enqueue-side
        breaker, so the broadcast carries just those — a 404 long tail of
        once-failing basenames never inflates it."""
        n = self.config.max_non200_per_basename
        if self._bn_state is None or self._bn_state_max < n:
            return None
        return self._bn_state.filter(F.col("n_events") >= n).select(
            "basename", "evt_seqs"
        )

    def _apply_breaker_precheck(self, raw_fetch: DataFrame) -> DataFrame:
        """Process-time breaker (crawler.rs:506-525): rows whose basename has
        >= N prior non-200 events (strictly earlier seq, including earlier
        rows of THIS wave) short-circuit to status -6.

        Risk detection is ONE small aggregate over the cached fetch join
        (which usefully doubles as the cache materialization); in the common
        no-risk case the wave pays zero extra plan nodes. At-risk basenames
        (bounded, driver-collected) route through a narrow per-basename
        sequential applyInPandas."""
        from .functions.urls import BREAKER_EXEMPT_BASENAMES

        cfg = self.config
        n = cfg.max_non200_per_basename
        exempt = list(BREAKER_EXEMPT_BASENAMES)

        # root URLs (basename NULL) and index.* never count and never trip
        interest = F.col("basename").isNotNull() & ~F.col("basename").isin(*exempt)
        # per-basename non-200 counts this wave — stays a distributed
        # aggregate (and usefully doubles as the fetch-cache materialization);
        # ONLY basenames that can actually trip this wave are collected, so
        # driver traffic is O(trippable), not O(distinct failing basenames)
        bad = (
            raw_fetch.filter(interest & (F.col("fetch_status") != 200))
            .groupBy("basename")
            .agg(F.count(F.lit(1)).alias("bad"))
        )
        prev_bc: dict[str, int] = {}
        if self._bn_state is not None:
            st = self._bn_state.select("basename", "n_events")
            # a row trips only when its PRIOR event count strictly exceeds n
            # (crawler.rs:507-509 uses `count > max`) — risk iff prev+bad can
            # cross that bar this wave
            crossed = (
                bad.join(st, "basename", "left")
                .filter(F.coalesce(F.col("n_events"), F.lit(0)) + F.col("bad") > n)
                .select(
                    "basename",
                    F.coalesce(F.col("n_events"), F.lit(0)).alias("prev"),
                )
                .collect()
            )
            for r in crossed:
                prev_bc[r["basename"]] = int(r["prev"])
            # already-tripped basenames (prior count alone > n) short-circuit
            # even all-200 rows; the n_events filter bounds this to trippables
            if self._bn_state_max > n:
                for r in st.filter(F.col("n_events") > n).collect():
                    prev_bc[r["basename"]] = int(r["n_events"])
        else:
            for r in bad.filter(F.col("bad") > n).collect():
                prev_bc[r["basename"]] = 0
        risky = sorted(prev_bc)
        if not risky:
            return raw_fetch.withColumn("status", F.col("fetch_status"))
        safe_rows = raw_fetch.filter(
            F.col("basename").isNull() | ~F.col("basename").isin(*risky)
        ).withColumn("status", F.col("fetch_status"))
        risky_rows = raw_fetch.filter(F.col("basename").isin(*risky))

        def seq_check(pdf):
            pdf = pdf.sort_values("seq").reset_index(drop=True)
            running = int(prev_bc.get(pdf["basename"].iloc[0], 0)) if len(pdf) else 0
            statuses = []
            for s in pdf["fetch_status"]:
                if running > n:
                    statuses.append(-6)
                else:
                    statuses.append(int(s))
                    if s != 200:
                        running += 1
            pdf["status"] = statuses
            return pdf[["seq", "status"]]

        risky_status = (
            risky_rows.select("basename", "seq", "fetch_status")
            .groupBy("basename")
            .applyInPandas(seq_check, "seq long, status int")
        )
        risky_done = risky_rows.join(risky_status, "seq", "inner")
        return safe_rows.unionByName(risky_done, allowMissingColumns=False)

    def _apply_queue_cap(self, unseen: DataFrame) -> DataFrame:
        """P11 (crawler.rs:1219-1230): reject when the live queue is full.
        queue_len at enqueue of the row with global seq s and parent p is
        s - p - 1. Runs ONLY when the python upper bound says the cap could
        bind (rare: default cap 9000); replays the reference's sequential
        acceptance over the wave's candidate keys — including within-wave
        dedup, because a cap-rejected first occurrence must not block a later
        duplicate, and the global max_visited cap."""
        q = self.config.max_queue_length
        mv = self.config.max_visited_urls
        # Driver memory is bounded: the candidate stream arrives sorted but
        # STREAMED (toLocalIterator holds one partition at a time, never the
        # whole wave), `taken`/`accepted_keys` hold at most the accept count,
        # and total accepts per wave are < max_queue_length (every parent seq
        # is < base, so acceptance requires n_acc < q) — the loop breaks the
        # moment that bound is hit.
        rows = (
            unseen.select("url_key", "parent_seq", "offset")
            .repartitionByRange(
                max(1, self.spark.sparkContext.defaultParallelism), "parent_seq", "offset"
            )
            .sortWithinPartitions("parent_seq", "offset")
            .toLocalIterator()
        )
        accepted_keys: list[tuple] = []
        taken: set[str] = set()
        n_acc = 0
        base = self.n_enqueued
        for r in rows:
            if n_acc >= q or base + n_acc >= mv:
                break
            if r["url_key"] in taken:
                continue
            qlen = (base + n_acc) - (r["parent_seq"] + 1)
            if qlen < q:
                taken.add(r["url_key"])
                # remember WHICH occurrence won (it carries source provenance)
                accepted_keys.append((r["url_key"], r["parent_seq"], r["offset"], base + n_acc))
                n_acc += 1
        keys_df = self.spark.createDataFrame(
            accepted_keys, "url_key string, parent_seq long, offset int, seq long"
        )
        return unseen.join(F.broadcast(keys_df), ["url_key", "parent_seq", "offset"], "inner")

    def _admit(self, pending: DataFrame):
        """Politeness admission (north-rule superset — the reference's
        politeness is a single global rate limiter, crawler.rs:540-569, with
        NO Crawl-delay support): a priority queue keyed by
        (depth, host, priority=seq) admits the first K rows of the wave
        (global budget) and gives each host a per-wave fetch budget; robots
        Crawl-delay shrinks it (budget = wave_seconds/delay). Deferred rows
        queue for the next wave. Parity config (budget=0, wave_seconds=0)
        admits everything -> exact BFS order.

        Admission is computed ONCE: each row's rank within its host,
        `row_number() over (partition by host order by depth, seq)`, is
        taken over ALL pending rows and the ranked frame is cached. The
        global budget keeps the K smallest (depth, seq) rows — a prefix of a
        total order (seq is unique) — so every row of a host that precedes
        an in-bound row is in-bound too: an in-bound row's rank among all
        pending rows equals its rank among the globally admitted rows, and
        the window need not wait for the bound. `admitted` (in bound AND
        rank <= budget) and `deferred` (its complement) are both filters
        over the one cache; the global bound's collect materializes it."""
        cfg = self.config
        if (
            cfg.per_host_wave_budget <= 0
            and cfg.wave_seconds <= 0
            and cfg.global_wave_budget <= 0
        ):
            return pending, None

        # per-host budget: the per-host cap and/or the Crawl-delay budget
        # (the smaller wins)
        budgets = []
        if cfg.per_host_wave_budget > 0:
            budgets.append(F.lit(cfg.per_host_wave_budget))
        if cfg.wave_seconds > 0:
            delays = {
                host: r.crawl_delay
                for host, r in self._rules_bc.value.items()
                if r.crawl_delay
            }
            default_budget = max(
                1, int(cfg.wave_seconds / max(cfg.default_crawl_delay, 1e-9))
            )
            if delays:
                mapping = F.create_map(
                    *[
                        x
                        for h, d in sorted(delays.items())
                        for x in (
                            F.lit(h),
                            F.lit(max(1, int(cfg.wave_seconds / d))),
                        )
                    ]
                )
                budgets.append(F.coalesce(mapping[F.col("host")], F.lit(default_budget)))
            else:
                budgets.append(F.lit(default_budget))
        budget = None
        if budgets:
            budget = budgets[0] if len(budgets) == 1 else F.least(*budgets)
            # rank over ALL pending rows — see the prefix argument above
            w = W.partitionBy("host").orderBy("depth", "seq")
            pending = pending.withColumn("__hr", F.row_number().over(w))
        pending.persist(StorageLevel.MEMORY_AND_DISK)
        self._wave_caches.append(pending)

        admit = F.lit(True)
        # global budget (the reference's single global rate limiter,
        # crawler.rs:540-569: first K requests in queue order): find the
        # K-th smallest (depth, seq) via TakeOrdered — a config-sized top-K,
        # partial per partition then one K-row reduce, never a global sort
        # of the frontier — and admit rows at-or-under the bound. seq is
        # globally unique, so the cut is exact.
        if cfg.global_wave_budget > 0:
            row = (
                pending.select("depth", "seq")
                .orderBy("depth", "seq")
                .limit(cfg.global_wave_budget)
                .agg(F.max(F.struct("depth", "seq")).alias("b"))
                .collect()[0]["b"]
            )
            if row is not None:
                admit = (F.col("depth") < row["depth"]) | (
                    (F.col("depth") == row["depth"]) & (F.col("seq") <= row["seq"])
                )
        if budget is not None:
            admit = admit & (F.col("__hr") <= budget)
        return (
            pending.filter(admit).drop("__hr"),
            pending.filter(~admit).drop("__hr"),
        )

    def _final_tables(self, last_wave: int) -> dict:
        # frontier/skipped rows discovered while processing wave K land at
        # index K+1 — read one index past the last processed wave.
        # skipped is stored RAW (every occurrence); first-wins is the
        # read-time view: earliest (wave, parent_seq, offset) per url_key.
        # min_by hash-aggregate, not a window: partial aggregation map-side,
        # no per-key sort — the same transform the frontier dedup uses
        raw_sk = self.store.read_all("skipped", last_wave + 1, SKIPPED_SCHEMA)
        sk = (
            raw_sk.groupBy("url_key")
            .agg(
                F.min_by(
                    F.struct("url", "reason", "source_uq_id", "source_attr", "wave"),
                    F.struct("wave", "parent_seq", "offset"),
                ).alias("__r")
            )
            .select(
                F.col("__r.url").alias("url"),
                "url_key",
                F.col("__r.reason").alias("reason"),
                F.col("__r.source_uq_id").alias("source_uq_id"),
                F.col("__r.source_attr").alias("source_attr"),
                F.col("__r.wave").alias("wave"),
            )
        )
        return {
            "visited": self.store.read_all("visited", last_wave, VISITED_SCHEMA),
            "frontier": self.store.read_all("frontier", last_wave + 1, FRONTIER_SCHEMA),
            "skipped": sk,
            "metrics": self.store.read_all("metrics", last_wave, METRICS_SCHEMA),
            "lineage": self.store.read_all("lineage", last_wave, LINEAGE_SCHEMA),
            "last_wave": last_wave,
        }
