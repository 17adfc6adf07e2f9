"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship frontier-scheduling pipeline (the engine's
wave expansion with real canonicalize/dedup/rank operators) over a docs table
derived deterministically from /root/testdata/sf0.001/documents.parquet.

`queries()` exposes one entry per implemented operator family from
SURVEY.md §2 (+ the training-data ops), each with a DuckDB `oracle_sql()`
twin. Column names and values are aligned across engines: float aggregations
go through decimal casts (order-independent exactness) and computed floats
are rounded identically on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _register(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            spark.read.parquet(p).createOrReplaceTempView(t)


# --------------------------------------------------------------------- entry
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one frontier wave on a derived spans corpus — fetch join,
    span explode, vectorized canonicalization UDF, robots gate, seen-set
    anti-join, first-wins dedup, deterministic global ranking."""
    from siteone_crawler_spark.config import CrawlConfig
    from siteone_crawler_spark.engine import CrawlEngine
    from siteone_crawler_spark.sources.docs import derive_meta, derive_spans_from_documents

    sf_dir = "/root/testdata/sf0.001"
    documents = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = derive_spans_from_documents(documents, fanout=3, n_hosts=7)
    meta = derive_meta(docs)

    import tempfile

    ckpt = tempfile.mkdtemp(prefix="spark_frontier_entry_")
    cfg = CrawlConfig(allowed_domains=("*.corpus.test",))
    eng = CrawlEngine(spark, cfg, ckpt, n_buckets=16)
    robots = {f"h{i:02d}.corpus.test": "User-agent: *\nDisallow: /private/\n" for i in range(7)}
    tables = eng.run(
        docs, meta, robots, [("https://h00.corpus.test/p/0", 5)], max_waves=4
    )
    return tables["visited"].orderBy("seq")


# ------------------------------------------------------- shared SQL snippets
# derived URL corpus: identical construction in Spark SQL and DuckDB SQL
_URLS_CTE = """
WITH urls AS (
  SELECT cast(doc_id AS bigint) AS doc_id,
         'h' || lpad(cast(doc_id % 7 AS string), 2, '0') || '.corpus.test' AS host,
         cast(doc_id % 3 AS int) AS variant
  FROM documents
), raw AS (
  SELECT doc_id, host, variant,
    CASE variant
      WHEN 0 THEN 'HTTPS://' || upper(host) || '/p/' || cast(doc_id AS string) || '#frag'
      WHEN 1 THEN 'https://' || host || ':443/a/b/' || cast(doc_id AS string) || '?x=1&y=2'
      ELSE 'https://' || host || '/p/' || cast(doc_id % 50 AS string)
    END AS raw_url,
    CASE variant
      WHEN 0 THEN 'https://' || host || '/p/' || cast(doc_id AS string)
      WHEN 1 THEN 'https://' || host || '/a/b/' || cast(doc_id AS string) || '?x=1&y=2'
      ELSE 'https://' || host || '/p/' || cast(doc_id % 50 AS string)
    END AS canon_expected
  FROM urls
)
"""

# normalized-token expression, per dialect
_TOKS_SPARK = "filter(split(regexp_replace(lower(text), '[^a-z0-9]+', ' '), ' '), x -> x <> '')"
_TOKS_DUCK = (
    "list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),"
    " x -> x <> '')"
)

_STOP = {
    "en": "'the','a','of','and','to','in','is','it','that','for'",
    "es": "'el','la','de','y','que','en','los','se','del','las'",
    "fr": "'le','la','de','et','les','des','en','un','du','une'",
    "zh": "'de5','shi4','zai4','le5','he2','you3','wo3','ta1','zhe4','men5'",
}


def _hits(toks: str, lang: str, dialect: str) -> str:
    fn = "filter" if dialect == "spark" else "list_filter"
    sz = "size" if dialect == "spark" else "len"
    return f"{sz}({fn}({toks}, x -> x IN ({_STOP[lang]})))"


def _quality_sql(dialect: str, toks: str | None = None) -> str:
    """`toks` overrides the token expression — the Spark queries bind the
    token array ONCE in a subquery column (Catalyst skips subexpression
    elimination for lambda-bearing expressions, so the default inline form
    re-tokenizes per textual reference); the DuckDB oracle text keeps the
    inline default and is byte-identical to previous rounds."""
    toks = toks or (_TOKS_SPARK if dialect == "spark" else _TOKS_DUCK)
    sz = "size" if dialect == "spark" else "len"
    g = ", 'g'" if dialect == "duck" else ""
    n_tok = f"{sz}({toks})"
    hits = _hits(toks, "en", dialect)
    punct = f"(length(regexp_replace(text, '[a-zA-Z0-9 ]', ''{g})) * 1.0 / length(text))"
    len_score = f"least({n_tok} / 100.0, 1.0)"
    sw_score = f"least((CASE WHEN {n_tok} > 0 THEN {hits} * 1.0 / {n_tok} ELSE 0.0 END) * 5.0, 1.0)"
    punct_pen = f"greatest(0.0, 1.0 - (CASE WHEN length(text) > 0 THEN {punct} ELSE 0.0 END) * 4.0)"
    return f"round(0.4 * {len_score} + 0.3 * {sw_score} + 0.3 * {punct_pen}, 6)"


def _lang_sql(dialect: str, h: dict[str, str] | None = None) -> str:
    """`h` overrides the per-language hit-count expressions — the Spark
    query binds them as subquery columns (each is referenced up to 4x in
    the CASE); the DuckDB oracle text keeps the inline default."""
    if h is None:
        toks = _TOKS_SPARK if dialect == "spark" else _TOKS_DUCK
        h = {lang: _hits(toks, lang, dialect) for lang in _STOP}
    return (
        "CASE "
        f"WHEN {h['en']} >= {h['es']} AND {h['en']} >= {h['fr']} AND {h['en']} >= {h['zh']} AND {h['en']} > 0 THEN 'en' "
        f"WHEN {h['es']} >= {h['fr']} AND {h['es']} >= {h['zh']} AND {h['es']} > 0 THEN 'es' "
        f"WHEN {h['fr']} >= {h['zh']} AND {h['fr']} > 0 THEN 'fr' "
        f"WHEN {h['zh']} > 0 THEN 'zh' "
        "ELSE 'und' END"
    )


def _fp_sql(dialect: str) -> str:
    if dialect == "spark":
        return f"md5(array_join({_TOKS_SPARK}, ' '))"
    return f"md5(array_to_string({_TOKS_DUCK}, ' '))"


def _shingles_sql(dialect: str, n: int = 3) -> str:
    """n-word shingles over normalized tokens; requires len(toks) >= n."""
    if dialect == "spark":
        t = _TOKS_SPARK
        return (
            f"transform(sequence(1, size({t}) - {n - 1}),"
            f" i -> array_join(slice({t}, i, {n}), ' '))"
        )
    t = _TOKS_DUCK
    return (
        f"list_transform(generate_series(1, len({t}) - {n - 1}),"
        f" i -> array_to_string({t}[i:i+{n - 1}], ' '))"
    )


# deterministic fixture HTML per documents row (Spark side of extract_links /
# extract_meta; the oracle reconstructs the planted links arithmetically)
_FIXTURE_HTML_SQL = """
SELECT cast(doc_id AS string) AS doc_id,
  'text/html; charset=utf-8' AS content_type,
  '<html><head><title>Doc ' || cast(doc_id * 31 % 113 AS string) || '</title>'
  || CASE WHEN doc_id % 11 = 5
       THEN '<base href="https://h00.corpus.test/based/">' ELSE '' END
  || '<meta name="description" content="Synthetic page '
  || cast(doc_id AS string) || '">'
  || '</head><body>'
  || '<a href="/p/' || cast((doc_id * 7 + 1) % 1000 AS string) || '">x</a>'
  || '<a href="https://h' || lpad(cast(doc_id % 7 AS string), 2, '0')
  || '.corpus.test/q/' || cast(doc_id AS string) || '?a=1&amp;b=2#frag">y</a>'
  || '<a href="#frag">s</a>'
  || '<a href="mailto:x@y.z">m</a>'
  || '<img src="/img/' || cast(doc_id % 50 AS string) || '.png" alt="">'
  || '<img srcset="/img/' || cast(doc_id % 50 AS string) || '-480.webp 480w, /img/'
  || cast(doc_id % 50 AS string) || '-960.webp 960w" alt="">'
  || '<script src="/js/app' || cast(doc_id % 3 AS string) || '.js"></script>'
  || '<link rel="stylesheet" href="/css/site' || cast(doc_id % 2 AS string) || '.css">'
  || '<style>.a{background:url(/img/bg' || cast(doc_id % 4 AS string) || '.avif)}</style>'
  || '</body></html>' AS body
FROM documents"""

# DuckDB twin of sources.docs.derive_visited_from_documents: same arithmetic,
# flags/label/lifetime derived INDEPENDENTLY (bit math over the known
# cache-control variants) so the Spark header kernel is genuinely checked
_VIS_ORACLE_CTE = """
WITH d0 AS (
  SELECT cast(doc_id AS bigint) AS did, n_chars FROM documents
), v0 AS (
  SELECT did, n_chars,
    'h' || lpad(cast(did % 7 AS string), 2, '0') || '.corpus.test' AS host,
    'https://h' || lpad(cast(did % 7 AS string), 2, '0') || '.corpus.test/p/'
      || cast(did AS string) AS url,
    CASE WHEN did % 10 = 7 THEN 404 WHEN did % 10 = 8 THEN 301
         WHEN did % 10 = 9 THEN -1 ELSE 200 END AS status_code,
    CASE cast(did % 5 AS int)
      WHEN 0 THEN 'text/html; charset=utf-8' WHEN 1 THEN 'text/css'
      WHEN 2 THEN 'application/javascript' WHEN 3 THEN 'image/webp'
      ELSE 'application/json' END AS cth,
    cast(n_chars * 3 + did % 100 AS bigint) AS size,
    (did * 37 % 50000) / 10.0 AS rt,
    CASE WHEN did % 3 <> 0 THEN cast(did % 5 AS int) END AS cc_idx
  FROM d0
), v1 AS (
  SELECT *,
    CASE WHEN status_code <= 0 THEN 65536 ELSE
      coalesce(CASE cc_idx WHEN 0 THEN 273 WHEN 1 THEN 1537 WHEN 2 THEN 16401
                           WHEN 3 THEN 2049 WHEN 4 THEN 353 END, 0)
      + CASE WHEN did % 4 = 1 THEN 2 ELSE 0 END
      + CASE WHEN did % 2 = 0 THEN 4 ELSE 0 END
      + CASE WHEN did % 5 < 2 THEN 8 ELSE 0 END
    END AS raw_flags,
    CASE WHEN status_code > 0 AND cc_idx = 0 THEN 3600
         WHEN status_code > 0 AND cc_idx = 2 THEN 86400 END AS cache_lifetime
  FROM v0
), vis AS (
  SELECT *,
    CASE WHEN raw_flags = 0 THEN 32768 ELSE raw_flags END AS flags,
    CASE WHEN (raw_flags & 15) = 0 THEN 'No cache headers'
      ELSE concat_ws(' + ',
        CASE WHEN (raw_flags & 1) <> 0 THEN 'Cache-Control'
             WHEN (raw_flags & 2) <> 0 THEN 'Expires' END,
        CASE WHEN (raw_flags & 4) <> 0 THEN 'ETag' END,
        CASE WHEN (raw_flags & 8) <> 0 THEN 'Last-Modified' END)
    END AS cache_type,
    CASE WHEN cth LIKE '%text/html%' THEN 'html'
         WHEN cth LIKE '%javascript%' THEN 'script'
         WHEN cth LIKE '%text/css%' THEN 'stylesheet'
         WHEN cth LIKE 'image/%' THEN 'image'
         WHEN cth LIKE '%json%' THEN 'json'
         ELSE 'other' END AS ctype
  FROM v1
)
"""


# ----------------------------------------------------------------- queries
def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    def sqlq(sql: str):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _register(spark, sf_dir)
            return spark.sql(sql)

        return run

    # ---- crawl-semantic operators (F1-F2, J1, W5, P5) over derived URLs ----
    def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
        """F1/F2: the real canonicalization pandas UDF (scheme/host lowering,
        default-port elision, fragment strip) + md5 uq_id."""
        from siteone_crawler_spark.functions.urls import make_resolve_udf

        _register(spark, sf_dir)
        raw = spark.sql(_URLS_CTE + "SELECT doc_id, raw_url FROM raw")
        udf = make_resolve_udf("h00.corpus.test", "https")
        return raw.select(
            "doc_id",
            udf(F.col("raw_url"), F.col("raw_url")).alias("r"),
        ).select(
            "doc_id",
            F.col("r.canon_url").alias("canon_url"),
            F.col("r.uq_id").alias("uq_id"),
            F.col("r.host").alias("host"),
            F.col("r.depth").cast("int").alias("depth"),
        )

    q["url_canonicalize"] = q_url_canonicalize

    def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """J1-style first-wins dedup on canonical keys (discovery order =
        doc_id): keeper + reference count per canonical URL."""
        from siteone_crawler_spark.functions.urls import make_resolve_udf

        _register(spark, sf_dir)
        raw = spark.sql(_URLS_CTE + "SELECT doc_id, raw_url FROM raw")
        udf = make_resolve_udf("h00.corpus.test", "https")
        c = raw.select("doc_id", udf(F.col("raw_url"), F.col("raw_url")).alias("r"))
        return (
            c.groupBy(F.col("r.canon_url").alias("canon_url"))
            .agg(
                F.min("doc_id").alias("keeper"),
                F.count("*").alias("n_refs"),
            )
        )

    q["url_dedup_first_wins"] = q_url_dedup

    def q_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
        """J1: candidates anti-join the seen set (left_anti — the workhorse
        of frontier dedup)."""
        from siteone_crawler_spark.functions.urls import make_resolve_udf

        _register(spark, sf_dir)
        raw = spark.sql(_URLS_CTE + "SELECT doc_id, variant, raw_url FROM raw")
        udf = make_resolve_udf("h00.corpus.test", "https")
        c = raw.select(
            "doc_id", "variant", udf(F.col("raw_url"), F.col("raw_url"))["canon_url"].alias("canon_url")
        )
        candidates = c.filter(F.col("variant") == 2).select("canon_url").distinct()
        seen = c.filter(F.col("doc_id") % 2 == 0).select("canon_url").distinct()
        return candidates.join(seen, "canon_url", "left_anti")

    q["seen_antijoin"] = q_seen_antijoin

    q["frontier_rank"] = sqlq(
        _URLS_CTE
        + """
        SELECT row_number() OVER (ORDER BY variant, doc_id) - 1 AS seq,
               canon_expected AS canon_url
        FROM raw"""
    )

    def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
        """P5/F11: the robots wildcard matcher UDF over broadcast rules."""
        from siteone_crawler_spark.functions.robots import compile_rules_map, is_allowed

        _register(spark, sf_dir)
        paths = spark.sql(
            """
            SELECT cast(doc_id AS bigint) AS doc_id,
              CASE cast(doc_id % 5 AS int)
                WHEN 0 THEN '/private/x' || cast(doc_id AS string)
                WHEN 1 THEN '/private/open/x' || cast(doc_id AS string)
                ELSE '/p/' || cast(doc_id AS string)
              END AS path
            FROM documents"""
        )
        rules = compile_rules_map(
            {"h.corpus.test": "User-agent: *\nDisallow: /private/\nAllow: /private/open\n"}
        )
        bc = spark.sparkContext.broadcast(rules)

        @F.pandas_udf("boolean")
        def robots_ok(path: pd.Series) -> pd.Series:
            r = bc.value["h.corpus.test"]
            return pd.Series([is_allowed(r, p) for p in path])

        return paths.select("doc_id", "path", robots_ok(F.col("path")).alias("allowed"))

    q["robots_gate"] = q_robots_gate

    # ---- analyzer aggregations (§2.4) on driver testdata --------------------
    q["tpch_q1"] = sqlq(
        """
        SELECT l_returnflag, l_linestatus,
          cast(sum(cast(l_quantity AS decimal(18,6))) AS double) AS sum_qty,
          cast(sum(cast(l_extendedprice AS decimal(18,6))) AS double) AS sum_base,
          cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(18,6))) AS double) AS sum_disc,
          round(cast(sum(cast(l_quantity AS decimal(18,6))) AS double) / count(*), 6) AS avg_qty,
          count(*) AS n
        FROM lineitem
        WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus"""
    )

    q["basic_stats"] = sqlq(
        """
        SELECT count(*) AS total_events,
          cast(sum(cast(value AS decimal(20,8))) AS double) AS total_value,
          round(cast(sum(cast(value AS decimal(20,8))) AS double) / count(*), 6) AS avg_value,
          cast(min(value) AS double) AS min_value,
          cast(max(value) AS double) AS max_value,
          count(DISTINCT user_id) AS n_users
        FROM events"""
    )

    q["count_by_status"] = sqlq(
        "SELECT o_orderstatus AS status, count(*) AS n FROM orders GROUP BY o_orderstatus"
    )

    q["content_type_stats"] = sqlq(
        """
        SELECT lang,
          count(*) AS n,
          sum(n_chars) AS total_chars,
          round(cast(sum(cast(n_chars AS decimal(18,4))) AS double) / count(*), 6) AS avg_chars
        FROM documents GROUP BY lang"""
    )

    q["source_domain_stats"] = sqlq(
        """
        SELECT source, lang, count(*) AS n, sum(n_chars) AS total_chars
        FROM documents GROUP BY source, lang"""
    )

    q["top_slowest"] = sqlq(
        """
        SELECT event_id, cast(value AS double) AS value FROM events
        ORDER BY value DESC, event_id ASC LIMIT 20"""
    )

    q["top_fastest"] = sqlq(
        """
        SELECT event_id, cast(value AS double) AS value FROM events
        ORDER BY value ASC, event_id ASC LIMIT 20"""
    )

    q["duplicate_titles"] = sqlq(
        """
        SELECT substr(text, 1, 25) AS title, count(*) AS n, min(doc_id) AS first_doc
        FROM documents GROUP BY substr(text, 1, 25) HAVING count(*) > 1"""
    )

    q["headers_stats"] = sqlq(
        """
        SELECT event_type,
          count(*) AS n,
          count(DISTINCT user_id) AS n_users,
          min(cast(get_json_object(props, '$.k') AS int)) AS min_k,
          max(cast(get_json_object(props, '$.k') AS int)) AS max_k
        FROM events GROUP BY event_type"""
    )

    q["window_rank"] = sqlq(
        """
        SELECT user_id, event_id, rn FROM (
          SELECT user_id, event_id,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events) t
        WHERE rn <= 3"""
    )

    q["sessionize"] = sqlq(
        """
        WITH g AS (
          SELECT user_id, ts,
            CASE WHEN unix_timestamp(ts) - unix_timestamp(
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
            THEN 1 ELSE 0 END AS new_session
          FROM events)
        SELECT user_id, sum(new_session) AS n_sessions, count(*) AS n_events
        FROM g GROUP BY user_id"""
    )

    q["windowed_counts"] = sqlq(
        """
        SELECT cast(date_trunc('hour', ts) AS string) AS hour_bucket,
               event_type, count(*) AS n
        FROM events GROUP BY date_trunc('hour', ts), event_type"""
    )

    # ---- training-data operators (routed through operators/dedup.py) ------
    def q_dedup_exact(spark, sf_dir):
        from siteone_crawler_spark.operators.dedup import exact_duplicates

        _register(spark, sf_dir)
        return exact_duplicates(spark.table("documents")).select("fp", "n_docs", "keeper")

    q["dedup_exact"] = q_dedup_exact

    q["token_count"] = sqlq(
        f"""
        SELECT lang, sum(size({_TOKS_SPARK})) AS total_tokens,
               count(*) AS n_docs
        FROM documents GROUP BY lang"""
    )

    # Spark side binds the token array (and for lang_id the per-language hit
    # counts) as subquery columns so the lambda-bearing tokenization runs
    # ONCE per row instead of once per textual reference (Catalyst skips
    # subexpression elimination for higher-order-function expressions). The
    # computed VALUES are expression-for-expression identical to the inline
    # form the DuckDB oracle still uses.
    q["quality_score"] = sqlq(
        f"""
        SELECT source,
          round(cast(sum(cast({_quality_sql('spark', toks='__toks')} AS decimal(18,8))) AS double) / count(*), 6) AS avg_quality,
          count(*) AS n
        FROM (SELECT source, text, {_TOKS_SPARK} AS __toks FROM documents) __q
        GROUP BY source"""
    )

    _hit_cols = {lang: f"__h_{lang}" for lang in _STOP}
    q["lang_id"] = sqlq(
        f"""
        SELECT doc_id, {_lang_sql('spark', h=_hit_cols)} AS lang_guess, lang AS lang_actual
        FROM (SELECT doc_id, lang,
                {', '.join(f"{_hits('__toks', lang, 'spark')} AS __h_{lang}" for lang in _STOP)}
              FROM (SELECT doc_id, lang, {_TOKS_SPARK} AS __toks FROM documents) __t0) __t1"""
    )

    q["doc_fingerprint"] = sqlq(
        f"SELECT doc_id, {_fp_sql('spark')} AS fp FROM documents"
    )

    def q_hash_sample(spark, sf_dir):
        from siteone_crawler_spark.operators.sampling import hash_sample

        _register(spark, sf_dir)
        return hash_sample(
            spark.table("documents"), "doc_id", rate=0.2, salt="s1"
        ).select("doc_id", "lang")

    q["hash_sample"] = q_hash_sample

    def q_stratified_sample(spark, sf_dir):
        from siteone_crawler_spark.operators.sampling import stratified_sample

        _register(spark, sf_dir)
        return stratified_sample(
            spark.table("documents"), strata="lang", key="doc_id", n_per_stratum=25
        ).select("lang", "doc_id", "rn")

    q["stratified_sample"] = q_stratified_sample

    def q_repetition_ratio(spark, sf_dir):
        from pyspark.sql import functions as F

        from siteone_crawler_spark.functions.text import ngram_repetition

        _register(spark, sf_dir)
        return spark.table("documents").select(
            "doc_id", ngram_repetition(F.col("text"), 3).alias("dup3_frac")
        )

    q["repetition_ratio"] = q_repetition_ratio

    def q_chunk_documents(spark, sf_dir):
        """Fixed-token sliding-window chunking (embedding/RAG prep):
        operators/chunking.chunk_documents — per-row native explode, no
        shuffle, no UDF."""
        from siteone_crawler_spark.operators.chunking import chunk_documents

        _register(spark, sf_dir)
        return chunk_documents(
            spark.table("documents"), chunk_tokens=32, stride=24
        )

    q["chunk_documents"] = q_chunk_documents

    def q_semdedup(spark, sf_dir):
        """SemDeDup cluster-then-prune semantic dedup
        (operators/similarity.semdedup): IVF assignment (codegen literals),
        within-cluster cosine prune, keep = lowest id per dup relation."""
        from siteone_crawler_spark.operators.similarity import semdedup

        _register(spark, sf_dir)
        return semdedup(spark.table("embeddings"), threshold=0.5, n_centroids=8)

    q["semdedup"] = q_semdedup

    def q_dsir_weights(spark, sf_dir):
        """DSIR hashed-ngram importance weights vs an English-target corpus
        (operators/dsir.dsir_weights): two bucket aggregates + one broadcast
        log-ratio join + one per-doc sum."""
        from pyspark.sql import functions as F

        from siteone_crawler_spark.operators.dsir import dsir_weights

        _register(spark, sf_dir)
        docs = spark.table("documents")
        return dsir_weights(
            docs, docs.filter(F.col("lang") == "en"), n_buckets=256, alpha=1.0
        )

    q["dsir_weights"] = q_dsir_weights

    def q_bpe_pair_stats(spark, sf_dir):
        """BPE merge-pair candidate table (operators/bpe.bpe_pair_stats):
        corpus pass -> word-count hash aggregate, then vocabulary-sized
        pair explode + weighted count — no UDF, no join."""
        from siteone_crawler_spark.operators.bpe import bpe_pair_stats

        _register(spark, sf_dir)
        return bpe_pair_stats(spark.table("documents"), min_count=2)

    q["bpe_pair_stats"] = q_bpe_pair_stats

    def q_lm_xent(spark, sf_dir):
        """CCNet-style LM quality filter (operators/lm.lm_cross_entropy):
        smoothed unigram cross-entropy vs an English reference corpus —
        vocabulary-sized broadcast logprob join + one per-doc aggregate."""
        from pyspark.sql import functions as F

        from siteone_crawler_spark.operators.lm import lm_cross_entropy

        _register(spark, sf_dir)
        docs = spark.table("documents")
        return lm_cross_entropy(docs, docs.filter(F.col("lang") == "en"))

    q["lm_xent"] = q_lm_xent

    def q_tfidf_topk(spark, sf_dir):
        """Top-5 tf-idf terms per doc (operators/tfidf.tfidf_topk): one
        corpus (doc,term) aggregate, broadcast idf join, WindowGroupLimit
        per-doc top-k; rank on the rounded score for engine-portable order."""
        from siteone_crawler_spark.operators.tfidf import tfidf_topk

        _register(spark, sf_dir)
        return tfidf_topk(spark.table("documents"), k=5)

    q["tfidf_topk"] = q_tfidf_topk

    def q_corpus_datacard(spark, sf_dir):
        """Per-source data card (operators/datacard.corpus_datacard):
        one corpus scan, global fingerprint dup aggregate broadcast back,
        one per-source fold + WindowGroupLimit language mode."""
        from siteone_crawler_spark.operators.datacard import corpus_datacard

        _register(spark, sf_dir)
        return corpus_datacard(spark.table("documents"))

    q["corpus_datacard"] = q_corpus_datacard

    def q_asof_purchase_click(spark, sf_dir):
        """As-of join (operators/asof.asof_join): each purchase gets the
        most recent prior-or-equal click by the same user — union-window
        rewrite, ONE shuffle (the window exchange), no join node."""
        from pyspark.sql import functions as F

        from siteone_crawler_spark.operators.asof import asof_join

        _register(spark, sf_dir)
        ev = spark.table("events")
        left = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "ts", "user_id", "value"
        )
        right = ev.filter(F.col("event_type") == "click").select(
            "event_id", "ts", "user_id", "value"
        )
        return asof_join(left, right)

    q["asof_purchase_click"] = q_asof_purchase_click

    def q_range_join_error_window(spark, sf_dir):
        """Bucketized range join (operators/rangejoin.range_join):
        purchases inside the 1-hour window after any error by the same
        user — interval explode + (key,bucket) equi-join + exact re-check,
        never a nested-loop join."""
        from pyspark.sql import functions as F

        from siteone_crawler_spark.operators.rangejoin import range_join

        _register(spark, sf_dir)
        ev = spark.table("events")
        points = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "ts", "user_id", "value"
        )
        intervals = ev.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("error_id"),
            "user_id",
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end"),
        )
        return range_join(points, intervals)

    q["range_join_error_window"] = q_range_join_error_window

    def q_mean_pool(spark, sf_dir):
        """Element-wise mean pooling of embeddings per group
        (operators/pooling.mean_pool): posexplode -> per-(group,dim) avg
        (map-side combine, constant per-key state) -> dim-bounded refold;
        never collect_list of whole vectors."""
        from pyspark.sql import functions as F

        _register(spark, sf_dir)
        from siteone_crawler_spark.operators.pooling import mean_pool

        emb = spark.table("embeddings").select(
            (F.col("vec_id") % 50).alias("group_id"), "embedding"
        )
        return mean_pool(emb, group_col="group_id")

    q["mean_pool"] = q_mean_pool

    def q_gumbel_topk(spark, sf_dir):
        """Gumbel-top-k weighted sample without replacement
        (operators/sampling.gumbel_topk_sample): content-addressed Gumbel
        noise + global TakeOrderedAndProject top-k — weight here is
        ln(n_chars+1); with dsir_weight it is the DSIR resample step."""
        from pyspark.sql import functions as F

        from siteone_crawler_spark.operators.sampling import gumbel_topk_sample

        _register(spark, sf_dir)
        docs = spark.table("documents").select(
            "doc_id", F.log(F.col("n_chars") + 1.0).alias("w")
        )
        return gumbel_topk_sample(docs, key="doc_id", weight_col="w", k=50).select(
            "doc_id", "gumbel_score"
        )

    q["gumbel_topk"] = q_gumbel_topk

    def _pii_augmented(spark, sf_dir):
        # the synthetic corpus has no digits, so both sides plant the SAME
        # deterministic PII from doc_id — the oracle check then certifies
        # regex-dialect parity (Java vs RE2) on real matches, not on an
        # all-zero column
        from pyspark.sql import functions as F

        _register(spark, sf_dir)
        return spark.table("documents").select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 7 == 0,
                    F.concat(
                        F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com now"),
                    ),
                ).otherwise(F.lit("")),
                F.when(F.col("doc_id") % 11 == 0,
                       F.lit(" call 555-123-4567 or 10.0.0.1")).otherwise(F.lit("")),
                F.when(F.col("doc_id") % 13 == 0,
                       F.lit(" ssn 123-45-6789 card 4111-1111-1111-1111")
                       ).otherwise(F.lit("")),
            ).alias("text"),
        )

    def q_pii_scan(spark, sf_dir):
        from siteone_crawler_spark.operators.pii import pii_scan

        return pii_scan(_pii_augmented(spark, sf_dir)).select(
            "doc_id", "n_email", "n_cc", "n_ssn", "n_phone", "n_ipv4",
            "pii_total",
        )

    q["pii_scan"] = q_pii_scan

    def q_pii_redact(spark, sf_dir):
        from pyspark.sql import functions as F

        from siteone_crawler_spark.operators.pii import pii_redact

        return pii_redact(_pii_augmented(spark, sf_dir)).select(
            "doc_id", F.md5("redacted").alias("redacted_md5")
        )

    q["pii_redact"] = q_pii_redact

    def q_decontamination(spark, sf_dir):
        # eval set = every 97th doc (a benchmark is tiny next to the
        # training corpus); 5-gram overlap against everything else
        from pyspark.sql import functions as F

        from siteone_crawler_spark.operators.decontam import ngram_contamination

        _register(spark, sf_dir)
        docs = spark.table("documents")
        return ngram_contamination(
            docs.filter(F.col("doc_id") % 97 != 0),
            docs.filter(F.col("doc_id") % 97 == 0),
            n=5,
        )

    q["decontamination"] = q_decontamination

    def q_line_boilerplate(spark, sf_dir):
        # the corpus has no newlines, so both sides synthesize the same
        # 3-line docs: unique body + a footer planted in EVERY doc + a
        # "subscribe" line in every 3rd doc — the two planted lines exceed
        # max_df and must vanish, order-exact rebuild md5-checked
        from pyspark.sql import functions as F

        from siteone_crawler_spark.operators.linededup import (
            strip_boilerplate_lines,
        )

        _register(spark, sf_dir)
        aug = spark.table("documents").select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.col("text"),
                F.lit("boilerplate footer"),
                F.when(
                    F.col("doc_id") % 3 == 0,
                    F.lit("subscribe to our newsletter"),
                ).otherwise(F.concat(F.lit("line "), F.col("doc_id").cast("string"))),
            ).alias("text"),
        )
        out = strip_boilerplate_lines(aug, max_df=10)
        return out.select("doc_id", F.md5("text").alias("stripped_md5"))

    q["line_boilerplate"] = q_line_boilerplate

    def q_temperature_sample(spark, sf_dir):
        from siteone_crawler_spark.operators.sampling import temperature_sample

        _register(spark, sf_dir)
        return temperature_sample(
            spark.table("documents"), strata="source", key="doc_id",
            alpha=0.5, target_fraction=0.25, salt="ts1",
        ).select("doc_id", "source")

    q["temperature_sample"] = q_temperature_sample

    def q_pack_sequences(spark, sf_dir):
        # doc_id%16 shards (SQL-trivial) instead of the default xxhash64
        # sharding, so the oracle reproduces placement exactly
        from pyspark.sql import functions as F

        from siteone_crawler_spark.operators.sampling import pack_sequences

        _register(spark, sf_dir)
        return pack_sequences(
            spark.table("documents"), seq_len=256,
            shard_col=F.pmod(F.col("doc_id"), F.lit(16)),
        )

    q["pack_sequences"] = q_pack_sequences

    def q_classifier_score(spark, sf_dir):
        """Model-based quality scores: pure-Catalyst LR inference with the
        deterministic md5-bucket weight vector (operators/classifier.py) —
        the oracle reproduces tokenization, bucketing, weights and sigmoid
        bit-for-bit (scores rounded to 6 dp on both sides to absorb
        sum-order float noise)."""
        from pyspark.sql import functions as F

        from siteone_crawler_spark.operators.classifier import (
            deterministic_weights,
            quality_lr_score,
        )

        _register(spark, sf_dir)
        scored = quality_lr_score(
            spark.table("documents"),
            deterministic_weights(spark, 1 << 16),
            dim=1 << 16,
        )
        return scored.select(
            "doc_id", F.round("quality_prob", 6).alias("quality_prob")
        )

    q["classifier_score"] = q_classifier_score

    def q_minhash_sigs(spark, sf_dir):
        from siteone_crawler_spark.functions.text import token_count
        from siteone_crawler_spark.operators.dedup import minhash_signatures

        _register(spark, sf_dir)
        docs = spark.table("documents").filter(
            (F.col("doc_id") < 100) & (token_count(F.col("text")) >= 3)
        )
        return minhash_signatures(docs, num_hashes=4).withColumn(
            "seed", F.col("seed").cast("long")
        )

    q["minhash_signatures"] = q_minhash_sigs

    def q_minhash_pairs(spark, sf_dir):
        from siteone_crawler_spark.functions.text import token_count
        from siteone_crawler_spark.operators.dedup import minhash_candidate_pairs

        _register(spark, sf_dir)
        docs = spark.table("documents").filter(
            (F.col("doc_id") < 200) & (token_count(F.col("text")) >= 3)
        )
        return minhash_candidate_pairs(docs, num_hashes=4, bands=2)

    q["minhash_lsh_pairs"] = q_minhash_pairs

    def q_dedup_clusters(spark, sf_dir):
        """Pairs -> clusters: transitive closure of the minhash near-dup
        relation via alternating large/small-star (operators/components.py),
        one min-id keeper per cluster, singletons included. The oracle
        closes the same pair set with a recursive CTE — tractable at gate
        scale, which is exactly why the distributed algorithm exists."""
        from siteone_crawler_spark.functions.text import token_count
        from siteone_crawler_spark.operators.components import dedup_clusters
        from siteone_crawler_spark.operators.dedup import minhash_candidate_pairs

        _register(spark, sf_dir)
        docs = spark.table("documents").filter(
            (F.col("doc_id") < 200) & (token_count(F.col("text")) >= 3)
        )
        pairs = minhash_candidate_pairs(docs, num_hashes=4, bands=2)
        return dedup_clusters(docs, pairs)

    q["dedup_clusters"] = q_dedup_clusters

    def q_pagerank(spark, sf_dir):
        """Link-authority prior (operators/graph.py): 3 power steps over a
        deterministic synthetic link graph both engines derive from
        documents (doc d -> (d*d+1)%120 and (13d+3)%120 (the quadratic map is non-bijective, so in-degrees skew), self-loops
        dropped). The oracle unrolls the same iterations as chained CTEs;
        ranks rounded to 6 dp on both sides."""
        from siteone_crawler_spark.operators.graph import pagerank

        _register(spark, sf_dir)
        d = spark.table("documents").filter(F.col("doc_id") < 120).select("doc_id")
        e = (
            d.select(
                F.col("doc_id").alias("src"),
                ((F.col("doc_id") * F.col("doc_id") + 1) % 120).alias("dst"),
            )
            .union(
                d.select(
                    F.col("doc_id").alias("src"),
                    ((F.col("doc_id") * 13 + 3) % 120).alias("dst"),
                )
            )
            .filter(F.col("src") != F.col("dst"))
        )
        pr = pagerank(e, iterations=3)
        return pr.select(
            F.col("node").alias("doc_id"), F.round("rank", 6).alias("rank")
        )

    q["pagerank"] = q_pagerank

    def q_gopher_quality(spark, sf_dir):
        """Gopher §A1.1 quality rules (functions/text.gopher_flags): the
        corpus has no newlines/bullets, so both sides append the same two
        synthetic lines (a bullet item on every 3rd doc, a trailing
        ellipsis on every 4th) to exercise the line-level rules."""
        from siteone_crawler_spark.functions.text import gopher_flags

        _register(spark, sf_dir)
        aug = spark.table("documents").select(
            "doc_id",
            F.concat_ws(
                "\n",
                # even docs double their body: past the 50-word floor ->
                # keep flips per row instead of being constant
                F.when(
                    F.col("doc_id") % 2 == 0,
                    F.concat(F.col("text"), F.lit(" "), F.col("text")),
                ).otherwise(F.col("text")),
                F.when(F.col("doc_id") % 3 == 0, F.lit("- bullet item"))
                .otherwise(F.lit("plain line")),
                F.when(F.col("doc_id") % 4 == 0, F.lit("to be continued..."))
                .otherwise(F.lit("### markdown heading")),
                F.lit("filler line one"),
                F.lit("filler line two"),
            ).alias("text"),
        )
        return aug.select("doc_id", gopher_flags(F.col("text")).alias("g")).select(
            "doc_id", "g.*"
        )

    q["gopher_quality"] = q_gopher_quality

    def q_repeated_windows(spark, sf_dir):
        """Exact repeated-window stats (operators/dedup.repeated_window_
        stats, the fixed-stride exact-substring dedup): both sides append
        the same 9-token sentence to every 3rd doc, so cross-doc repeated
        5-token windows exist by construction."""
        from siteone_crawler_spark.operators.dedup import repeated_window_stats

        _register(spark, sf_dir)
        tail = " the quick brown fox jumps over the lazy dog"
        aug = spark.table("documents").select(
            "doc_id",
            F.when(
                F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(tail))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        return repeated_window_stats(aug, window=5)

    q["repeated_windows"] = q_repeated_windows

    def q_split_assign(spark, sf_dir):
        """Deterministic 80/10/10 train/val/test assignment (operators/
        sampling.split_assign): content-addressed md5 thresholds, disjoint
        and exhaustive by construction — the oracle is the same CASE."""
        from siteone_crawler_spark.operators.sampling import split_assign

        _register(spark, sf_dir)
        return split_assign(
            spark.table("documents").select("doc_id"),
            key="doc_id",
            splits={"train": 0.8, "val": 0.1, "test": 0.1},
            salt="sp1",
        )

    q["split_assign"] = q_split_assign

    def q_quantize_embeddings(spark, sf_dir):
        """SQ8 embedding quantization (operators/similarity.quantize_
        embeddings): codes bit-exact vs the oracle (explicit half-up
        floor), scale/max_err rounded 6 dp."""
        from siteone_crawler_spark.operators.similarity import quantize_embeddings

        _register(spark, sf_dir)
        return quantize_embeddings(spark.table("embeddings"))

    q["quantize_embeddings"] = q_quantize_embeddings

    def q_ngram_jaccard(spark, sf_dir):
        """n-gram Jaccard near-dup pipeline: LSH-banded candidates verified
        by exact 3-shingle-set Jaccard (operators/dedup.near_duplicates_minhash)."""
        from siteone_crawler_spark.functions.text import token_count
        from siteone_crawler_spark.operators.dedup import near_duplicates_minhash

        _register(spark, sf_dir)
        docs = spark.table("documents").filter(
            (F.col("doc_id") < 200) & (token_count(F.col("text")) >= 3)
        )
        return near_duplicates_minhash(docs, threshold=0.5, num_hashes=4, bands=2)

    q["ngram_jaccard_pairs"] = q_ngram_jaccard

    def q_cdc_pairs(spark, sf_dir):
        """Content-defined-chunking near-dups: md5-window boundaries,
        chunk-multiset overlap via inverted-index join
        (operators/dedup.cdc_near_duplicates)."""
        from siteone_crawler_spark.operators.dedup import cdc_near_duplicates

        _register(spark, sf_dir)
        docs = spark.table("documents").filter(F.col("doc_id") < 150)
        return cdc_near_duplicates(docs, threshold=0.3)

    q["cdc_near_dups"] = q_cdc_pairs

    def q_subword_tokens(spark, sf_dir):
        """BPE-ish subword token counts per language
        (functions/text.subword_token_count)."""
        from siteone_crawler_spark.functions.text import subword_token_count

        _register(spark, sf_dir)
        return (
            spark.table("documents")
            .select(F.col("lang"), subword_token_count(F.col("text")).alias("t"))
            .groupBy("lang")
            .agg(
                F.sum("t").cast("long").alias("total_subword_tokens"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
            )
            .orderBy("lang")
        )

    q["subword_token_count"] = q_subword_tokens

    # ---- set ops / grouping sets / semi-joins / ordering sinks ------------
    q["sitemap_order"] = sqlq(
        _URLS_CTE
        + """
        SELECT canon_expected AS url,
               length(canon_expected) - length(replace(canon_expected, '/', '')) AS slashes,
               cast(round(greatest(0.1, least(1.0, 1.0 - 0.1 *
                 (length(canon_expected) - length(replace(canon_expected, '/', '')) - 3))), 2)
                 AS double) AS priority
        FROM raw WHERE variant <> 1
        ORDER BY slashes ASC, url ASC"""
    )

    q["union_distinct"] = sqlq(
        """
        SELECT doc_id FROM documents WHERE doc_id % 3 = 0
        UNION
        SELECT doc_id FROM documents WHERE doc_id % 5 = 0"""
    )

    q["semi_join_exists"] = sqlq(
        """
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)"""
    )

    q["cube_stats"] = sqlq(
        """
        SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
               count(*) AS n, sum(n_chars) AS total_chars
        FROM documents
        GROUP BY CUBE (lang, source)"""
    )

    q["existence_flags"] = sqlq(
        """
        SELECT max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase,
               max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS has_error,
               max(CASE WHEN value > 1000000 THEN 1 ELSE 0 END) AS has_huge_value
        FROM events"""
    )

    q["join_agg_enrich"] = sqlq(
        """
        SELECT n.n_name AS nation, count(*) AS n_customers,
          cast(sum(cast(c.c_acctbal AS decimal(18,4))) AS double) AS total_balance
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name"""
    )

    def q_span_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
        """North-rule per-row invariant: span-sequence (kind,text,media_ref,
        order) fingerprint over the derived interleaved docs table, computed
        by the real spans operator (sort-in-array + md5 join)."""
        from siteone_crawler_spark.operators.spans import span_signature
        from siteone_crawler_spark.sources.docs import derive_spans_from_documents

        _register(spark, sf_dir)
        docs = derive_spans_from_documents(spark.table("documents"), fanout=3, n_hosts=7)
        return span_signature(docs)

    q["span_signature"] = q_span_signature

    def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Brute-force cosine top-k (native zip_with/aggregate dot product)."""
        from siteone_crawler_spark.operators.similarity import cosine_topk

        _register(spark, sf_dir)
        emb = spark.table("embeddings")
        qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        return cosine_topk(emb, qv, k=10)

    q["knn_cosine_topk"] = q_knn

    def q_knn_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
        """SRP/LSH-bucketed approximate nearest neighbors (scale path).
        Full DuckDB twin in oracle_sql() replicates the signed-random-
        projection buckets and multiprobe."""
        from siteone_crawler_spark.operators.similarity import srp_topk

        _register(spark, sf_dir)
        emb = spark.table("embeddings")
        qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        return srp_topk(emb, qv, k=10, n_planes=6, multiprobe_hamming=1)

    q["knn_srp_topk"] = q_knn_srp

    def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
        """IVF ANN: probe the 2 nearest of 8 inverted lists (deterministic
        pivot centroids = vectors of the 8 smallest ids), exact cosine
        within. operators/similarity.ivf_topk."""
        from siteone_crawler_spark.operators.similarity import ivf_topk

        _register(spark, sf_dir)
        emb = spark.table("embeddings")
        qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        return ivf_topk(emb, qv, k=10, n_centroids=8, nprobe=2)

    q["knn_ivf_topk"] = q_knn_ivf

    def q_emb_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Embedding-cosine near-dup pairs via SRP blocking
        (operators/similarity.embedding_near_dup_pairs)."""
        from siteone_crawler_spark.operators.similarity import embedding_near_dup_pairs

        _register(spark, sf_dir)
        emb = spark.table("embeddings")
        return embedding_near_dup_pairs(emb, threshold=0.4, n_planes=6)

    q["embedding_near_dups"] = q_emb_near_dups

    def q_security_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Security-header SuperTable (operators/security.security_stats —
        security_analyzer.rs severity ladder) over visited rows whose
        security headers are synthesized deterministically from seq
        residues; the oracle reclassifies every residue class from first
        principles."""
        from siteone_crawler_spark.operators.security import security_stats

        v = _dv(spark, sf_dir)
        did = F.col("seq")

        def m(k, expr):
            return F.create_map(F.lit(k), expr)

        sec = F.map_filter(
            F.map_concat(
                m(
                    "strict-transport-security",
                    F.when(did % 4 == 0, F.lit("max-age=63072000"))
                    .when(did % 4 == 1, F.lit("max-age=0"))
                    .when(did % 4 == 2, F.lit("max-age=600")),
                ),
                m(
                    "x-frame-options",
                    F.when(did % 5 == 0, F.lit("DENY"))
                    .when(did % 5 == 1, F.lit("SAMEORIGIN"))
                    .when(did % 5 == 2, F.lit("ALLOW-FROM"))
                    .when(did % 5 == 3, F.lit("allowall")),
                ),
                m(
                    "content-security-policy",
                    F.when(did % 3 == 0, F.lit("default-src 'self'"))
                    .when(did % 3 == 1, F.lit("script-src 'self' 'unsafe-inline'")),
                ),
                m(
                    "server",
                    F.when(did % 4 == 0, F.lit("nginx/1.25"))
                    .when(did % 4 == 1, F.lit("nginx"))
                    .when(did % 4 == 2, F.lit("custom")),
                ),
                m(
                    "x-powered-by",
                    F.when(did % 6 == 0, F.lit("PHP/8.2"))
                    .when(did % 6 == 1, F.lit("Express")),
                ),
                m(
                    "access-control-allow-origin",
                    F.when(did % 5 == 0, F.lit("*"))
                    .when(did % 5 == 1, F.lit("https://a.test"))
                    .when(did % 5 == 2, F.lit("same-origin")),
                ),
                m("x-content-type-options", F.when(did % 2 == 0, F.lit("nosniff"))),
                m(
                    "set-cookie",
                    F.when(did % 3 == 0, F.lit("sid=1; Secure; HttpOnly; SameSite=Lax"))
                    .when(did % 3 == 1, F.lit("sid=2; HttpOnly")),
                ),
            ),
            lambda _, vv: vv.isNotNull(),
        )
        v = v.withColumn(
            "headers",
            F.when(F.col("headers").isNotNull(), F.map_concat(F.col("headers"), sec)),
        )
        # '|'-joined so the driver's pandas canonicalizer can sort the column
        # (arrays are unhashable in its sort_values path)
        return security_stats(v).withColumn(
            "values_sample", F.array_join("values_sample", "|")
        )

    q["security_stats"] = q_security_stats

    def _seo_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Deterministic SEO-tagged HTML per documents row; the oracle
        reconstructs the planted fields arithmetically."""
        _register(spark, sf_dir)
        did = F.col("doc_id").cast("long")
        s = did.cast("string")
        url = F.concat(
            F.lit("https://h"), F.lpad((did % 7).cast("string"), 2, "0"),
            F.lit(".corpus.test/p/"), s,
        )
        body = F.concat(
            F.lit("<html><head><title>Doc "), (did * 31 % 113).cast("string"),
            F.lit("</title>"),
            F.when(
                did % 4 == 0,
                F.concat(F.lit('<meta name="description" content="Desc '), s, F.lit('">')),
            ).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.lit('<meta name="robots" content="noindex">')).otherwise(
                F.lit("")
            ),
            F.when(
                did % 3 == 0,
                F.concat(F.lit('<link rel="canonical" href="https://c.test/'), s, F.lit('">')),
            ).otherwise(F.lit("")),
            F.when(
                did % 2 == 0,
                F.concat(F.lit('<meta property="og:title" content="OG '), s, F.lit('">')),
            ).otherwise(F.lit("")),
            F.lit("</head><body><h1>H "), s, F.lit("</h1>"),
            F.when(did % 6 == 0, F.lit("<h1>extra</h1>")).otherwise(F.lit("")),
            F.lit("<h2>S</h2></body></html>"),
        )
        return spark.table("documents").select(url.alias("url"), body.alias("body"))

    def q_seo_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
        """SEO SuperTable (operators/seo.seo_stats — title/description/
        robots/canonical extraction, seo_opengraph_analyzer.rs:650-711)."""
        from siteone_crawler_spark.operators.seo import seo_stats

        return seo_stats(_seo_fixture(spark, sf_dir))

    q["seo_meta"] = q_seo_meta

    def q_heading_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Heading-tree SuperTable (operators/seo.heading_stats —
        build_heading_tree + h1-count errors, rs:780-888)."""
        from siteone_crawler_spark.operators.seo import heading_stats

        # '|'-joined for driver-canonicalizer sortability (see security_stats)
        return heading_stats(_seo_fixture(spark, sf_dir)).withColumn(
            "heading_texts", F.array_join("heading_texts", "|")
        )

    q["seo_headings"] = q_heading_stats

    def q_accessibility(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Accessibility summary (operators/accessibility — img alt, form
        labels, accessible names, main landmark, lang attr, duplicate ids;
        accessibility_analyzer.rs:64-424) over residue-planted HTML."""
        from siteone_crawler_spark.operators.accessibility import (
            accessibility_summary,
        )

        _register(spark, sf_dir)
        did = F.col("doc_id").cast("long")
        body = F.concat(
            F.lit("<html"),
            F.when(did % 3 == 0, F.lit(' lang="en"')).otherwise(F.lit("")),
            F.lit("><body>"),
            F.when(did % 2 == 0, F.lit("<main>")).otherwise(F.lit("")),
            F.lit('<img src="a.png"'),
            F.when(did % 4 == 0, F.lit("")).otherwise(F.lit(' alt="x"')),
            F.lit('><a href="/t">text</a>'),
            F.when(did % 5 == 0, F.lit('<a href="/i"><svg></svg></a>')).otherwise(
                F.lit("")
            ),
            F.when(did % 6 == 0, F.lit('<input id="q" type="text">')).otherwise(
                F.lit("")
            ),
            F.when(
                did % 7 == 0, F.lit('<div id="d"></div><div id="d"></div>')
            ).otherwise(F.lit("")),
            F.when(did % 2 == 0, F.lit("</main>")).otherwise(F.lit("")),
            F.lit("</body></html>"),
        )
        docs = spark.table("documents").select(
            F.concat(F.lit("https://a.corpus.test/p/"), did.cast("string")).alias(
                "url"
            ),
            body.alias("body"),
        )
        return accessibility_summary(docs)

    q["accessibility_summary"] = q_accessibility

    def _host_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Deterministic host-probe rows (operators/network.synth_probes
        with an oracle-reproducible seed): 97 distinct hosts derived from
        documents."""
        from siteone_crawler_spark.operators.network import synth_probes

        _register(spark, sf_dir)
        idx = F.col("doc_id").cast("long") % 97
        targets = (
            spark.table("documents")
            .select(
                F.concat(F.lit("h"), idx.cast("string"), F.lit(".corpus.test")).alias(
                    "host"
                ),
                F.lit(443).cast("int").alias("port"),
                idx.alias("__seed"),
            )
            .distinct()
        )
        return synth_probes(targets, 1_800_000_000)

    def q_tls_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TLS finding summary (operators/network.tls_summary — the
        ssl_tls/mod.rs severity codes) over synthesized host probes."""
        from siteone_crawler_spark.operators.network import tls_summary

        return tls_summary(_host_probes(spark, sf_dir), 1_800_000_000)

    q["tls_summary"] = q_tls_summary

    def q_dns_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        """DNS SuperTable (operators/network.dns_stats — resolved-domain
        chain + record counts, dns_analyzer.rs:34-120)."""
        from siteone_crawler_spark.operators.network import dns_stats

        # '|'-joined for driver-canonicalizer sortability (see security_stats)
        return dns_stats(_host_probes(spark, sf_dir)).withColumn(
            "resolved_chain", F.array_join("resolved_chain", "|")
        )

    q["dns_stats"] = q_dns_stats

    def q_best_practices(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Best-practice summary (operators/best_practices — inline SVGs,
        unquoted attrs, DOM depth, phone clickability;
        best_practice_analyzer.rs:173-614) over residue-planted HTML."""
        from siteone_crawler_spark.operators.best_practices import (
            best_practice_summary,
        )

        _register(spark, sf_dir)
        did = F.col("doc_id").cast("long")
        body = F.concat(
            F.lit("<html><body>"),
            F.when(did % 4 == 0, F.lit("<a href=/unq>x</a>")).otherwise(
                F.lit('<a href="/q">x</a>')
            ),
            F.when(
                did % 5 == 0,
                F.concat(F.lit("<svg>"), F.repeat(F.lit("s"), 6000), F.lit("</svg>")),
            ).otherwise(F.lit("<svg><rect></rect></svg>")),
            F.when(did % 3 == 0, F.repeat(F.lit("<div>"), 35)).otherwise(
                F.lit("<div>")
            ),
            F.lit("x"),
            F.when(did % 3 == 0, F.repeat(F.lit("</div>"), 35)).otherwise(
                F.lit("</div>")
            ),
            F.when(did % 7 == 0, F.lit("<p>+420 123 456 789</p>")).otherwise(
                F.lit("")
            ),
            F.lit("</body></html>"),
        )
        docs = spark.table("documents").select(
            F.concat(F.lit("https://b.corpus.test/p/"), did.cast("string")).alias(
                "url"
            ),
            body.alias("body"),
        )
        return best_practice_summary(docs)

    q["best_practices_summary"] = q_best_practices

    # ---- operator-routed analyzer queries (certify operators/*.py, not SQL) --
    def _dv(spark: SparkSession, sf_dir: str) -> DataFrame:
        from siteone_crawler_spark.sources.docs import derive_visited_from_documents

        _register(spark, sf_dir)
        return derive_visited_from_documents(spark.table("documents"))

    def q_visited_ct(spark, sf_dir):
        from siteone_crawler_spark.operators.analyzers import content_type_stats

        return content_type_stats(_dv(spark, sf_dir))

    q["visited_content_type_stats"] = q_visited_ct

    def q_visited_basic(spark, sf_dir):
        from siteone_crawler_spark.operators.analyzers import basic_stats

        return basic_stats(_dv(spark, sf_dir))

    q["visited_basic_stats"] = q_visited_basic

    def q_visited_mime(spark, sf_dir):
        from siteone_crawler_spark.operators.analyzers import mime_type_stats

        return mime_type_stats(_dv(spark, sf_dir))

    q["visited_mime_stats"] = q_visited_mime

    def q_visited_sd(spark, sf_dir):
        from siteone_crawler_spark.operators.analyzers import source_domain_stats

        return source_domain_stats(_dv(spark, sf_dir))

    q["visited_source_domain_stats"] = q_visited_sd

    def q_caching_domain(spark, sf_dir):
        from siteone_crawler_spark.operators.analyzers import caching_stats

        return caching_stats(_dv(spark, sf_dir), by="domain")

    q["caching_stats_domain"] = q_caching_domain

    def q_caching_ct(spark, sf_dir):
        from siteone_crawler_spark.operators.analyzers import caching_stats

        return caching_stats(_dv(spark, sf_dir), by="content_type")

    q["caching_stats_content_type"] = q_caching_ct

    def q_caching_dct(spark, sf_dir):
        from siteone_crawler_spark.operators.analyzers import caching_stats

        return caching_stats(_dv(spark, sf_dir), by="domain_content_type")

    q["caching_stats_domain_ct"] = q_caching_dct

    def q_header_stats(spark, sf_dir):
        from siteone_crawler_spark.operators.analyzers import header_stats

        return header_stats(_dv(spark, sf_dir))

    q["header_stats_map"] = q_header_stats

    def q_format_support(spark, sf_dir):
        from siteone_crawler_spark.operators.analyzers import format_support

        return format_support(_dv(spark, sf_dir))

    q["format_support"] = q_format_support

    def q_visited_slowest(spark, sf_dir):
        from siteone_crawler_spark.operators.analyzers import top_slowest

        return top_slowest(_dv(spark, sf_dir))

    q["visited_top_slowest"] = q_visited_slowest

    # ---- extraction operators (F4-F8) over rendered fixture HTML ----------
    def q_extract_links(spark, sf_dir):
        """F4: plant a deterministic HTML page per doc, extract with the real
        ContentProcessor UDF, explode to (doc_id, offset, kind, href). The
        oracle reconstructs the planted links arithmetically — if any regex
        or the dispatch order drifts, the hash breaks."""
        from siteone_crawler_spark.sources.docs import spans_from_html

        _register(spark, sf_dir)
        html = spark.sql(_FIXTURE_HTML_SQL)
        docs = spans_from_html(html)
        return docs.select(
            "doc_id", F.explode("spans").alias("s")
        ).select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("s.offset").alias("offset"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("href"),
        )

    q["extract_links"] = q_extract_links

    def q_extract_meta(spark, sf_dir):
        """F8: title/description/dom-count extraction from the same fixture
        HTML via the meta pandas UDF."""
        from siteone_crawler_spark.sources.docs import html_docs_with_meta

        _register(spark, sf_dir)
        html = spark.sql(_FIXTURE_HTML_SQL)
        return html_docs_with_meta(html).select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "title",
            "description",
            "dom_count",
        )

    q["extract_meta"] = q_extract_meta

    def q_dup_titles_meta(spark, sf_dir):
        """A11/J4: group EXTRACTED titles (not a text proxy) and keep the
        non-unique ones — blocked on F8 until this round."""
        from siteone_crawler_spark.sources.docs import html_docs_with_meta

        _register(spark, sf_dir)
        html = spark.sql(_FIXTURE_HTML_SQL)
        meta = html_docs_with_meta(html)
        return (
            meta.groupBy("title")
            .agg(
                F.count("*").alias("n"),
                F.min(F.col("doc_id").cast("bigint")).alias("first_doc"),
            )
            .filter(F.col("n") > 1)
        )

    q["duplicate_titles_meta"] = q_dup_titles_meta

    def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """SimHash near-dup pairs (Hamming-LSH blocked). Full DuckDB twin in
        oracle_sql() re-derives the md5-low-64 bit voting in SQL."""
        from siteone_crawler_spark.operators.dedup import simhash_near_pairs

        _register(spark, sf_dir)
        return simhash_near_pairs(spark.table("documents"), max_hamming=12)

    q["simhash_near_pairs"] = q_simhash_pairs

    def q_extra_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
        """F15 extra-columns over planted HTML: xpath text/attr extraction
        (DOM selector engine, functions/extra_columns.extract_xpath —
        extra_column.rs:180-234) + native regexp extraction. The oracle
        reconstructs every planted value arithmetically."""
        from siteone_crawler_spark.functions.extra_columns import with_extra_columns

        _register(spark, sf_dir)
        did = F.col("doc_id").cast("long")
        s = did.cast("string")
        body = F.concat(
            F.lit("<html><body><h1>H "), (did * 7 % 53).cast("string"),
            F.lit('</h1><a href="/l/'), s, F.lit('">x</a>'),
            F.lit('<meta name="author" content="A'), (did % 7).cast("string"),
            F.lit('">'),
            F.lit("<p>num "), (did % 100).cast("string"), F.lit("</p>"),
            F.lit("</body></html>"),
        )
        docs = spark.table("documents").select(
            did.alias("doc_id"), body.alias("body")
        )
        out = with_extra_columns(
            docs,
            [
                "Heading=xpath://h1/text()",
                "Link=xpath://a/@href",
                "Author=xpath://meta[@name='author']/@content",
                r"Num=regexp:num (\d+)#1",
            ],
            text_col="body",
        )
        return out.select("doc_id", "Heading", "Link", "Author", "Num")

    q["extra_columns_xpath"] = q_extra_columns

    def q_dns_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
        """--resolve forced-IP overrides through the DNS SuperTable
        (network.apply_resolve_overrides; crawler.rs:179-191, 536-538):
        overridden hosts lose CNAMEs and carry exactly the forced address."""
        from siteone_crawler_spark.config import CrawlConfig
        from siteone_crawler_spark.operators.network import (
            apply_resolve_overrides,
            dns_stats,
        )

        cfg = CrawlConfig(
            resolve=(
                "h3.corpus.test:443:203.0.113.3",
                "h7.corpus.test:443:2001:db8::7",
            )
        )
        probes = apply_resolve_overrides(
            _host_probes(spark, sf_dir), cfg.resolve_overrides()
        )
        return dns_stats(probes).withColumn(
            "resolved_chain", F.array_join("resolved_chain", "|")
        )

    q["dns_stats_resolve"] = q_dns_resolve

    head = {k: v for k, v in q.items() if k not in _NOT_DRIVER_CHECKED}
    head.update({k: q[k] for k in _NOT_DRIVER_CHECKED if k in q})
    return head


# Generic Spark-vs-DuckDB dialect twins (they certify SQL dialects, not repo
# operators) and superseded proxies (duplicate_titles ->
# duplicate_titles_meta, headers_stats -> header_stats_map). NOT part of the
# driver contract — every driver-checked queries() entry certifies a repo
# operator, so defined == checked — but still runnable: extra_queries() /
# extra_oracle_sql() keep them under the local pytest oracle gate
# (tests/test_entry_oracle.py) and the bench.
_DIALECT_TWINS = (
    "duplicate_titles",
    "headers_stats",
    "tpch_q1",
    "window_rank",
    "sessionize",
    "windowed_counts",
    "union_distinct",
    "semi_join_exists",
    "cube_stats",
    "existence_flags",
    "join_agg_enrich",
)

# Redundant presentation variants demoted to make room in the 50-row driver
# gate for the first-class training operators (hash_sample,
# stratified_sample, repetition_ratio, pii_scan, pii_redact,
# decontamination): each demoted row is a projection or source-table twin
# of a still-gated row (count_by_status ⊂ basic_stats; visited_top_slowest
# = top_slowest over the visited subset; caching_stats_domain_ct = the two
# gated caching_stats_* variants crossed; visited_content_type_stats /
# visited_source_domain_stats / visited_basic_stats = content_type_stats /
# source_domain_stats / basic_stats over the visited subset). Still
# value-certified every run by the local pytest oracle gate
# (tests/test_entry_oracle.py).
_PYTEST_ONLY = (
    "count_by_status",
    "visited_top_slowest",
    "caching_stats_domain_ct",
    "visited_content_type_stats",
    "visited_source_domain_stats",
    "visited_basic_stats",
    # two more variant rows displaced (r5) so the strongest new operators —
    # near-dup cluster closure and PageRank — are certified by the hard
    # driver gate instead: each displaced row is a per-dimension twin of a
    # still-gated aggregation (caching_stats_domain / dns_stats)
    "caching_stats_content_type",
    "dns_stats_resolve",
    # post-width training ops (gate already holds 8 first-class training
    # rows incl. dedup_clusters/pagerank); full DuckDB oracles run in the
    # pytest gate
    "line_boilerplate",
    "temperature_sample",
    "pack_sequences",
    "classifier_score",
    "gopher_quality",
    "repeated_windows",
    "split_assign",
    "quantize_embeddings",
    "chunk_documents",
    "semdedup",
    "dsir_weights",
    "bpe_pair_stats",
    "lm_xent",
    "tfidf_topk",
    "corpus_datacard",
    "asof_purchase_click",
    "range_join_error_window",
    "mean_pool",
    "gumbel_topk",
)

_NOT_DRIVER_CHECKED = _DIALECT_TWINS + _PYTEST_ONLY


def queries() -> dict:
    all_q = _all_queries()
    return {k: v for k, v in all_q.items() if k not in _NOT_DRIVER_CHECKED}


def extra_queries() -> dict:
    all_q = _all_queries()
    return {k: all_q[k] for k in _NOT_DRIVER_CHECKED if k in all_q}


# -------------------------------------------------------------- oracle SQL
def _all_oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    o["url_canonicalize"] = (
        _URLS_CTE
        + """
        SELECT doc_id, canon_expected AS canon_url,
               substr(md5(canon_expected), 1, 8) AS uq_id,
               host,
               CASE variant WHEN 1 THEN 3 ELSE 2 END AS depth
        FROM raw"""
    )

    o["url_dedup_first_wins"] = (
        _URLS_CTE
        + """
        SELECT canon_expected AS canon_url, min(doc_id) AS keeper, count(*) AS n_refs
        FROM raw GROUP BY canon_expected"""
    )

    o["seen_antijoin"] = (
        _URLS_CTE
        + """
        SELECT DISTINCT canon_expected AS canon_url FROM raw r1
        WHERE variant = 2 AND NOT EXISTS (
          SELECT 1 FROM raw r2
          WHERE r2.doc_id % 2 = 0 AND r2.canon_expected = r1.canon_expected)"""
    )

    o["frontier_rank"] = (
        _URLS_CTE
        + """
        SELECT row_number() OVER (ORDER BY variant, doc_id) - 1 AS seq,
               canon_expected AS canon_url
        FROM raw"""
    )

    o["robots_gate"] = """
        SELECT cast(doc_id AS bigint) AS doc_id,
          CASE cast(doc_id % 5 AS int)
            WHEN 0 THEN '/private/x' || cast(doc_id AS string)
            WHEN 1 THEN '/private/open/x' || cast(doc_id AS string)
            ELSE '/p/' || cast(doc_id AS string)
          END AS path,
          (doc_id % 5) <> 0 AS allowed
        FROM documents"""

    o["tpch_q1"] = """
        SELECT l_returnflag, l_linestatus,
          cast(sum(cast(l_quantity AS decimal(18,6))) AS double) AS sum_qty,
          cast(sum(cast(l_extendedprice AS decimal(18,6))) AS double) AS sum_base,
          cast(sum(cast(l_extendedprice * (1 - l_discount) AS decimal(18,6))) AS double) AS sum_disc,
          round(cast(sum(cast(l_quantity AS decimal(18,6))) AS double) / count(*), 6) AS avg_qty,
          count(*) AS n
        FROM lineitem
        WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus"""

    o["basic_stats"] = """
        SELECT count(*) AS total_events,
          cast(sum(cast(value AS decimal(20,8))) AS double) AS total_value,
          round(cast(sum(cast(value AS decimal(20,8))) AS double) / count(*), 6) AS avg_value,
          cast(min(value) AS double) AS min_value,
          cast(max(value) AS double) AS max_value,
          count(DISTINCT user_id) AS n_users
        FROM events"""

    o["count_by_status"] = (
        "SELECT o_orderstatus AS status, count(*) AS n FROM orders GROUP BY o_orderstatus"
    )

    o["content_type_stats"] = """
        SELECT lang, count(*) AS n, cast(sum(n_chars) AS bigint) AS total_chars,
          round(cast(sum(cast(n_chars AS decimal(18,4))) AS double) / count(*), 6) AS avg_chars
        FROM documents GROUP BY lang"""

    o["source_domain_stats"] = """
        SELECT source, lang, count(*) AS n, cast(sum(n_chars) AS bigint) AS total_chars
        FROM documents GROUP BY source, lang"""

    o["top_slowest"] = """
        SELECT event_id, cast(value AS double) AS value FROM events
        ORDER BY value DESC, event_id ASC LIMIT 20"""

    o["top_fastest"] = """
        SELECT event_id, cast(value AS double) AS value FROM events
        ORDER BY value ASC, event_id ASC LIMIT 20"""

    o["duplicate_titles"] = """
        SELECT substr(text, 1, 25) AS title, count(*) AS n, min(doc_id) AS first_doc
        FROM documents GROUP BY substr(text, 1, 25) HAVING count(*) > 1"""

    o["headers_stats"] = """
        SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
          min(cast(json_extract_string(props, '$.k') AS int)) AS min_k,
          max(cast(json_extract_string(props, '$.k') AS int)) AS max_k
        FROM events GROUP BY event_type"""

    o["window_rank"] = """
        SELECT user_id, event_id, rn FROM (
          SELECT user_id, event_id,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events) t
        WHERE rn <= 3"""

    o["sessionize"] = """
        WITH g AS (
          SELECT user_id, ts,
            CASE WHEN epoch(ts) - epoch(
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
            THEN 1 ELSE 0 END AS new_session
          FROM events)
        SELECT user_id, cast(sum(new_session) AS bigint) AS n_sessions, count(*) AS n_events
        FROM g GROUP BY user_id"""

    o["windowed_counts"] = """
        SELECT cast(date_trunc('hour', ts) AS string) AS hour_bucket,
               event_type, count(*) AS n
        FROM events GROUP BY date_trunc('hour', ts), event_type"""

    o["dedup_exact"] = f"""
        SELECT {_fp_sql('duck')} AS fp, count(*) AS n_docs, min(doc_id) AS keeper
        FROM documents GROUP BY {_fp_sql('duck')}"""

    o["token_count"] = f"""
        SELECT lang, cast(sum(len({_TOKS_DUCK})) AS bigint) AS total_tokens,
          count(*) AS n_docs
        FROM documents GROUP BY lang"""

    o["quality_score"] = f"""
        SELECT source,
          round(cast(sum(cast({_quality_sql('duck')} AS decimal(18,8))) AS double) / count(*), 6) AS avg_quality,
          count(*) AS n
        FROM documents GROUP BY source"""

    o["lang_id"] = f"""
        SELECT doc_id, {_lang_sql('duck')} AS lang_guess, lang AS lang_actual
        FROM documents"""

    o["doc_fingerprint"] = f"SELECT doc_id, {_fp_sql('duck')} AS fp FROM documents"

    # rate=0.2, salt='s1': threshold hex = format(int(0.2 * 65536), '04x')
    # = '3333'; lowercase-hex string order == numeric order, so the literal
    # same predicate runs on both engines (operators/sampling.py)
    o["hash_sample"] = """
        SELECT doc_id, lang FROM documents
        WHERE substr(md5(cast(doc_id AS varchar) || 's1'), 1, 4) < '3333'"""

    o["stratified_sample"] = """
        SELECT lang, doc_id, rn FROM (
          SELECT lang, doc_id,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(cast(doc_id AS varchar)),
                            cast(doc_id AS varchar)) AS rn
          FROM documents)
        WHERE rn <= 25"""

    _sh3 = _shingles_sql("duck", 3)
    o["repetition_ratio"] = f"""
        SELECT doc_id,
          CASE WHEN len({_sh3}) > 0
            THEN cast(len({_sh3}) - len(list_distinct({_sh3})) AS double)
                   / len({_sh3})
            ELSE 0.0 END AS dup3_frac
        FROM documents"""

    # chunk_tokens=32, stride=24 (operators/chunking.py): DuckDB list
    # slicing is 1-based inclusive and clamps, so toks[st+1 : st+32] is
    # exactly the slice(toks, st+1, 32) window
    o["chunk_documents"] = f"""
        WITH t AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
        s AS (SELECT doc_id, toks,
                unnest(generate_series(0, len(toks) - 1, 24)) AS st
              FROM t WHERE len(toks) > 0)
        SELECT doc_id, CAST(st // 24 AS int) AS chunk_idx,
          array_to_string(toks[st + 1 : st + 32], ' ') AS chunk_text,
          CAST(least(32, len(toks) - st) AS int) AS n_tokens
        FROM s"""

    # SemDeDup (operators/similarity.semdedup, threshold=0.5, 8 pivot
    # centroids): same cents/assign/best CTEs as knn_ivf_topk (ties ->
    # larger centroid id = ivf_assign's array_max rule; the 8 smallest
    # vec_ids are 0..7 so centroid vec_id == bucket index), then the keep
    # rule keep(d) iff no e<d in d's cluster with round(cos,6) >= 0.5
    o["semdedup"] = """
        WITH cents AS (
          SELECT vec_id AS cid, cast(embedding AS double[]) AS cv
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
        ),
        assign AS (
          SELECT e.vec_id, c.cid,
            round(list_cosine_similarity(cast(e.embedding AS double[]), c.cv), 9) AS ccos
          FROM embeddings e CROSS JOIN cents c
        ),
        best AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
              row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid DESC) AS rn
            FROM assign) t WHERE rn = 1
        ),
        dups AS (
          SELECT DISTINCT b2.vec_id AS dup
          FROM best b1 JOIN best b2 ON b1.cid = b2.cid AND b1.vec_id < b2.vec_id
          JOIN embeddings e1 ON e1.vec_id = b1.vec_id
          JOIN embeddings e2 ON e2.vec_id = b2.vec_id
          WHERE round(list_cosine_similarity(cast(e1.embedding AS double[]),
                                             cast(e2.embedding AS double[])), 6) >= 0.5
        )
        SELECT b.vec_id, CAST(b.cid AS int) AS cluster, (d.dup IS NULL) AS keep
        FROM best b LEFT JOIN dups d ON b.vec_id = d.dup"""

    # DSIR importance weights (operators/dsir.py, n_buckets=256, alpha=1,
    # unigrams+bigrams, target = lang='en'): md5-low-32 bucket hashing is
    # the same engine-portable idiom as simhash's md5-low-64
    o["dsir_weights"] = f"""
        WITH toks AS (SELECT doc_id, lang, {_TOKS_DUCK} AS tk FROM documents),
        uni AS (SELECT doc_id, lang, unnest(tk) AS g FROM toks),
        bigi AS (SELECT doc_id, lang, tk,
                   unnest(generate_series(1, len(tk) - 1)) AS i
                 FROM toks WHERE len(tk) >= 2),
        big AS (SELECT doc_id, lang, tk[i] || ' ' || tk[i + 1] AS g FROM bigi),
        grams AS (SELECT doc_id, lang, g FROM uni
                  UNION ALL SELECT doc_id, lang, g FROM big),
        gb AS (SELECT doc_id, lang,
                 ('0x' || substring(md5(g), 1, 8))::UBIGINT % 256 AS b
               FROM grams),
        rc AS (SELECT b, count(*) AS cr FROM gb GROUP BY b),
        tc AS (SELECT b, count(*) AS ct FROM gb WHERE lang = 'en' GROUP BY b),
        nr AS (SELECT count(*) AS n FROM gb),
        nt AS (SELECT count(*) AS n FROM gb WHERE lang = 'en'),
        ratio AS (
          SELECT rc.b,
            ln((coalesce(tc.ct, 0) + 1.0) / (nt.n + 256.0))
              - ln((rc.cr + 1.0) / (nr.n + 256.0)) AS lr
          FROM rc LEFT JOIN tc USING (b), nt, nr
        ),
        w AS (SELECT gb.doc_id, sum(r.lr) AS w
              FROM gb JOIN ratio r USING (b) GROUP BY gb.doc_id)
        SELECT d.doc_id, round(coalesce(w.w, 0.0), 6) AS dsir_weight
        FROM documents d LEFT JOIN w USING (doc_id)"""

    # BPE merge-pair stats (operators/bpe.py, min_count=2): adjacent char
    # pairs of each vocabulary word (overlapping occurrences kept) weighted
    # by corpus word frequency — iteration-1 candidates of Sennrich 2016
    o["bpe_pair_stats"] = f"""
        WITH t AS (SELECT unnest({_TOKS_DUCK}) AS w FROM documents),
        wc AS (SELECT w, count(*) AS wc FROM t GROUP BY w),
        p AS (SELECT substring(w, i, 1) AS lhs, substring(w, i + 1, 1) AS rhs,
                wc
              FROM wc, unnest(generate_series(1, length(w) - 1)) AS u(i)
              WHERE length(w) >= 2)
        SELECT lhs, rhs, CAST(sum(wc) AS bigint) AS pair_count
        FROM p GROUP BY lhs, rhs HAVING sum(wc) >= 2"""

    # CCNet-style unigram LM cross-entropy (operators/lm.py, alpha=1,
    # ref = lang='en'): p(tok) = (c+1)/(N + V + 1), UNK shares the +1 slot;
    # xent = -avg(logp), rounded 6 (accumulation order differs per engine)
    o["lm_xent"] = f"""
        WITH dt AS (SELECT doc_id, lang, unnest({_TOKS_DUCK}) AS tok
                    FROM documents),
        c AS (SELECT tok, count(*) AS c FROM dt WHERE lang = 'en'
              GROUP BY tok),
        tot AS (SELECT sum(c) AS n, count(*) AS v FROM c),
        lp AS (SELECT tok, ln((c + 1.0) / (tot.n + tot.v + 1.0)) AS logp
               FROM c, tot),
        unk AS (SELECT ln(1.0 / (n + v + 1.0)) AS u FROM tot),
        j AS (SELECT dt.doc_id, coalesce(lp.logp, unk.u) AS l
              FROM dt LEFT JOIN lp USING (tok), unk),
        a AS (SELECT doc_id, count(*) AS nt, round(-avg(l), 6) AS xent
              FROM j GROUP BY doc_id)
        SELECT d.doc_id, CAST(coalesce(a.nt, 0) AS int) AS n_tokens,
          coalesce(a.xent, 0.0) AS xent
        FROM documents d LEFT JOIN a USING (doc_id)"""

    # tf-idf top-5 terms per doc (operators/tfidf.py): smoothed idf
    # ln((N+1)/(df+1))+1; rank on the ROUNDED score (term asc tiebreak) so
    # the order survives libm ulp differences between engines
    o["tfidf_topk"] = f"""
        WITH dt AS (SELECT doc_id, unnest({_TOKS_DUCK}) AS term
                    FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM dt
               GROUP BY doc_id, term),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n FROM documents),
        s AS (SELECT tf.doc_id, tf.term,
                round(tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0), 6)
                  AS score
              FROM tf JOIN df USING (term), n),
        r AS (SELECT doc_id, term, score,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rn
              FROM s)
        SELECT doc_id, term, score, CAST(rn AS int) AS rank
        FROM r WHERE rn <= 5"""

    # per-source corpus data card (operators/datacard.py): global md5
    # fingerprint dup flag, per-source fold, language mode with
    # (count desc, lang asc) tie-break
    o["corpus_datacard"] = f"""
        WITH base AS (SELECT source, lang, len({_TOKS_DUCK}) AS nt,
                        md5(text) AS fp
                      FROM documents),
        dup AS (SELECT fp FROM base GROUP BY fp HAVING count(*) > 1),
        st AS (SELECT b.source, CAST(count(*) AS int) AS n_docs,
                 CAST(sum(b.nt) AS bigint) AS total_tokens,
                 CAST(sum(CASE WHEN d.fp IS NULL THEN 0 ELSE 1 END) AS int)
                   AS n_dup_docs
               FROM base b LEFT JOIN dup d USING (fp) GROUP BY b.source),
        lc AS (SELECT source, lang, count(*) AS c FROM base
               GROUP BY source, lang),
        tl AS (SELECT source, lang AS top_lang FROM (
                 SELECT source, lang,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY c DESC, lang) AS rn
                 FROM lc) t WHERE rn = 1)
        SELECT st.source, st.n_docs, st.total_tokens, st.n_dup_docs,
          tl.top_lang
        FROM st JOIN tl USING (source)"""

    # as-of join (operators/asof.py): purchases matched to the most recent
    # prior-or-equal click per user; the SAME union-window rewrite the
    # engine runs (not DuckDB's ASOF JOIN — its equal-ts tie rule among
    # right rows is unspecified, ours is max event_id)
    o["asof_purchase_click"] = """
        WITH l AS (SELECT event_id, ts, user_id, value FROM events
                   WHERE event_type = 'purchase'),
        r AS (SELECT event_id, ts, user_id, value FROM events
              WHERE event_type = 'click'),
        u AS (
          SELECT user_id, ts, 1 AS side, event_id AS seq, event_id, value,
            NULL::BIGINT AS r_id, NULL::DOUBLE AS r_value
          FROM l
          UNION ALL
          SELECT user_id, ts, 0, event_id, NULL, NULL, event_id, value
          FROM r
        ),
        w AS (
          SELECT *,
            last_value(r_id IGNORE NULLS) OVER win AS m_id,
            last_value(r_value IGNORE NULLS) OVER win AS m_value
          FROM u
          WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, seq
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT event_id, ts, user_id, value,
          m_id AS matched_event_id, m_value AS matched_value
        FROM w WHERE side = 1"""

    # bucketized range join (operators/rangejoin.py): purchases in the
    # [error_ts, error_ts + 1h) window of the same user; the oracle is the
    # plain inequality join the bucketization must exactly reproduce
    o["range_join_error_window"] = """
        SELECT p.event_id, p.ts, p.user_id, p.value,
          e.event_id AS error_id, e.ts AS start,
          e.ts + INTERVAL 1 HOUR AS "end"
        FROM events p JOIN events e
          ON p.user_id = e.user_id
         AND e.ts <= p.ts AND p.ts < e.ts + INTERVAL 1 HOUR
        WHERE p.event_type = 'purchase' AND e.event_type = 'error'"""

    # mean pooling (operators/pooling.py): per-dimension avg per group
    # (vec_id % 50), list rebuilt in dimension order, avg rounded 6
    o["mean_pool"] = """
        WITH v AS (SELECT vec_id % 50 AS group_id, embedding
                   FROM embeddings
                   WHERE embedding IS NOT NULL AND len(embedding) > 0),
        e AS (SELECT group_id, i, embedding[i] AS x
              FROM v, unnest(generate_series(1, len(embedding))) AS t(i)),
        m AS (SELECT group_id, i, round(avg(x), 6) AS m, count(*) AS n
              FROM e GROUP BY group_id, i)
        SELECT group_id, list(m ORDER BY i) AS pooled,
          CAST(max(n) AS int) AS n_vectors
        FROM m GROUP BY group_id"""

    # Gumbel-top-k sample (operators/sampling.gumbel_topk_sample, k=50,
    # weight = ln(n_chars+1)): u = (md5_32(key)+0.5)/2^32, noise
    # -ln(-ln(u)); selection on the raw score, output rounded 6
    o["gumbel_topk"] = """
        WITH s AS (SELECT doc_id,
            ln(n_chars + 1.0)
              - ln(-ln((('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::UBIGINT
                        + 0.5) / 4294967296.0)) AS sc
          FROM documents)
        SELECT doc_id, round(sc, 6) AS gumbel_score
        FROM s ORDER BY sc DESC, doc_id LIMIT 50"""

    # PII scan/redact: same deterministic augmentation as the Spark side
    # (operators/pii.py patterns interpolated verbatim — one source of
    # truth; the conservative Java/RE2 common regex subset makes the
    # dialects agree match-for-match). DuckDB single-quoted literals keep
    # backslashes raw, so the patterns need no re-escaping.
    from siteone_crawler_spark.operators.pii import PII_ORDER, PII_PATTERNS

    _pii_aug = """
        WITH aug AS (
          SELECT doc_id,
            text ||
            CASE WHEN doc_id % 7 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
              ELSE '' END ||
            CASE WHEN doc_id % 11 = 0
              THEN ' call 555-123-4567 or 10.0.0.1' ELSE '' END ||
            CASE WHEN doc_id % 13 = 0
              THEN ' ssn 123-45-6789 card 4111-1111-1111-1111' ELSE '' END AS t
          FROM documents)
    """
    _pii_counts = ",\n          ".join(
        f"CAST(len(regexp_extract_all(t, '{PII_PATTERNS[k]}')) AS int) AS n_{k}"
        for k in PII_ORDER
    )
    _pii_total = " + ".join(
        f"CAST(len(regexp_extract_all(t, '{PII_PATTERNS[k]}')) AS int)"
        for k in PII_ORDER
    )
    o["pii_scan"] = (
        _pii_aug
        + f"SELECT doc_id,\n          {_pii_counts},\n          "
        + f"{_pii_total} AS pii_total\n        FROM aug"
    )

    _red = "t"
    for _k in PII_ORDER:
        _red = f"regexp_replace({_red}, '{PII_PATTERNS[_k]}', '<{_k.upper()}>', 'g')"
    o["pii_redact"] = (
        _pii_aug + f"SELECT doc_id, md5({_red}) AS redacted_md5 FROM aug"
    )

    _sh5 = _shingles_sql("duck", 5)
    o["decontamination"] = f"""
        WITH ev AS (
          SELECT DISTINCT shingle FROM (
            SELECT unnest({_sh5}) AS shingle FROM documents WHERE doc_id % 97 = 0)
        ), tr AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, unnest({_sh5}) AS shingle
            FROM documents WHERE doc_id % 97 <> 0)
        )
        SELECT doc_id, count(*) AS n_overlap
        FROM tr JOIN ev USING (shingle)
        GROUP BY doc_id"""

    o["line_boilerplate"] = """
        WITH aug AS (
          SELECT doc_id,
            text || chr(10) || 'boilerplate footer' || chr(10) ||
            CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter'
                 ELSE 'line ' || CAST(doc_id AS VARCHAR) END AS t
          FROM documents
        ), ls AS (
          SELECT doc_id, string_split(t, chr(10)) AS arr FROM aug
        ), ex AS (
          SELECT doc_id, unnest(arr) AS line,
                 generate_subscripts(arr, 1) AS pos
          FROM ls
        ), bad AS (
          SELECT line FROM ex WHERE trim(line) <> ''
          GROUP BY line HAVING count(DISTINCT doc_id) > 10
        )
        SELECT doc_id,
               md5(string_agg(line, chr(10) ORDER BY pos)) AS stripped_md5
        FROM ex WHERE line NOT IN (SELECT line FROM bad)
        GROUP BY doc_id"""

    # temperature mixing: same double arithmetic on both engines (pow/
    # floor/hex are IEEE-exact; a last-ulp divergence could only flip a
    # row whose 8-hex hash EQUALS the boundary, P ~ strata/2^32)
    o["temperature_sample"] = """
        WITH c AS (
          SELECT source, count(*) AS n FROM documents GROUP BY source
        ), t AS (
          SELECT sum(n) AS N, sum(pow(n, 0.5)) AS W FROM c
        ), r AS (
          SELECT c.source,
                 lpad(lower(hex(CAST(least(
                   floor(least(0.25 * t.N / t.W * pow(c.n, -0.5), 1.0)
                         * 4294967296.0),
                   4294967295.0) AS BIGINT))), 8, '0') AS thr
          FROM c, t
        )
        SELECT d.doc_id, d.source
        FROM documents d JOIN r ON d.source = r.source
        WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || 'ts1'), 1, 8) < r.thr"""

    o["pack_sequences"] = f"""
        WITH d AS (
          SELECT doc_id, doc_id % 16 AS shard,
                 len({_TOKS_DUCK}) AS n_tokens,
                 md5(CAST(doc_id AS VARCHAR)) AS ord_key
          FROM documents
        )
        SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS start_tok,
               CAST(floor((sum(n_tokens) OVER w - n_tokens) / 256.0)
                    AS BIGINT) AS pack_id
        FROM d
        WINDOW w AS (PARTITION BY shard
                     ORDER BY ord_key, CAST(doc_id AS VARCHAR))"""

    o["classifier_score"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKS_DUCK}) AS tok FROM documents
        ), feat AS (
          SELECT doc_id,
                 ('0x' || substr(md5(tok), 1, 8))::BIGINT % 65536 AS bucket,
                 count(*) AS tf
          FROM toks GROUP BY doc_id, bucket
        ), dots AS (
          SELECT doc_id,
                 sum(tf * ((bucket % 2001 - 1000) / 10000.0)) AS dot
          FROM feat GROUP BY doc_id
        )
        SELECT d.doc_id,
               round(1.0 / (1.0 + exp(-coalesce(dots.dot, 0.0))), 6)
                 AS quality_prob
        FROM documents d LEFT JOIN dots USING (doc_id)"""

    o["minhash_signatures"] = f"""
        WITH sh AS (
          SELECT doc_id, unnest({_shingles_sql('duck')}) AS shingle
          FROM documents
          WHERE doc_id < 100 AND len({_TOKS_DUCK}) >= 3
        ), seeded AS (
          SELECT doc_id, shingle, unnest(generate_series(0, 3)) AS seed FROM sh
        )
        SELECT doc_id, seed,
               min(md5(cast(seed AS string) || '|' || shingle)) AS minhash
        FROM seeded GROUP BY doc_id, seed"""

    o["minhash_lsh_pairs"] = f"""
        WITH sh AS (
          SELECT doc_id, unnest({_shingles_sql('duck')}) AS shingle
          FROM documents
          WHERE doc_id < 200 AND len({_TOKS_DUCK}) >= 3
        ), seeded AS (
          SELECT doc_id, shingle, unnest(generate_series(0, 3)) AS seed FROM sh
        ), sig AS (
          SELECT doc_id, seed,
                 min(md5(cast(seed AS string) || '|' || shingle)) AS minhash
          FROM seeded GROUP BY doc_id, seed
        ), bands AS (
          SELECT doc_id, cast(floor(seed / 2) AS int) AS band,
                 md5(array_to_string(list_sort(list(minhash)), ',')) AS band_key
          FROM sig GROUP BY doc_id, cast(floor(seed / 2) AS int)
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
        FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id"""

    o["dedup_clusters"] = f"""
        WITH RECURSIVE sh AS (
          SELECT doc_id, unnest({_shingles_sql('duck')}) AS shingle
          FROM documents
          WHERE doc_id < 200 AND len({_TOKS_DUCK}) >= 3
        ), seeded AS (
          SELECT doc_id, shingle, unnest(generate_series(0, 3)) AS seed FROM sh
        ), sig AS (
          SELECT doc_id, seed,
                 min(md5(cast(seed AS string) || '|' || shingle)) AS minhash
          FROM seeded GROUP BY doc_id, seed
        ), bands AS (
          SELECT doc_id, cast(floor(seed / 2) AS int) AS band,
                 md5(array_to_string(list_sort(list(minhash)), ',')) AS band_key
          FROM sig GROUP BY doc_id, cast(floor(seed / 2) AS int)
        ), pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key
          WHERE a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        ), nodes AS (
          SELECT doc_id FROM documents
          WHERE doc_id < 200 AND len({_TOKS_DUCK}) >= 3
        ), edges AS (
          SELECT doc_a AS s, doc_b AS d FROM pairs
          UNION
          SELECT doc_b AS s, doc_a AS d FROM pairs
        ), reach AS (
          SELECT doc_id AS node, doc_id AS lbl FROM nodes
          UNION
          SELECT e.d AS node, r.lbl FROM reach r JOIN edges e ON e.s = r.node
        )
        SELECT node AS doc_id, min(lbl) AS component,
               (min(lbl) = node) AS is_keeper
        FROM reach GROUP BY node"""

    # pagerank: the same 3 power steps as the Spark operator, unrolled as
    # chained CTEs (recursive CTEs cannot aggregate over the recursive
    # reference, so fixed iterations unroll instead)
    _pr = """
        WITH e0 AS (
          SELECT doc_id AS src, (doc_id*doc_id+1) % 120 AS dst
          FROM documents WHERE doc_id < 120
          UNION
          SELECT doc_id AS src, (doc_id*13+3) % 120 AS dst
          FROM documents WHERE doc_id < 120
        ), e AS (SELECT src, dst FROM e0 WHERE src <> dst),
        nodes AS (
          SELECT DISTINCT node FROM (
            SELECT src AS node FROM e UNION SELECT dst AS node FROM e)
        ), nn AS (SELECT count(*) AS c FROM nodes),
        deg AS (SELECT src, count(*) AS od FROM e GROUP BY src),
        r0 AS (SELECT node, 1.0/(SELECT c FROM nn) AS rank FROM nodes)"""
    for _i in range(3):
        _pr += f""",
        d{_i} AS (SELECT coalesce(sum(rank), 0) AS m FROM r{_i}
                  WHERE node NOT IN (SELECT src FROM deg)),
        c{_i} AS (SELECT e.dst AS node, sum(r{_i}.rank / deg.od) AS ir
                  FROM e JOIN r{_i} ON e.src = r{_i}.node
                  JOIN deg ON e.src = deg.src GROUP BY e.dst),
        r{_i + 1} AS (SELECT nodes.node,
                  0.15/(SELECT c FROM nn)
                  + 0.85*(coalesce(c{_i}.ir, 0)
                          + (SELECT m FROM d{_i})/(SELECT c FROM nn)) AS rank
                  FROM nodes LEFT JOIN c{_i} ON nodes.node = c{_i}.node)"""
    o["pagerank"] = _pr + "\n        SELECT node AS doc_id, round(rank, 6) AS rank FROM r3"

    o["gopher_quality"] = f"""
        WITH aug AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0 THEN text || ' ' || text
                      ELSE text END || chr(10)
                      || CASE WHEN doc_id % 3 = 0 THEN '- bullet item'
                              ELSE 'plain line' END
                      || chr(10)
                      || CASE WHEN doc_id % 4 = 0 THEN 'to be continued...'
                              ELSE '### markdown heading' END
                      || chr(10) || 'filler line one'
                      || chr(10) || 'filler line two' AS text
          FROM documents
        ), base AS (
          SELECT doc_id, text, {_TOKS_DUCK} AS toks,
                 string_split(text, chr(10)) AS lines
          FROM aug
        ), sig AS (
          SELECT doc_id,
                 len(toks) AS word_count,
                 round(CASE WHEN len(toks) > 0 THEN
                   list_sum(list_transform(toks, t -> length(t)))::DOUBLE
                     / len(toks) ELSE 0.0 END, 6) AS mean_word_len,
                 round(CASE WHEN len(toks) > 0 THEN
                   len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::DOUBLE
                     / len(toks) ELSE 0.0 END, 6) AS alpha_word_ratio,
                 round(CASE WHEN len(toks) > 0 THEN
                   ((length(text) - length(replace(text, '#', '')))
                    + (length(text) - length(replace(text, '...', ''))) / 3.0)
                     / len(toks) ELSE 0.0 END, 6) AS symbol_word_ratio,
                 round(len(list_filter(lines, l ->
                     l LIKE '- %' OR l LIKE '* %' OR l LIKE '•%'))::DOUBLE
                   / len(lines), 6) AS bullet_line_ratio,
                 round(len(list_filter(lines, l -> l LIKE '%...'))::DOUBLE
                   / len(lines), 6) AS ellipsis_line_ratio,
                 len(list_filter(list_distinct(toks), t -> t IN
                   ('the','be','to','of','and','that','have','with')))
                   AS stop_hits
          FROM base
        )
        SELECT doc_id, word_count, mean_word_len, alpha_word_ratio,
               symbol_word_ratio, bullet_line_ratio, ellipsis_line_ratio,
               stop_hits,
               (word_count >= 50 AND word_count <= 100000
                AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                AND symbol_word_ratio <= 0.1 AND bullet_line_ratio <= 0.9
                AND ellipsis_line_ratio <= 0.3 AND alpha_word_ratio >= 0.8
                AND stop_hits >= 2) AS keep
        FROM sig"""

    o["repeated_windows"] = f"""
        WITH aug AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                      THEN text || ' the quick brown fox jumps over the lazy dog'
                      ELSE text END AS text
          FROM documents
        ), occ AS (
          SELECT doc_id, md5(w) AS h FROM (
            SELECT doc_id, unnest({_shingles_sql('duck', 5)}) AS w FROM aug)
        ), hot AS (
          SELECT h FROM occ GROUP BY h HAVING count(*) >= 2
        ), per AS (
          SELECT doc_id, count(*) AS n_repeated FROM occ
          WHERE h IN (SELECT h FROM hot) GROUP BY doc_id
        ), base AS (
          SELECT doc_id, greatest(len({_TOKS_DUCK}) - 4, 0) AS n_windows
          FROM aug
        )
        SELECT base.doc_id, n_windows,
               coalesce(per.n_repeated, 0) AS n_repeated,
               round(CASE WHEN n_windows > 0
                     THEN coalesce(per.n_repeated, 0) / n_windows
                     ELSE 0.0 END, 6) AS repeated_ratio
        FROM base LEFT JOIN per ON base.doc_id = per.doc_id"""

    o["split_assign"] = """
        SELECT doc_id,
               CASE WHEN substr(md5(cast(doc_id AS varchar) || 'sp1'), 1, 4)
                         < '1999' THEN 'val'
                    WHEN substr(md5(cast(doc_id AS varchar) || 'sp1'), 1, 4)
                         < '3333' THEN 'test'
                    ELSE 'train' END AS split
        FROM documents"""

    o["quantize_embeddings"] = """
        WITH q AS (
          SELECT vec_id, embedding,
                 greatest(list_max(list_transform(embedding, x -> abs(x))),
                          1e-12) / 127.0 AS s
          FROM embeddings
        )
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(floor(x / s + 0.5) AS INTEGER)) AS codes,
               round(s, 6) AS scale,
               round(list_max(list_transform(embedding,
                     x -> abs(floor(x / s + 0.5) * s - x))), 6) AS max_err
        FROM q"""

    o["sitemap_order"] = (
        _URLS_CTE
        + """
        SELECT canon_expected AS url,
               length(canon_expected) - length(replace(canon_expected, '/', '')) AS slashes,
               cast(round(greatest(0.1, least(1.0, 1.0 - 0.1 *
                 (length(canon_expected) - length(replace(canon_expected, '/', '')) - 3))), 2)
                 AS double) AS priority
        FROM raw WHERE variant <> 1
        ORDER BY slashes ASC, url ASC"""
    )

    o["union_distinct"] = """
        SELECT doc_id FROM documents WHERE doc_id % 3 = 0
        UNION
        SELECT doc_id FROM documents WHERE doc_id % 5 = 0"""

    o["semi_join_exists"] = """
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)"""

    o["cube_stats"] = """
        SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
               count(*) AS n, cast(sum(n_chars) AS bigint) AS total_chars
        FROM documents
        GROUP BY CUBE (lang, source)"""

    o["existence_flags"] = """
        SELECT max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase,
               max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS has_error,
               max(CASE WHEN value > 1000000 THEN 1 ELSE 0 END) AS has_huge_value
        FROM events"""

    o["join_agg_enrich"] = """
        SELECT n.n_name AS nation, count(*) AS n_customers,
          cast(sum(cast(c.c_acctbal AS decimal(18,4))) AS double) AS total_balance
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name"""

    # span-sequence invariant: reproduce the derived spans + md5 fingerprint
    # (SEP = chr(31), struct fields joined kind|text|media_ref in offset order)
    o["span_signature"] = """
        WITH n AS (SELECT count(*) AS cnt FROM documents),
        d AS (
          SELECT cast(doc_id AS bigint) AS did, text, cnt FROM documents, n
        ), u AS (
          SELECT did, text,
            'https://h' || lpad(cast(did % 7 AS string), 2, '0') || '.corpus.test/p/'
              || cast(did AS string) AS self_url,
            'https://h' || lpad(cast(((did*3+1) % cnt) % 7 AS string), 2, '0')
              || '.corpus.test/p/' || cast((did*3+1) % cnt AS string) AS u1,
            'https://h' || lpad(cast(((did*3+2) % cnt) % 7 AS string), 2, '0')
              || '.corpus.test/p/' || cast((did*3+2) % cnt AS string) AS u2,
            'https://h' || lpad(cast(((did*3+3) % cnt) % 7 AS string), 2, '0')
              || '.corpus.test/p/' || cast((did*3+3) % cnt AS string) AS u3
          FROM d
        )
        SELECT self_url AS doc_id, 4 AS n_spans,
          md5('text' || chr(31) || text || chr(31) || '' || chr(31) ||
              'a_href' || chr(31) || u1 || chr(31) || u1 || chr(31) ||
              'a_href' || chr(31) || u2 || chr(31) || u2 || chr(31) ||
              'a_href' || chr(31) || u3 || chr(31) || u3) AS sig
        FROM u"""

    o["knn_cosine_topk"] = """
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
               round(list_cosine_similarity(cast(embedding AS double[]),
                                            cast(qv AS double[])), 6) AS cos
        FROM embeddings, q
        ORDER BY cos DESC, vec_id ASC LIMIT 10"""

    # ---- operator-routed analyzer oracles over the derived visited table ---
    o["visited_basic_stats"] = (
        _VIS_ORACLE_CTE
        + """
        SELECT count(*) AS total_urls, cast(sum(size) AS bigint) AS total_size,
          round(sum(rt), 3) AS total_time_ms, round(avg(rt), 3) AS avg_time_ms,
          round(min(rt), 3) AS min_time_ms, round(max(rt), 3) AS max_time_ms,
          round(quantile_cont(CASE WHEN status_code = 200 AND ctype = 'html'
                                   THEN rt END, 0.9), 3) AS p90_html_ms
        FROM vis"""
    )

    o["visited_content_type_stats"] = (
        _VIS_ORACLE_CTE
        + """
        SELECT ctype AS content_type, count(*) AS n,
          cast(sum(size) AS bigint) AS total_size,
          round(sum(rt), 3) AS total_time_ms, round(avg(rt), 3) AS avg_time_ms,
          cast(sum(CASE WHEN status_code BETWEEN 200 AND 299 THEN 1 ELSE 0 END) AS bigint) AS s2xx,
          cast(sum(CASE WHEN status_code BETWEEN 300 AND 399 THEN 1 ELSE 0 END) AS bigint) AS s3xx,
          cast(sum(CASE WHEN status_code BETWEEN 400 AND 499 THEN 1 ELSE 0 END) AS bigint) AS s4xx,
          cast(sum(CASE WHEN status_code BETWEEN 500 AND 599 THEN 1 ELSE 0 END) AS bigint) AS s5xx,
          cast(sum(CASE WHEN status_code < 0 THEN 1 ELSE 0 END) AS bigint) AS s_err
        FROM vis GROUP BY ctype"""
    )

    o["visited_mime_stats"] = (
        _VIS_ORACLE_CTE
        + """
        SELECT lower(trim(string_split(cth, ';')[1])) AS mime, count(*) AS n,
          cast(sum(size) AS bigint) AS total_size,
          round(avg(rt), 3) AS avg_time_ms
        FROM vis GROUP BY 1"""
    )

    o["visited_source_domain_stats"] = (
        _VIS_ORACLE_CTE
        + """
        SELECT host, ctype AS content_type, count(*) AS n,
          cast(sum(size) AS bigint) AS total_size,
          round(avg(rt), 3) AS avg_time_ms
        FROM vis GROUP BY host, ctype"""
    )

    _CACHE_AGGS = """count(*) AS n,
          cast(sum(CASE WHEN cache_lifetime IS NOT NULL THEN 1 ELSE 0 END) AS bigint)
            AS n_with_lifetime,
          round(avg(cache_lifetime), 3) AS avg_lifetime,
          min(cache_lifetime) AS min_lifetime,
          max(cache_lifetime) AS max_lifetime"""

    o["caching_stats_domain"] = (
        _VIS_ORACLE_CTE
        + f"""
        SELECT host AS domain, cache_type, {_CACHE_AGGS}
        FROM vis GROUP BY host, cache_type"""
    )

    o["caching_stats_content_type"] = (
        _VIS_ORACLE_CTE
        + f"""
        SELECT ctype AS content_type, cache_type, {_CACHE_AGGS}
        FROM vis GROUP BY ctype, cache_type"""
    )

    o["caching_stats_domain_ct"] = (
        _VIS_ORACLE_CTE
        + f"""
        SELECT host AS domain, ctype AS content_type, cache_type, {_CACHE_AGGS}
        FROM vis GROUP BY host, ctype, cache_type"""
    )

    o["header_stats_map"] = (
        _VIS_ORACLE_CTE
        + """
        , hdr AS (
          SELECT unnest(list_filter([
            {'header': 'content-type', 'value': cth},
            {'header': 'content-length', 'value': cast(size AS string)},
            {'header': 'cache-control', 'value': CASE cc_idx
               WHEN 0 THEN 'public, max-age=3600'
               WHEN 1 THEN 'private, no-cache'
               WHEN 2 THEN 'max-age=86400, immutable'
               WHEN 3 THEN 'no-store'
               WHEN 4 THEN 'public, s-maxage=7200, stale-while-revalidate=60' END},
            {'header': 'expires', 'value': CASE WHEN did % 4 = 1
               THEN 'Thu, 01 Jan 2026 00:00:00 GMT' END},
            {'header': 'etag', 'value': CASE WHEN did % 2 = 0
               THEN '"e' || cast(did AS string) || '"' END},
            {'header': 'last-modified', 'value': CASE WHEN did % 5 < 2
               THEN 'Wed, 01 Jan 2025 00:00:00 GMT' END},
            {'header': 'content-encoding', 'value': CASE WHEN did % 7 = 2 THEN 'br' END},
            {'header': 'age', 'value': CASE WHEN did % 6 = 0
               THEN cast(did * 13 % 1000 AS string) END}
          ], x -> x.value IS NOT NULL), recursive := true)
          FROM vis WHERE status_code > 0
        )
        SELECT header, count(*) AS occurrences,
          CASE WHEN count(DISTINCT value) > 10 THEN '10+'
               ELSE cast(count(DISTINCT value) AS string) END AS unique_values,
          array_to_string(list_sort(list(DISTINCT value))[1:5], ', ') AS values_preview,
          min(CASE WHEN header IN ('content-length', 'age')
                   THEN cast(value AS bigint) END) AS min_int,
          max(CASE WHEN header IN ('content-length', 'age')
                   THEN cast(value AS bigint) END) AS max_int
        FROM hdr GROUP BY header"""
    )

    o["format_support"] = (
        _VIS_ORACLE_CTE
        + """
        SELECT max(CASE WHEN status_code > 0 AND did % 7 = 2 THEN 1 ELSE 0 END) AS has_brotli,
          max(CASE WHEN cth LIKE '%webp%' THEN 1 ELSE 0 END) AS has_webp,
          max(CASE WHEN cth LIKE '%avif%' THEN 1 ELSE 0 END) AS has_avif
        FROM vis"""
    )

    o["visited_top_slowest"] = (
        _VIS_ORACLE_CTE
        + """
        SELECT url, rt AS request_time_ms FROM vis
        WHERE status_code = 200
        ORDER BY rt DESC, url ASC LIMIT 20"""
    )

    # ---- extraction oracles: reconstruct the planted links arithmetically --
    o["extract_links"] = """
        WITH d AS (SELECT cast(doc_id AS bigint) AS d FROM documents),
        base_rows AS (
          SELECT d, 0 AS r, 'a_href' AS kind,
            '/p/' || cast((d * 7 + 1) % 1000 AS string) AS href FROM d
          UNION ALL SELECT d, 1, 'a_href',
            'https://h' || lpad(cast(d % 7 AS string), 2, '0') || '.corpus.test/q/'
            || cast(d AS string) || '?a=1&amp;b=2#frag' FROM d
          UNION ALL SELECT d, 2, 'a_href', 'mailto:x@y.z' FROM d
          UNION ALL SELECT d, 3, 'img_src',
            '/img/' || cast(d % 50 AS string) || '.png' FROM d
          UNION ALL SELECT d, 4, 'css_url',
            '/img/bg' || cast(d % 4 AS string) || '.avif' FROM d
          UNION ALL SELECT d, 5, 'img_srcset',
            '/img/' || cast(d % 50 AS string) || '-480.webp' FROM d
          UNION ALL SELECT d, 6, 'img_srcset',
            '/img/' || cast(d % 50 AS string) || '-960.webp' FROM d
          UNION ALL SELECT d, 7, 'script_src',
            '/js/app' || cast(d % 3 AS string) || '.js' FROM d
          UNION ALL SELECT d, 8, 'link_href',
            '/css/site' || cast(d % 2 AS string) || '.css' FROM d
          UNION ALL SELECT d, 9, 'css_url',
            '/img/bg' || cast(d % 4 AS string) || '.avif' FROM d
        )
        SELECT d AS doc_id,
          cast(CASE WHEN d % 11 = 5 THEN r + 1 ELSE r END AS int) AS offset,
          kind, href
        FROM base_rows
        UNION ALL
        SELECT d, 0, 'base_href', 'https://h00.corpus.test/based/'
        FROM d WHERE d % 11 = 5"""

    o["extract_meta"] = """
        SELECT cast(doc_id AS bigint) AS doc_id,
          'Doc ' || cast(doc_id * 31 % 113 AS string) AS title,
          'Synthetic page ' || cast(doc_id AS string) AS description,
          cast(CASE WHEN doc_id % 11 = 5 THEN 15 ELSE 14 END AS int) AS dom_count
        FROM documents"""

    # J4/A11: real title-uniqueness grouping over EXTRACTED titles
    # (best_practice_analyzer.rs:615-860); fixture plants collisions via
    # the d*31 % 113 residue
    o["duplicate_titles_meta"] = """
        SELECT 'Doc ' || cast(doc_id * 31 % 113 AS string) AS title,
          count(*) AS n, min(cast(doc_id AS bigint)) AS first_doc
        FROM documents
        GROUP BY doc_id * 31 % 113 HAVING count(*) > 1"""

    # SRP/LSH ANN: the oracle REPLICATES the deterministic ±1 hyperplanes
    # (md5-parity signs, similarity.hyperplane_signs) and the multiprobe
    # bucket pruning in pure SQL, then takes exact cosine top-k within the
    # probed buckets — a full independent twin of the bucketed ANN path.
    o["knn_srp_topk"] = """
        WITH dims AS (SELECT unnest(generate_series(0, 63)) AS d),
        ps AS (SELECT unnest(generate_series(0, 5)) AS p),
        planes AS (
          SELECT p, d,
            CASE WHEN ('0x' || substring(md5(cast(p AS string) || '|'
                 || cast(d AS string)), 1, 2))::INT % 2 = 0
            THEN 1.0 ELSE -1.0 END AS w
          FROM ps, dims
        ),
        vecexp AS (
          SELECT vec_id, d, cast(embedding[d + 1] AS double) AS x
          FROM embeddings, dims
        ),
        dots AS (
          SELECT vec_id, p, sum(x * w) AS dot
          FROM vecexp JOIN planes USING (d) GROUP BY vec_id, p
        ),
        buckets AS (
          SELECT vec_id,
            cast(sum(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS bigint) AS bucket
          FROM dots GROUP BY vec_id
        ),
        qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0),
        cand AS (
          SELECT b.vec_id FROM buckets b, qb
          WHERE bit_count(cast(xor(b.bucket, qb.qbucket) AS bigint)) <= 1
        ),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id,
          round(list_cosine_similarity(cast(e.embedding AS double[]),
                                       cast(q.qv AS double[])), 6) AS cos
        FROM embeddings e JOIN cand USING (vec_id), q
        ORDER BY cos DESC, vec_id ASC LIMIT 10"""

    # n-gram Jaccard near-dups: the minhash-band twin supplies candidates,
    # then exact Jaccard over DISTINCT 3-shingle sets (dedup.jaccard_pairs)
    o["ngram_jaccard_pairs"] = f"""
        WITH sh AS (
          SELECT doc_id, unnest({_shingles_sql('duck')}) AS shingle
          FROM documents
          WHERE doc_id < 200 AND len({_TOKS_DUCK}) >= 3
        ), seeded AS (
          SELECT doc_id, shingle, unnest(generate_series(0, 3)) AS seed FROM sh
        ), sig AS (
          SELECT doc_id, seed,
                 min(md5(cast(seed AS string) || '|' || shingle)) AS minhash
          FROM seeded GROUP BY doc_id, seed
        ), bands AS (
          SELECT doc_id, cast(floor(seed / 2) AS int) AS band,
                 md5(array_to_string(list_sort(list(minhash)), ',')) AS band_key
          FROM sig GROUP BY doc_id, cast(floor(seed / 2) AS int)
        ), cand AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
          WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id
        ), sets AS (
          SELECT doc_id, list_distinct({_shingles_sql('duck')}) AS shl
          FROM documents WHERE doc_id < 200 AND len({_TOKS_DUCK}) >= 3
        )
        SELECT doc_a, doc_b, jaccard FROM (
          SELECT c.doc_a, c.doc_b,
            round(CASE WHEN len(list_distinct(list_concat(sa.shl, sb.shl))) > 0
              THEN len(list_intersect(sa.shl, sb.shl)) * 1.0
                   / len(list_distinct(list_concat(sa.shl, sb.shl)))
              ELSE 0.0 END, 6) AS jaccard
          FROM cand c
          JOIN sets sa ON c.doc_a = sa.doc_id
          JOIN sets sb ON c.doc_b = sb.doc_id
        ) t WHERE jaccard >= 0.5"""

    # BPE-ish subword tokens: the oracle reruns the same RE2-safe
    # pre-tokenizer regex and the per-token 4-char-block extras
    o["subword_token_count"] = r"""
        WITH r AS (
          SELECT lang,
            regexp_extract_all(text,
              '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'
            ) AS toks
          FROM documents
        )
        SELECT lang,
          cast(sum(len(toks) + coalesce(list_sum(list_transform(toks,
            t -> greatest(cast(ceil(length(trim(t)) / 4.0) AS int) - 1, 0))), 0))
            AS bigint) AS total_subword_tokens,
          cast(count(*) AS bigint) AS n_docs
        FROM r GROUP BY lang ORDER BY lang"""

    # CDC near-dups: full SQL twin — the oracle recomputes the md5-window
    # boundaries, chunk hashes and multiset overlap independently
    o["cdc_near_dups"] = """
        WITH d AS (
          SELECT doc_id, text FROM documents WHERE cast(doc_id AS bigint) < 150
        ),
        b AS (
          SELECT doc_id, text,
            [1] || list_filter(
              generate_series(2, greatest(length(text) - 7, 1)),
              i -> ('0x' || substring(md5(substring(text, i, 8)), 1, 4))::INT % 16 = 0
            ) || [length(text) + 1] AS bounds
          FROM d
        ),
        ch AS (
          SELECT doc_id,
            unnest(list_transform(
              generate_series(1, len(bounds) - 1),
              k -> md5(substring(text, bounds[k], bounds[k + 1] - bounds[k]))
            )) AS chunk_hash
          FROM b
        ),
        cc AS (
          SELECT doc_id, chunk_hash, count(*) AS n FROM ch GROUP BY doc_id, chunk_hash
        ),
        tot AS (SELECT doc_id, sum(n) AS total FROM cc GROUP BY doc_id),
        keepch AS (
          SELECT chunk_hash FROM cc GROUP BY chunk_hash HAVING count(*) <= 10000
        ),
        cc2 AS (SELECT cc.* FROM cc JOIN keepch USING (chunk_hash)),
        sh AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(least(a.n, b.n)) AS shared
          FROM cc2 a JOIN cc2 b
            ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b, overlap FROM (
          SELECT doc_a, doc_b,
            round(shared * 1.0 / least(ta.total, tb.total), 6) AS overlap
          FROM sh
          JOIN tot ta ON ta.doc_id = sh.doc_a
          JOIN tot tb ON tb.doc_id = sh.doc_b
        ) t WHERE overlap >= 0.3"""

    # Embedding near-dup pairs: SRP-bucket twin (6 md5-parity hyperplanes,
    # as in knn_srp_topk) -> same-bucket pairs -> exact cosine >= threshold
    o["embedding_near_dups"] = """
        WITH dims AS (SELECT unnest(generate_series(0, 63)) AS d),
        ps AS (SELECT unnest(generate_series(0, 5)) AS p),
        planes AS (
          SELECT p, d,
            CASE WHEN ('0x' || substring(md5(cast(p AS string) || '|'
                 || cast(d AS string)), 1, 2))::INT % 2 = 0
            THEN 1.0 ELSE -1.0 END AS w
          FROM ps, dims
        ),
        vecexp AS (
          SELECT vec_id, d, cast(embedding[d + 1] AS double) AS x
          FROM embeddings, dims
        ),
        dots AS (
          SELECT vec_id, p, sum(x * w) AS dot
          FROM vecexp JOIN planes USING (d) GROUP BY vec_id, p
        ),
        buckets AS (
          SELECT vec_id,
            cast(sum(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS bigint) AS bucket
          FROM dots GROUP BY vec_id
        )
        SELECT id_a, id_b, cos FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            round(list_cosine_similarity(cast(ea.embedding AS double[]),
                                         cast(eb.embedding AS double[])), 6) AS cos
          FROM buckets a
          JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
          JOIN embeddings ea ON ea.vec_id = a.vec_id
          JOIN embeddings eb ON eb.vec_id = b.vec_id
        ) t WHERE cos >= 0.4"""

    # SEO fixtures: the oracle reconstructs the planted fields purely
    # arithmetically — it never parses HTML, so the Spark-side regexp
    # extraction (operators/seo.py) is genuinely checked
    o["seo_meta"] = """
        SELECT '/p/' || cast(did AS string) AS path,
          'Doc ' || cast(did * 31 % 113 AS string) AS title,
          CASE WHEN did % 4 = 0 THEN 'Desc ' || cast(did AS string) END AS description,
          cast(NULL AS string) AS keywords,
          'H ' || cast(did AS string) AS h1,
          did % 5 = 0 AS noindex,
          false AS nofollow,
          CASE WHEN did % 3 = 0 THEN 'https://c.test/' || cast(did AS string) END AS canonical
        FROM (SELECT cast(doc_id AS bigint) AS did FROM documents) d
        ORDER BY path"""

    o["seo_headings"] = """
        SELECT '/p/' || cast(did AS string) AS path,
          cast(CASE WHEN did % 6 = 0 THEN 3 ELSE 2 END AS int) AS n_headings,
          cast(CASE WHEN did % 6 = 0 THEN 2 ELSE 1 END AS int) AS n_h1,
          did % 6 = 0 AS h1_error,
          CASE WHEN did % 6 = 0
            THEN 'H ' || cast(did AS string) || '|extra|S'
            ELSE 'H ' || cast(did AS string) || '|S' END AS heading_texts
        FROM (SELECT cast(doc_id AS bigint) AS did FROM documents) d
        ORDER BY path"""

    # Best-practice summary: residue-planted checks, counted directly
    o["best_practices_summary"] = """
        SELECT cast(count(*) AS bigint) AS n_pages,
          cast(sum(CASE WHEN did % 5 = 0 THEN 1 ELSE 0 END) AS bigint)
            AS pages_large_svgs,
          cast(0 AS bigint) AS pages_duplicated_svgs,
          cast(sum(CASE WHEN did % 4 = 0 THEN 1 ELSE 0 END) AS bigint)
            AS pages_missing_quotes,
          cast(sum(CASE WHEN did % 3 = 0 THEN 1 ELSE 0 END) AS bigint)
            AS pages_deep_dom,
          cast(sum(CASE WHEN did % 7 = 0 THEN 1 ELSE 0 END) AS bigint)
            AS pages_nonclickable_phones
        FROM (SELECT cast(doc_id AS bigint) AS did FROM documents) d"""

    # TLS/DNS: the oracle re-derives every probe feature from the seed
    # residues (synth_probes' documented keying) and reclassifies the
    # ssl_tls/mod.rs finding codes independently
    o["tls_summary"] = """
        WITH s AS (SELECT unnest(generate_series(0, 96)) AS k),
        ok AS (SELECT k FROM s WHERE k % 13 <> 12 AND k % 11 <> 10),
        f AS (
          SELECT 'ssl-certificate-connect' AS code, 4 AS severity
          FROM s WHERE k % 13 = 12
          UNION ALL SELECT 'ssl-tls-handshake-failed', 4
          FROM s WHERE k % 13 <> 12 AND k % 11 = 10
          UNION ALL SELECT 'ssl-certificate-valid-to', 4 FROM ok WHERE k % 7 = 6
          UNION ALL SELECT 'ssl-weak-signature', 4 FROM ok WHERE k % 9 = 8
          UNION ALL SELECT 'ssl-signature-strong', 1 FROM ok WHERE k % 9 <> 8
          UNION ALL SELECT 'ssl-weak-key', 4 FROM ok WHERE k % 10 = 9
          UNION ALL SELECT 'ssl-key-strong', 1 FROM ok WHERE k % 10 <> 9
          UNION ALL SELECT 'ssl-no-common-name', 2 FROM ok WHERE k % 17 = 16
          UNION ALL SELECT 'ssl-certificate-untrusted', 4 FROM ok WHERE k % 5 = 4
          UNION ALL SELECT 'ssl-certificate-trusted', 1 FROM ok WHERE k % 5 <> 4
          UNION ALL SELECT 'ssl-protocol-unsafe', 4 FROM ok WHERE k % 6 = 5
          UNION ALL SELECT 'ssl-protocol-hint', 4 FROM ok WHERE k % 6 = 5
        )
        SELECT code, cast(severity AS int) AS severity,
          cast(count(*) AS bigint) AS n_hosts
        FROM f GROUP BY code, severity ORDER BY code, severity"""

    o["dns_stats"] = """
        WITH s AS (SELECT unnest(generate_series(0, 96)) AS k),
        h AS (SELECT k, 'h' || cast(k AS string) || '.corpus.test' AS host FROM s)
        SELECT host,
          CASE WHEN k % 4 = 0 THEN host || '|cdn.' || host ELSE host END
            AS resolved_chain,
          cast(CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END AS int) AS n_cnames,
          cast(1 AS int) AS n_ipv4,
          cast(CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END AS int) AS n_ipv6,
          true AS resolved
        FROM h ORDER BY host"""

    # --resolve overrides: hosts h3 (forced ipv4) and h7 (forced ipv6) skip
    # resolution — no CNAMEs, only the forced address family populated
    o["dns_stats_resolve"] = """
        WITH s AS (SELECT unnest(generate_series(0, 96)) AS k),
        h AS (SELECT k, 'h' || cast(k AS string) || '.corpus.test' AS host FROM s)
        SELECT host,
          CASE WHEN k IN (3, 7) THEN host
               WHEN k % 4 = 0 THEN host || '|cdn.' || host ELSE host END
            AS resolved_chain,
          cast(CASE WHEN k IN (3, 7) THEN 0
                    WHEN k % 4 = 0 THEN 1 ELSE 0 END AS int) AS n_cnames,
          cast(CASE WHEN k = 7 THEN 0 ELSE 1 END AS int) AS n_ipv4,
          cast(CASE WHEN k = 7 THEN 1 WHEN k = 3 THEN 0
                    WHEN k % 3 = 0 THEN 1 ELSE 0 END AS int) AS n_ipv6,
          true AS resolved
        FROM h ORDER BY host"""

    # F15 extra columns: every planted field is arithmetic, so the oracle
    # checks the DOM xpath engine + native regexp end-to-end
    o["extra_columns_xpath"] = """
        SELECT did AS doc_id,
          'H ' || cast(did * 7 % 53 AS string) AS Heading,
          '/l/' || cast(did AS string) AS Link,
          'A' || cast(did % 7 AS string) AS Author,
          cast(did % 100 AS string) AS Num
        FROM (SELECT cast(doc_id AS bigint) AS did FROM documents) d"""

    # Accessibility summary: every check is planted by residue; the oracle
    # counts the residue classes directly
    o["accessibility_summary"] = """
        SELECT cast(count(*) AS bigint) AS n_pages,
          cast(sum(CASE WHEN did % 4 = 0 THEN 1 ELSE 0 END) AS bigint)
            AS pages_missing_img_alt,
          cast(sum(CASE WHEN did % 6 = 0 THEN 1 ELSE 0 END) AS bigint)
            AS pages_missing_form_labels,
          cast(sum(CASE WHEN did % 5 = 0 THEN 1 ELSE 0 END) AS bigint)
            AS pages_unnamed_interactive,
          cast(sum(CASE WHEN did % 2 <> 0 THEN 1 ELSE 0 END) AS bigint)
            AS pages_missing_main_landmark,
          cast(sum(CASE WHEN did % 3 <> 0 THEN 1 ELSE 0 END) AS bigint)
            AS pages_missing_lang,
          cast(sum(CASE WHEN did % 7 = 0 THEN 1 ELSE 0 END) AS bigint)
            AS pages_duplicate_ids
        FROM (SELECT cast(doc_id AS bigint) AS did FROM documents) d"""

    # Security-header SuperTable: the oracle reclassifies every synthesized
    # residue class from first principles (the severity ladder of
    # security_analyzer.rs re-derived in SQL) and aggregates counts +
    # sorted value samples per header
    o["security_stats"] = """
        WITH d AS (
          SELECT cast(doc_id AS bigint) AS did FROM documents
          WHERE cast(doc_id AS bigint) % 10 <> 9
        )
        SELECT 'access-control-allow-origin' AS header, max(sev) AS highest_severity,
          cast(sum(CASE WHEN sev=1 THEN 1 ELSE 0 END) AS bigint) AS n_ok,
          cast(sum(CASE WHEN sev=2 THEN 1 ELSE 0 END) AS bigint) AS n_notice,
          cast(sum(CASE WHEN sev=3 THEN 1 ELSE 0 END) AS bigint) AS n_warning,
          cast(sum(CASE WHEN sev=4 THEN 1 ELSE 0 END) AS bigint) AS n_critical,
          '*|https://a.test|same-origin' AS values_sample
        FROM (SELECT CASE did%5 WHEN 0 THEN 3 WHEN 1 THEN 2 ELSE 1 END AS sev
              FROM d WHERE did%5 < 3) t
        UNION ALL
        SELECT 'content-security-policy', max(sev),
          cast(sum(CASE WHEN sev=1 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=2 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=3 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=4 THEN 1 ELSE 0 END) AS bigint),
          'default-src ''self''|script-src ''self'' ''unsafe-inline'''
        FROM (SELECT CASE did%3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS sev FROM d) t
        UNION ALL
        SELECT 'cross-origin-embedder-policy', 2, cast(0 AS bigint),
          cast(count(*) AS bigint), cast(0 AS bigint), cast(0 AS bigint),
          '' FROM d
        UNION ALL
        SELECT 'cross-origin-opener-policy', 2, cast(0 AS bigint),
          cast(count(*) AS bigint), cast(0 AS bigint), cast(0 AS bigint),
          '' FROM d
        UNION ALL
        SELECT 'cross-origin-resource-policy', 2, cast(0 AS bigint),
          cast(count(*) AS bigint), cast(0 AS bigint), cast(0 AS bigint),
          '' FROM d
        UNION ALL
        SELECT 'feature-policy', 3, cast(0 AS bigint), cast(0 AS bigint),
          cast(count(*) AS bigint), cast(0 AS bigint), '' FROM d
        UNION ALL
        SELECT 'permissions-policy', 3, cast(0 AS bigint), cast(0 AS bigint),
          cast(count(*) AS bigint), cast(0 AS bigint), '' FROM d
        UNION ALL
        SELECT 'referrer-policy', 3, cast(0 AS bigint), cast(0 AS bigint),
          cast(count(*) AS bigint), cast(0 AS bigint), '' FROM d
        UNION ALL
        SELECT 'x-xss-protection', 1, cast(count(*) AS bigint), cast(0 AS bigint),
          cast(0 AS bigint), cast(0 AS bigint), '' FROM d
        UNION ALL
        SELECT 'strict-transport-security', max(sev),
          cast(sum(CASE WHEN sev=1 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=2 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=3 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=4 THEN 1 ELSE 0 END) AS bigint),
          'max-age=0|max-age=600|max-age=63072000'
        FROM (SELECT CASE did%4 WHEN 0 THEN 1 WHEN 1 THEN 4 WHEN 2 THEN 3 ELSE 4 END AS sev FROM d) t
        UNION ALL
        SELECT 'x-frame-options', max(sev),
          cast(sum(CASE WHEN sev=1 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=2 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=3 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=4 THEN 1 ELSE 0 END) AS bigint),
          'ALLOW-FROM|DENY|SAMEORIGIN|allowall'
        FROM (SELECT CASE did%5 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 3 END AS sev FROM d) t
        UNION ALL
        SELECT 'server', max(sev),
          cast(sum(CASE WHEN sev=1 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=2 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=3 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=4 THEN 1 ELSE 0 END) AS bigint),
          'custom|nginx|nginx/1.25'
        FROM (SELECT CASE did%4 WHEN 0 THEN 4 WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 1 END AS sev FROM d) t
        UNION ALL
        SELECT 'x-powered-by', max(sev),
          cast(sum(CASE WHEN sev=1 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=2 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=3 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=4 THEN 1 ELSE 0 END) AS bigint),
          'Express|PHP/8.2'
        FROM (SELECT CASE did%6 WHEN 0 THEN 4 ELSE 3 END AS sev
              FROM d WHERE did%6 < 2) t
        UNION ALL
        SELECT 'x-content-type-options', max(sev),
          cast(sum(CASE WHEN sev=1 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=2 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=3 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=4 THEN 1 ELSE 0 END) AS bigint),
          'nosniff'
        FROM (SELECT CASE did%2 WHEN 0 THEN 1 ELSE 3 END AS sev FROM d) t
        UNION ALL
        SELECT 'set-cookie', max(sev),
          cast(sum(CASE WHEN sev=1 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=2 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=3 THEN 1 ELSE 0 END) AS bigint),
          cast(sum(CASE WHEN sev=4 THEN 1 ELSE 0 END) AS bigint),
          'sid'
        FROM (SELECT CASE did%3 WHEN 0 THEN 1 ELSE 4 END AS sev
              FROM d WHERE did%3 < 2) t
        ORDER BY header"""

    # IVF ANN: the oracle REPLICATES the index — pivot centroids = vectors
    # of the 8 smallest ids, assignment = argmax cosine (ties -> larger
    # centroid id, matching Spark's array_max-on-struct), probe = the 2
    # centroids nearest the query, exact cosine top-k within probed lists.
    o["knn_ivf_topk"] = """
        WITH cents AS (
          SELECT vec_id AS cid, cast(embedding AS double[]) AS cv
          FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
        ),
        assign AS (
          SELECT e.vec_id, c.cid,
            round(list_cosine_similarity(cast(e.embedding AS double[]), c.cv), 9) AS ccos
          FROM embeddings e CROSS JOIN cents c
        ),
        best AS (
          SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
              row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid DESC) AS rn
            FROM assign) t WHERE rn = 1
        ),
        qprobe AS (
          SELECT cid FROM assign WHERE vec_id = 0 ORDER BY ccos DESC, cid DESC LIMIT 2
        ),
        q AS (SELECT cast(embedding AS double[]) AS qv FROM embeddings WHERE vec_id = 0)
        SELECT e.vec_id,
          round(list_cosine_similarity(cast(e.embedding AS double[]), q.qv), 6) AS cos
        FROM embeddings e
        JOIN best b USING (vec_id) JOIN qprobe p ON b.cid = p.cid, q
        ORDER BY cos DESC, vec_id ASC LIMIT 10"""

    # SimHash near-dup pairs: full SQL twin — md5-low-64 token hashes,
    # per-bit majority vote (ties -> 0), 16-bit Hamming-LSH blocking, exact
    # Hamming verify (operators/dedup.simhash64 + simhash_near_pairs).
    o["simhash_near_pairs"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKS_DUCK}) AS t FROM documents
        ),
        th AS (
          SELECT doc_id, ('0x' || substring(md5(t), 1, 16))::UBIGINT AS h FROM toks
        ),
        bits AS (
          SELECT doc_id, b,
            sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM th, (SELECT unnest(generate_series(0, 63)) AS b)
          GROUP BY doc_id, b
        ),
        fp0 AS (
          SELECT doc_id,
            cast(sum(CASE WHEN vote > 0 THEN
              (CASE WHEN b = 63 THEN -9223372036854775808
                    ELSE (1::BIGINT << b) END) ELSE 0 END) AS bigint) AS simhash
          FROM bits GROUP BY doc_id
        ),
        fp AS (
          SELECT d.doc_id, coalesce(f.simhash, 0) AS simhash
          FROM documents d LEFT JOIN fp0 f USING (doc_id)
        ),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            cast(bit_count(cast(xor(a.simhash, b.simhash) AS bigint)) AS int) AS hamming
          FROM fp a JOIN fp b ON a.doc_id < b.doc_id
          WHERE ((a.simhash >> 0) & 65535) = ((b.simhash >> 0) & 65535)
             OR ((a.simhash >> 16) & 65535) = ((b.simhash >> 16) & 65535)
             OR ((a.simhash >> 32) & 65535) = ((b.simhash >> 32) & 65535)
             OR ((a.simhash >> 48) & 65535) = ((b.simhash >> 48) & 65535)
        )
        SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 12"""

    return o


def oracle_sql() -> dict[str, str]:
    return {k: v for k, v in _all_oracle_sql().items() if k not in _NOT_DRIVER_CHECKED}


def extra_oracle_sql() -> dict[str, str]:
    return {k: v for k, v in _all_oracle_sql().items() if k in _NOT_DRIVER_CHECKED}
