"""Seeded benchmark inputs.

The wave workloads use a Spark-native corpus with the same docs / meta /
frontier schema as `siteone_crawler_spark.generator.generate_site_df`, but
every host and link hash is salted with the benchmark seed, so one seed
always yields the same tables and another seed yields other ones.

Document ids `did` are 0..n_docs-1; the URL of id d is
`https://h<host(d)>.bench.test/p/<d>` with a log-uniform (about Zipf s=1)
host. A page links to `fanout` targets spread over `url_space` ids, one hot
page (id % hot_targets) and one external or mailto href. With
url_space = 2 x frontier size, about half of the links hit the seen set.
"""

from __future__ import annotations

from pyspark.sql import functions as F

N_HOSTS = 512
FANOUT = 8
HOT_TARGETS = 1000
ROBOTS_BODY = "User-agent: *\nDisallow: /private/\n"


def _host_of(did, seed: int):
    u = F.pmod(F.xxhash64(did, F.lit(seed)), F.lit(100_000)) / 100_000.0
    idx = (F.pow(F.lit(float(N_HOSTS)), u) - 1).cast("int")
    return F.concat(F.lit("h"), F.lpad(idx.cast("string"), 4, "0"), F.lit(".bench.test"))


def _url_of(did, seed: int):
    return F.concat(
        F.lit("https://"), _host_of(did, seed), F.lit("/p/"), did.cast("string")
    )


def _targets(did, seed: int, url_space: int) -> list:
    """Ids of the in-domain pages doc `did` links to: the fanout targets,
    then the hot page."""
    return [
        F.pmod(F.xxhash64(did, F.lit(k), F.lit(seed)), F.lit(url_space))
        for k in range(FANOUT)
    ] + [F.pmod(did, F.lit(HOT_TARGETS))]


def corpus(spark, seed: int, n_docs: int, url_space: int, n_part: int):
    """(docs, meta, robots) for ids 0..n_docs-1, hash-partitioned on doc_id
    and persisted (the fetch join then shuffles only the frontier side)."""
    did = F.col("did")
    spans = [
        F.struct(
            F.lit("text").alias("kind"),
            F.concat(F.lit("page "), did.cast("string")).alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).alias("offset"),
        )
    ]
    for k, tid in enumerate(_targets(did, seed, url_space)):
        t = _url_of(tid, seed)
        spans.append(
            F.struct(
                F.lit("a_href").alias("kind"), t.alias("text"),
                t.alias("media_ref"), F.lit(k + 1).alias("offset"),
            )
        )
    bad = F.when(F.pmod(did, F.lit(13)) == 0, F.lit("mailto:x@bench.test")).otherwise(
        F.concat(
            F.lit("https://ext"), F.pmod(did, F.lit(5)).cast("string"),
            F.lit(".other.test/x"), did.cast("string"),
        )
    )
    spans.append(
        F.struct(
            F.lit("a_href").alias("kind"), bad.alias("text"),
            F.lit("").alias("media_ref"), F.lit(FANOUT + 2).alias("offset"),
        )
    )
    docs = spark.range(n_docs).withColumnRenamed("id", "did").select(
        _url_of(did, seed).alias("doc_id"), F.array(*spans).alias("spans")
    )
    meta = docs.select(
        "doc_id",
        F.lit(200).alias("status_code"),
        F.lit("text/html; charset=utf-8").alias("content_type_header"),
        F.lit(None).cast("string").alias("redirect_location"),
        (F.length("doc_id") * 17).cast("long").alias("size"),
        (F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(50000)) / 10.0).alias(
            "request_time_ms"
        ),
    )
    docs = docs.repartition(n_part, "doc_id").persist()
    meta = meta.repartition(n_part, "doc_id").persist()
    docs.count()
    meta.count()
    robots = {f"h{i:04d}.bench.test": ROBOTS_BODY for i in range(N_HOSTS)}
    return docs, meta, robots


def frontier(spark, seed: int, n: int):
    """Wave-0 frontier (FRONTIER_SCHEMA) for ids 0..n-1 with seq = id, so
    any prefix 0..k-1 is itself a valid frontier and a global wave budget
    admits the lowest ids first. Persisted."""
    did = F.col("id")
    url = _url_of(did, seed)
    fr = spark.range(n).select(
        url.alias("url"),
        F.md5(url).alias("url_key"),
        F.substring(F.md5(url), 1, 8).alias("uq_id"),
        _host_of(did, seed).alias("host"),
        F.concat(F.lit("/p/"), did.cast("string")).alias("path"),
        F.lit("").alias("ext"),
        F.lit(2).alias("depth"),
        F.lit(0).alias("wave"),
        did.alias("seq"),
        F.lit("").alias("source_uq_id"),
        F.lit(91).alias("source_attr"),
    ).persist()
    fr.count()
    return fr


def new_link_count(spark, seed: int, ids: list[int], url_space: int, n: int) -> int:
    """Distinct in-domain pages outside the frontier 0..n-1 that the docs
    `ids` link to: what a wave that visits exactly `ids` must enqueue."""
    did = F.col("did")
    docs = spark.createDataFrame([(i,) for i in ids], "did long")
    tid = docs.select(F.explode(F.array(*_targets(did, seed, url_space))).alias("t"))
    return tid.filter(F.col("t") >= n).distinct().count()
