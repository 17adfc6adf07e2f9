"""Unit tests for the seen-set (bloom + exact paths) and the scalable
global-sequence operator."""

import pyspark.sql.functions as F


def _md5_keys(spark, lo, hi):
    return spark.range(lo, hi).select(F.md5(F.col("id").cast("string")).alias("url_key"))


def test_blocked_bloom_native_roundtrip(spark, tmp_path):
    """The word-blocked prefilter: no false negatives, a small false-positive
    rate on fresh keys, the same rows and verdicts after a `blooms`
    checkpoint write/read, and a bloom-arm filter_new plan with no Python."""
    from siteone_crawler_spark.engine import BLOOMS_SCHEMA
    from siteone_crawler_spark.operators.seen import SeenSet
    from siteone_crawler_spark.plans import explain_str
    from siteone_crawler_spark.sources.checkpoint import CheckpointStore

    seen = SeenSet(spark, n_buckets=8)
    seen._keys = _md5_keys(spark, 0, 20_000)
    fresh = _md5_keys(spark, 20_000, 70_000)
    seen.absorb(seen.keys)

    def verdicts():
        miss = seen.maybe_seen(seen.keys).filter(~F.col("__maybe")).count()
        return miss, seen.maybe_seen(fresh).filter(F.col("__maybe")).count()

    false_neg, false_pos = verdicts()
    assert false_neg == 0
    assert false_pos < 50  # FPR < 1e-3; about 1e-4 expected at 1.2 keys/word

    store = CheckpointStore(spark, str(tmp_path))
    store.write_table("blooms", 0, seen.prefilter)
    rows = sorted(map(tuple, seen.prefilter.collect()))
    seen.prefilter = store.read_wave("blooms", 0, BLOOMS_SCHEMA)
    assert sorted(map(tuple, seen.prefilter.collect())) == rows
    assert verdicts() == (false_neg, false_pos)

    seen.bloom_min_keys = 1
    out = seen.filter_new(seen.keys.unionByName(fresh), n_seen=20_000)
    assert len(out.collect()) == 50_000
    plan = explain_str(out)  # the executed (final adaptive) plan
    assert "isFinalPlan=true" in plan and "__word" in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan


def test_seen_filter_new_bloom_and_exact_paths(spark):
    from siteone_crawler_spark.operators.seen import SeenSet

    seen = SeenSet(spark, n_buckets=4)
    seen.bloom_min_keys = 1  # force the bloom path
    keys = spark.createDataFrame(
        [(f"{i:032x}",) for i in range(200)], "url_key string"
    )
    seen._keys = keys
    seen.absorb(keys)

    cands = spark.createDataFrame(
        [(f"{i:032x}",) for i in range(150, 300)], "url_key string"
    )
    # bloom path
    got = {r["url_key"] for r in seen.filter_new(cands, n_seen=200).collect()}
    expected = {f"{i:032x}" for i in range(200, 300)}
    assert got == expected
    # exact broadcast path
    seen.bloom_min_keys = 10**9
    got2 = {r["url_key"] for r in seen.filter_new(cands, n_seen=200).collect()}
    assert got2 == expected


def test_with_global_seq_big_path(spark):
    """Force the two-pass (range-shuffle) path and check rank correctness and
    determinism across parallelism levels."""
    from siteone_crawler_spark.operators.ordering import with_global_seq

    df = spark.range(10_000).select(
        (F.col("id") % 100).alias("parent_seq"), (F.col("id") / 100).cast("int").alias("offset")
    )
    ranked, n = with_global_seq(
        df, ["parent_seq", "offset"], seq_col="seq", start=7, small_threshold=0,
        num_partitions=16,
    )
    rows = ranked.orderBy("seq").collect()
    assert n == 10_000
    assert rows[0]["seq"] == 7 and rows[-1]["seq"] == 7 + 9999
    keys = [(r["parent_seq"], r["offset"]) for r in rows]
    assert keys == sorted(keys)
    # different partition count -> identical assignment
    ranked2, _ = with_global_seq(
        df, ["parent_seq", "offset"], seq_col="seq", start=7, small_threshold=0,
        num_partitions=3,
    )
    a = sorted(map(tuple, ranked.collect()))
    b = sorted(map(tuple, ranked2.collect()))
    assert a == b


def test_with_global_seq_big_path_pure_catalyst(spark):
    """r6: seq assignment on the two-pass path is pure Catalyst (offset
    array + monotonically_increasing_id) — no Python boundary in the plan,
    and empty partitions in the range shuffle do not shift the numbering."""
    from siteone_crawler_spark.operators.ordering import with_global_seq

    df = spark.range(500).select(
        F.lit(0).alias("parent_seq"), F.col("id").cast("int").alias("offset")
    )
    # more partitions than distinct range bounds -> some partitions empty
    ranked, n = with_global_seq(
        df, ["parent_seq", "offset"], seq_col="seq", start=0, small_threshold=0,
        num_partitions=64,
    )
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan and "MapInPandas" not in plan
    rows = ranked.orderBy("seq").collect()
    assert n == 500
    assert [r["seq"] for r in rows] == list(range(500))
    assert [r["offset"] for r in rows] == list(range(500))
