"""Dedup family + similarity search + text kernels over deterministic data."""

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The quick brown fox jumps over the lazy dog!!!"),  # exact dup after norm
        (3, "the quick brown fox jumps over a lazy dog today"),  # near dup
        (4, "completely different content about spark dataframes and shuffles"),
        (5, "shuffles and dataframes spark about content different completely"),  # permutation of 4
        (6, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    from siteone_crawler_spark.operators.dedup import exact_duplicates

    groups = {r["keeper"]: r for r in exact_duplicates(docs).collect()}
    dup_group = [r for r in groups.values() if r["n_docs"] > 1]
    assert len(dup_group) == 1
    assert dup_group[0]["doc_ids"] == [1, 2]

    # mega-group preview cap: doc_ids bounded, n_docs/keeper stay exact
    capped = {r["keeper"]: r for r in exact_duplicates(docs, max_ids=1).collect()}
    assert capped[1]["n_docs"] == 2 and capped[1]["doc_ids"] == [1]


def test_minhash_near_duplicates(docs):
    from siteone_crawler_spark.operators.dedup import (
        minhash_candidate_pairs,
        near_duplicates_minhash,
    )

    cand = minhash_candidate_pairs(docs, num_hashes=16, bands=8, shingle_n=2)
    cand_pairs = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    assert (1, 2) in cand_pairs  # identical after normalization

    near = near_duplicates_minhash(docs, threshold=0.5, num_hashes=16, bands=8, shingle_n=2)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in near.collect()}
    assert got.get((1, 2)) == 1.0
    # near-dup (1,3) shares most 2-shingles
    if (1, 3) in got:
        assert got[(1, 3)] >= 0.5


def test_minhash_deterministic(docs):
    from siteone_crawler_spark.operators.dedup import minhash_signatures

    a = sorted(map(tuple, minhash_signatures(docs, num_hashes=8, shingle_n=2).collect()))
    b = sorted(map(tuple, minhash_signatures(docs, num_hashes=8, shingle_n=2).collect()))
    assert a == b and len(a) > 0


def test_simhash(docs):
    from siteone_crawler_spark.operators.dedup import simhash64, simhash_near_pairs

    # the default md5 kernel is pure Catalyst too: no Python stage in the plan
    plan = simhash64(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan

    fp = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    assert fp[1] == fp[2]  # same tokens after normalization
    ham_13 = bin((fp[1] ^ fp[3]) & (2**64 - 1)).count("1")
    ham_14 = bin((fp[1] ^ fp[4]) & (2**64 - 1)).count("1")
    assert ham_13 < ham_14  # near-dup closer than unrelated

    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_near_pairs(docs, max_hamming=16).collect()}
    assert pairs.get((1, 2)) == 0
    # 4 vs 5: same word multiset -> identical simhash (order-insensitive)
    assert pairs.get((4, 5)) == 0


def test_simhash_native_kernel(docs):
    """native=True (xxhash64, pure Catalyst): no Python stage in the plan,
    and the near-dup PAIRS agree with the md5 oracle kernel on the fixture
    corpus (fingerprints differ — the hash functions differ — but real
    near-dups land within max_hamming under both)."""
    from siteone_crawler_spark.operators.dedup import simhash64, simhash_near_pairs

    plan = simhash64(docs, native=True)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan

    fp = {r["doc_id"]: r["simhash"] for r in simhash64(docs, native=True).collect()}
    assert fp[1] == fp[2]  # same tokens after normalization
    assert fp[4] == fp[5]  # same word multiset (order-insensitive)

    md5_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_pairs(docs, max_hamming=16).collect()
    }
    native_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_pairs(docs, max_hamming=16, native=True).collect()
    }
    assert md5_pairs == native_pairs


def test_cdc_chunk_dedup(spark):
    """Content-defined chunking: shared content yields shared chunk hashes
    at ANY offset (the CDC property a fixed-size chunker lacks)."""
    from siteone_crawler_spark.operators.dedup import cdc_chunks, cdc_near_duplicates

    base = "the quick brown fox jumps over the lazy dog and runs far away " * 8
    rows = [
        (1, base),
        (2, "PREFIX SHIFTS EVERYTHING " + base),  # same content, new offset
        (3, "totally different text about spark execution plans " * 9),
        (4, base[: len(base) // 2]),  # half of doc 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    ch = cdc_chunks(docs)
    per_doc = {
        r["doc_id"]: r["cnt"]
        for r in ch.groupBy("doc_id").agg(F.sum("n").alias("cnt")).collect()
    }
    assert all(per_doc[d] >= 2 for d in (1, 2, 3))  # multi-chunk docs

    pairs = {
        (r["doc_a"], r["doc_b"]): r["overlap"]
        for r in cdc_near_duplicates(docs, threshold=0.3).collect()
    }
    assert pairs.get((1, 2), 0) > 0.7  # offset-shifted copy still matches
    assert pairs.get((1, 4), 0) > 0.5  # containment: half-doc vs full doc
    assert (1, 3) not in pairs and (2, 3) not in pairs

    # determinism
    a = sorted(map(tuple, ch.collect()))
    b = sorted(map(tuple, cdc_chunks(docs).collect()))
    assert a == b

    # boilerplate guard: a chunk in every doc is dropped from pairing
    many = spark.createDataFrame(
        [(i, "shared boilerplate sentence everywhere " * 4) for i in range(8)],
        "doc_id long, text string",
    )
    assert cdc_near_duplicates(many, threshold=0.1, max_chunk_freq=3).count() == 0


def test_bucket_count_guard(spark, docs):
    """max_bucket drops over-full LSH buckets (the within-bucket quadratic
    guard) without touching pairs from small buckets."""
    from siteone_crawler_spark.operators.dedup import simhash_near_pairs
    from siteone_crawler_spark.operators.similarity import embedding_near_dup_pairs

    # mega-cluster: 12 identical docs share every sub-band bucket
    mega = spark.createDataFrame(
        [(100 + i, "same same same tokens everywhere") for i in range(12)],
        "doc_id long, text string",
    )
    both = docs.unionByName(mega)
    uncapped = simhash_near_pairs(both, max_hamming=16, max_bucket=None).collect()
    capped = simhash_near_pairs(both, max_hamming=16, max_bucket=10).collect()
    mega_pairs = {(r["doc_a"], r["doc_b"]) for r in capped if r["doc_a"] >= 100}
    assert mega_pairs == set()  # the 12-doc cluster's buckets exceed the cap
    small = {(r["doc_a"], r["doc_b"]) for r in capped if r["doc_b"] < 100}
    small_unc = {(r["doc_a"], r["doc_b"]) for r in uncapped if r["doc_b"] < 100}
    assert small == small_unc and (1, 2) in small

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(1, 9)] + [(9, [0.0, 1.0, 0.0, 0.0]), (10, [0.001, 1.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.9, n_planes=4, max_bucket=4).collect()
    }
    assert all(a >= 9 for a, _ in capped)  # 8-member bucket dropped
    assert (9, 10) in capped  # 2-member bucket kept


def test_minhash_bucket_guard(spark, docs):
    """Boilerplate corpus: identical shingle sets -> identical band keys ->
    one mega band bucket. max_bucket prunes it before the quadratic
    self-join; small buckets (real near-dups) are untouched."""
    from siteone_crawler_spark.operators.dedup import (
        minhash_candidate_pairs,
        near_duplicates_minhash,
    )

    mega = spark.createDataFrame(
        [(100 + i, "same boilerplate error page text everywhere always") for i in range(12)],
        "doc_id long, text string",
    )
    both = docs.unionByName(mega)
    kw = dict(num_hashes=16, bands=8, shingle_n=2)
    uncapped = minhash_candidate_pairs(both, max_bucket=None, **kw).collect()
    capped = minhash_candidate_pairs(both, max_bucket=10, **kw).collect()
    # uncapped, the 12-doc cluster pairs quadratically: C(12,2) = 66 pairs
    assert len({(r["doc_a"], r["doc_b"]) for r in uncapped if r["doc_a"] >= 100}) == 66
    assert {(r["doc_a"], r["doc_b"]) for r in capped if r["doc_a"] >= 100} == set()
    # pairs among the small-bucket docs are identical with and without the cap
    small_c = {(r["doc_a"], r["doc_b"]) for r in capped if r["doc_b"] < 100}
    small_u = {(r["doc_a"], r["doc_b"]) for r in uncapped if r["doc_b"] < 100}
    assert small_c == small_u and (1, 2) in small_c

    # the full pipeline forwards the cap
    assert (
        near_duplicates_minhash(both, threshold=0.5, max_bucket=10, **kw)
        .filter(F.col("doc_a") >= 100)
        .count()
        == 0
    )


def test_cosine_topk(spark):
    from siteone_crawler_spark.operators.similarity import cosine_topk, srp_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qrow = emb.filter(F.col("vec_id") == 0).first()
    q = [float(x) for x in qrow["embedding"]]

    top = cosine_topk(emb, q, k=5).collect()
    assert top[0]["vec_id"] == 0 and abs(top[0]["cos"] - 1.0) < 1e-6
    cos_vals = [r["cos"] for r in top]
    assert cos_vals == sorted(cos_vals, reverse=True)

    # SRP approximate search must contain the exact top-1 (the query itself —
    # same bucket by construction); recall beyond that is approximate
    approx = srp_topk(emb, q, k=5, n_planes=4, multiprobe_hamming=1).collect()
    assert approx[0]["vec_id"] == 0
    assert all(r["cos"] <= top[0]["cos"] + 1e-9 for r in approx)
    overlap = {r["vec_id"] for r in approx} & {r["vec_id"] for r in top}
    assert len(overlap) >= 1


def test_ivf_topk(spark):
    from siteone_crawler_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_topk,
        kmeans_refine,
        pivot_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qrow = emb.filter(F.col("vec_id") == 0).first()
    q = [float(x) for x in qrow["embedding"]]

    exact = cosine_topk(emb, q, k=5).collect()
    approx = ivf_topk(emb, q, k=5, n_centroids=8, nprobe=2).collect()
    # the query vector's own list is always probed -> top-1 is exact
    assert approx[0]["vec_id"] == 0 and abs(approx[0]["cos"] - 1.0) < 1e-6
    assert all(r["cos"] <= exact[0]["cos"] + 1e-9 for r in approx)
    got = [r["cos"] for r in approx]
    assert got == sorted(got, reverse=True)

    # full probe (nprobe = k centroids) degenerates to the exact scan
    cents = pivot_centroids(emb, k=4)
    full = ivf_topk(emb, q, k=5, nprobe=4, centroids=cents).collect()
    assert [(r["vec_id"], r["cos"]) for r in full] == [
        (r["vec_id"], r["cos"]) for r in exact
    ]

    # every row lands in exactly one bucket; refinement keeps k centroids
    assigned = ivf_assign(emb, cents)
    n_bkts = assigned.select("ivf_bucket").distinct().count()
    assert 1 <= n_bkts <= 4 and assigned.count() == emb.count()
    refined = kmeans_refine(emb.limit(50), cents, iters=2)
    assert len(refined) == 4 and all(len(c) == len(cents[0]) for c in refined)


def test_embedding_near_dup(spark):
    from siteone_crawler_spark.operators.similarity import embedding_near_dup_pairs

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # near dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]) for r in embedding_near_dup_pairs(emb, threshold=0.99, n_planes=4).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_text_kernels(spark):
    from siteone_crawler_spark.functions import text as X

    df = spark.createDataFrame(
        [("The quick brown fox, and the lazy dog!",), ("el la de y que en los se",), ("",)],
        "t string",
    )
    out = df.select(
        X.token_count(F.col("t")).alias("n"),
        X.lang_guess(F.col("t")).alias("lang"),
        X.fingerprint(F.col("t")).alias("fp"),
        X.quality_score(F.col("t")).alias("q"),
        X.punct_ratio(F.col("t")).alias("pr"),
    ).collect()
    assert out[0]["n"] == 8
    assert out[0]["lang"] == "en"
    assert out[1]["lang"] == "es"
    assert out[2]["lang"] == "und"
    assert 0.0 <= out[0]["q"] <= 1.0
    assert out[0]["pr"] > 0

    # fingerprint is case/punct-insensitive
    df2 = spark.createDataFrame(
        [("Hello World",), ("hello,   world!",)], "t string"
    ).select(X.fingerprint(F.col("t")).alias("fp"))
    fps = [r["fp"] for r in df2.collect()]
    assert fps[0] == fps[1]


def test_word_shingles(spark):
    from siteone_crawler_spark.functions.text import word_shingles

    df = spark.createDataFrame([("a b c d",), ("a b",), ("",)], "t string")
    got = df.select(word_shingles(F.col("t"), 3).alias("s")).collect()
    assert got[0]["s"] == ["a b c", "b c d"]
    assert got[1]["s"] == []
    assert got[2]["s"] == []


def test_multimodal_plumbing(spark):
    from siteone_crawler_spark.operators.multimodal import (
        extract_features,
        frame_sample_plan,
        media_repartition,
        synth_media_df,
    )

    media = synth_media_df(spark, n=30)
    feats = extract_features(media, fake=True).collect()
    assert len(feats) == 30
    assert all(len(r["feat"]) == 8 and r["ok"] for r in feats)
    # deterministic
    feats2 = extract_features(media, fake=True).collect()
    assert sorted(r["media_id"] for r in feats) == sorted(r["media_id"] for r in feats2)

    # real decode path is honestly stubbed
    import pytest as _pt
    with _pt.raises(Exception, match="NotImplementedError|codecs"):
        extract_features(media, fake=False).collect()

    rep = media_repartition(media, target_bytes=1024)
    assert rep.count() == 30

    plan = frame_sample_plan(media, every_ms=500)
    assert plan.count() > 0
    assert plan.columns == ["media_id", "frame_ts"]

    from siteone_crawler_spark.operators.multimodal import resize_images

    rz = resize_images(media, width=32, height=16, fake=True).collect()
    assert len(rz) == 30
    imgs = [r for r in rz if r["kind"] == "image"]
    other = [r for r in rz if r["kind"] != "image"]
    assert imgs and all(r["ok"] and len(r["payload"]) == 32 * 16 // 64 for r in imgs)
    assert all((not r["ok"]) and r["payload"] is None for r in other)
    # deterministic stand-in payloads
    rz2 = resize_images(media, width=32, height=16, fake=True).collect()
    assert sorted((r["media_id"], bytes(r["payload"] or b"")) for r in rz) == sorted(
        (r["media_id"], bytes(r["payload"] or b"")) for r in rz2
    )
    with _pt.raises(Exception, match="NotImplementedError|codecs"):
        resize_images(media, fake=False).collect()


def test_subword_token_count(spark):
    from siteone_crawler_spark.functions.text import subword_token_count

    rows = [
        (1, "hello world"),            # 2 pretokens, 'hello'(5)->+1, 'world'(5)->+1
        (2, "don't stop"),             # don | 't | stop -> 3, no extras
        (3, "internationalization"),   # 1 pretoken, 20 chars -> +4 extras
        (4, ""),                       # empty
        (5, "a b c 12345"),            # a,b,c,12345 -> 4 + 12345(5)->+1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n"]
        for r in df.select("doc_id", subword_token_count(F.col("text")).alias("n")).collect()
    }
    assert got == {1: 4, 2: 3, 3: 5, 4: 0, 5: 5}


def test_stored_ann_index(spark, tmp_path):
    """The stored index must return the same results as the inline bucketed
    search AND prune partitions (read only the probed bucket dirs)."""
    from siteone_crawler_spark.operators.similarity import (
        ann_topk_indexed,
        build_ann_index,
        ivf_topk,
        srp_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]

    srp_path = str(tmp_path / "srp_idx")
    meta = build_ann_index(emb, srp_path, method="srp", n_planes=6)
    got = ann_topk_indexed(spark, srp_path, meta, q, k=10, multiprobe_hamming=1)
    want = srp_topk(emb, q, k=10, n_planes=6, multiprobe_hamming=1)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    # partition pruning visible in the plan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan

    ivf_path = str(tmp_path / "ivf_idx")
    meta2 = build_ann_index(emb, ivf_path, method="ivf", n_centroids=8)
    got2 = ann_topk_indexed(spark, ivf_path, meta2, q, k=10, nprobe=2)
    want2 = ivf_topk(emb, q, k=10, n_centroids=8, nprobe=2)
    assert [tuple(r) for r in got2.collect()] == [tuple(r) for r in want2.collect()]


def test_ann_recall_floor(spark):
    """Recall@10 of the bucketed searches vs the exact scan on the fixture
    embeddings — deterministic data + deterministic methods give a fixed
    recall; the floor catches bucketing regressions (a broken bucket hash
    would crater recall to ~0)."""
    from siteone_crawler_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        srp_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = [r["embedding"] for r in emb.filter(F.col("vec_id") < 5).collect()]
    srp_hits = ivf_hits = 0
    for qv in queries:
        qv = [float(x) for x in qv]
        exact = {r["vec_id"] for r in cosine_topk(emb, qv, k=10).collect()}
        srp = {r["vec_id"] for r in srp_topk(emb, qv, k=10, n_planes=6, multiprobe_hamming=2).collect()}
        ivf = {r["vec_id"] for r in ivf_topk(emb, qv, k=10, n_centroids=8, nprobe=4).collect()}
        srp_hits += len(exact & srp)
        ivf_hits += len(exact & ivf)
    # 50 relevant results across 5 queries; generous multiprobe/nprobe
    assert srp_hits / 50 >= 0.3, srp_hits
    assert ivf_hits / 50 >= 0.4, ivf_hits


def test_repeated_window_stats(spark):
    """Exact repeated-window detection: planted cross-doc and within-doc
    repeats are counted; unique text reports zero."""
    from siteone_crawler_spark.operators.dedup import repeated_window_stats

    sent = "alpha beta gamma delta epsilon"
    rows = [
        (1, f"one two three {sent} four five six"),
        (2, f"seven eight nine {sent} ten eleven twelve"),  # shares sent w/ 1
        (3, "unique words only here nothing shared at all today"),
        (4, f"{sent} {sent}"),  # within-doc repeat counts too
        (5, "tiny"),  # fewer tokens than the window -> 0 windows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_windows"], r["n_repeated"])
        for r in repeated_window_stats(df, window=5).collect()
    }
    assert len(got) == 5
    assert got[5] == (0, 0)
    assert got[3][1] == 0  # unique doc: no repeated windows
    assert got[1][1] >= 1 and got[2][1] >= 1  # the shared sentence window
    assert got[4][1] >= 2  # both occurrences of the repeated window count
    # window accounting: n_tokens - window + 1 = 11 - 5 + 1
    assert got[1][0] == 7


def test_quantize_embeddings_bounds(spark):
    from siteone_crawler_spark.operators.similarity import quantize_embeddings

    rows = [
        (1, [0.5, -0.25, 0.125, 0.0]),
        (2, [1.0, 1.0, -1.0, 0.5]),
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero vector: scale floor, codes 0
        (4, [-0.003, 0.009, 0.0001, -0.0077]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert len(got) == 4
    for vid, (_, vec) in zip(sorted(got), sorted(rows)):
        r = got[vid]
        assert all(-127 <= c <= 127 for c in r["codes"])
        # reconstruction bound: |code*scale - v| <= scale/2 (+ rounding slack)
        assert r["max_err"] <= r["scale"] / 2 + 1e-6, (vid, r)
    assert got[3]["codes"] == [0, 0, 0, 0]
    # the max-magnitude component always quantizes to +-127
    assert max(abs(c) for c in got[1]["codes"]) == 127
    assert max(abs(c) for c in got[2]["codes"]) == 127


def test_simhash_swar_chunk_boundaries(spark):
    """r6 SWAR kernel: fold tokens in 127-chunks, widen lanes per chunk.

    Differential check against an explode-side reference that uses the SAME
    Spark xxhash64 values but applies the naive vote rule (bit i set iff
    2*ones_i > n) in Python — on token counts straddling the 127-token
    chunk boundary, plus empty/single-token docs."""
    from siteone_crawler_spark.functions.text import norm_tokens
    from siteone_crawler_spark.operators.dedup import simhash64

    counts = [0, 1, 126, 127, 128, 129, 254, 255, 300]
    rows = [(k, " ".join(f"w{i}x{k}" for i in range(k))) for k in counts]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {r["doc_id"]: r["simhash"] for r in simhash64(docs, native=True).collect()}

    tok_hashes = (
        docs.select("doc_id", F.explode(norm_tokens(F.col("text"))).alias("t"))
        .select("doc_id", F.xxhash64("t").alias("h"))
        .collect()
    )
    by_doc: dict[int, list[int]] = {k: [] for k in counts}
    for r in tok_hashes:
        by_doc[r["doc_id"]].append(r["h"] & (2**64 - 1))
    for k in counts:
        hs = by_doc[k]
        if not hs:
            assert got[k] == 0
            continue
        fp = 0
        for i in range(64):
            ones = sum((h >> i) & 1 for h in hs)
            if 2 * ones > len(hs):
                fp |= 1 << i
        if fp >= 2**63:
            fp -= 2**64  # Spark longs are signed
        assert got[k] == fp, f"doc with {k} tokens: {got[k]} != {fp}"
