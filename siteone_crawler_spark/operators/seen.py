"""The URL-seen set: exact key scan + a word-blocked Bloom prefilter.

The reference's DashMap keyed by MD5(url) (src/engine/crawler.rs:96-103)
becomes:

  - the exact store is the engine's append-only frontier log (one row per
    enqueued URL), read as a url_key-only projection.
  - the prefilter is a register-blocked Bloom filter (Putze, Sanders &
    Singler, "Cache-, Hash- and Space-Efficient Bloom Filters", WEA 2007)
    held as Spark rows (bucket int, word int, bits long). A key lives in one
    64-bit word: bucket = pmod(xxhash64(key), B), word = pmod(xxhash64(key,
    1), WORDS_PER_BUCKET), and its K bits are 6-bit slices of xxhash64(key,
    2). Building is a groupBy(bucket, word) bit_or; probing is a broadcast
    join on (bucket, word) plus (bits & mask) = mask — native Catalyst, no
    Python anywhere. Candidates that miss are DEFINITELY new and skip the
    exact anti-join; only hits (true dupes + false positives) anti-join the
    exact keys, co-keyed on (key, bucket).
  - with n keys over B * 2048 words, the expected false-positive rate is
    about 6e-5 at 1.2 keys per word (20k keys in 8 buckets), 1e-3 at 3 and
    4e-2 at 8; false positives are safe, they just take the exact path. The
    checkpointed `blooms` table holds at most B * 2048 rows.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

K = 7  # bits set per key, all inside one word
WORDS_PER_BUCKET = (1 << 17) // 64  # 2^17 bits per bucket


def key_bucket(url_key_col, n_buckets: int):
    return F.pmod(F.xxhash64(url_key_col), F.lit(n_buckets)).cast("int")


def _word_and_mask(key: Column) -> tuple[Column, Column]:
    """The key's word within its bucket and the K-bit mask it sets there.
    Hashes are reduced (pmod, & 63) before any arithmetic, so nothing can
    overflow under ANSI mode."""
    word = F.pmod(F.xxhash64(key, F.lit(1)), F.lit(WORDS_PER_BUCKET)).cast("int")
    h = F.xxhash64(key, F.lit(2))
    bits = [
        F.call_function(
            "shiftleft", F.lit(1).cast("long"),
            F.shiftright(h, 6 * i).bitwiseAND(F.lit(63)).cast("int"),
        )
        for i in range(K)
    ]
    return word, reduce(Column.bitwiseOR, bits)


class SeenSet:
    """Exact URL keys + a word-blocked Bloom prefilter.

    `keys` is a url_key-only DataFrame the owner installs (the engine points
    it at a projected scan of the committed frontier log). `prefilter` is
    None until the first `absorb`, then a (bucket, word, bits) DataFrame the
    owner may repoint at a checkpointed copy of itself to cut lineage."""

    # below this many seen keys the prefilter costs more (its build and an
    # extra probe join per wave) than the broadcast anti-join it replaces;
    # sized against the 64MB autoBroadcastJoinThreshold (~32-char md5 keys
    # -> ~5M keys fit a broadcast comfortably)
    bloom_min_keys: int = 5_000_000

    def __init__(self, spark, n_buckets: int = 64):
        self.spark = spark
        self.n_buckets = n_buckets
        self.prefilter: DataFrame | None = None  # bucket, word, bits
        self._keys: DataFrame | None = None  # column: url_key

    @property
    def keys(self) -> DataFrame:
        if self._keys is None:
            self._keys = self.spark.createDataFrame([], "url_key string")
        return self._keys

    def absorb(self, src: DataFrame) -> None:
        """Fold `src`'s url_key column into the prefilter (lazily: the
        union + bit_or aggregate runs when the prefilter is next used)."""
        key = F.col("url_key")
        word, mask = _word_and_mask(key)
        new = src.select(
            key_bucket(key, self.n_buckets).alias("bucket"),
            word.alias("word"),
            mask.alias("bits"),
        )
        if self.prefilter is not None:
            new = self.prefilter.unionByName(new)
        self.prefilter = new.groupBy("bucket", "word").agg(F.bit_or("bits").alias("bits"))

    def maybe_seen(self, candidates: DataFrame) -> DataFrame:
        """`candidates` plus `__bucket` and the prefilter verdict `__maybe`
        (False = definitely new; True = seen or a false positive)."""
        key = F.col("url_key")
        word, mask = _word_and_mask(key)
        words = self.prefilter.select(
            F.col("bucket").alias("__bucket"), F.col("word").alias("__word"),
            F.col("bits").alias("__bits"),
        )
        # the mask is projected below the join so its K hashes run once a row
        hit = F.col("__bits").bitwiseAND(F.col("__mask")) == F.col("__mask")
        return (
            candidates.withColumn("__bucket", key_bucket(key, self.n_buckets))
            .withColumn("__word", word)
            .withColumn("__mask", mask)
            .join(F.broadcast(words), on=["__bucket", "__word"], how="left")
            .withColumn("__maybe", F.coalesce(hit, F.lit(False)))
            .drop("__word", "__mask", "__bits")
        )

    def filter_new(self, candidates: DataFrame, n_seen: int | None = None) -> DataFrame:
        """Return candidates whose url_key is NOT in the seen set.

        Below bloom_min_keys (or before any absorb): one broadcast anti-join.
        Above it, prefilter misses skip the join; only maybe-seen rows
        anti-join the exact keys.
        """
        if n_seen is not None and n_seen == 0:
            return candidates
        if self.prefilter is None or (n_seen is not None and n_seen < self.bloom_min_keys):
            return candidates.join(F.broadcast(self.keys), on=["url_key"], how="left_anti")
        cand = self.maybe_seen(candidates)
        definite_new = cand.filter(~F.col("__maybe"))
        maybe = cand.filter(F.col("__maybe"))
        # exact anti-join only for the maybe slice, co-keyed on (key, bucket)
        # so both sides hash identically in the shuffle; no broadcast hint —
        # AQE broadcasts the key side when its runtime size allows
        bucket = key_bucket(F.col("url_key"), self.n_buckets)
        survivors = maybe.join(
            self.keys.withColumn("__bucket", bucket), on=["url_key", "__bucket"], how="left_anti"
        )
        return definite_new.unionByName(survivors).drop("__bucket", "__maybe")
