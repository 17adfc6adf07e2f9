"""The URL-seen set: exact key scan + per-bucket Bloom prefilter.

Scale story (the reference's DashMap keyed by MD5(url),
/root/reference/src/engine/crawler.rs:96-103, becomes):

  - the exact store is the engine's append-only frontier log (one row per
    enqueued URL), read as a url_key-only projection.
  - keys are hash-bucketed on the fly: bucket = pmod(xxhash64(url_key), B);
    each bucket carries a Bloom filter (numpy bitset, k derived hashes from
    the md5 key itself — no extra hashing pass). Candidates that miss the
    Bloom are DEFINITELY new and skip the exact anti-join entirely; only
    Bloom-positive candidates (true dupes + FPR) shuffle into the exact
    anti-join. At 10^10 keys with Zipfian re-link rates, this turns the
    per-wave dedup from "shuffle everything against everything" into
    "broadcast B bitsets + anti-join the small maybe-seen slice".
  - false positives are safe: they just take the exact path. Bit-array size
    is a config knob (`bits_per_bucket`); at 10^10 keys / 4096 buckets,
    ~16 bits/key = ~4.9 GB per bucket would be wrong — you'd size B up so
    each bucket's filter fits executor memory (e.g. B=65536, 2.4M keys and
    ~4.8 MB of bits per bucket). Locally we default small.

Bloom hash scheme: the url_key is already an md5 hex digest; h1/h2 are its
two 64-bit halves and probe i = (h1 + i*h2) mod m — deterministic, vectorized
with numpy inside Arrow batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# key-slice size above which Bloom bitsets are built DISTRIBUTED (per-bucket
# applyInPandas, build_bloom_blobs) instead of a single-threaded driver-pandas
# hash pass (SeenSet.absorb); both builders are pinned byte-identical by
# test_seen_ordering's builder-path test
DRIVER_BLOOM_BUILD_MAX_KEYS = 250_000


def key_bucket(url_key_col, n_buckets: int):
    return F.pmod(F.xxhash64(url_key_col), F.lit(n_buckets)).cast("int")


def _hash_halves(keys: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    h1 = keys.str.slice(0, 16).apply(int, base=16).to_numpy(dtype=np.uint64)
    h2 = keys.str.slice(16, 32).apply(int, base=16).to_numpy(dtype=np.uint64)
    return h1, h2 | np.uint64(1)


def _probe_positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    # (n, k) bit positions
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)


class BloomState:
    """Per-bucket bitsets held as a {bucket: np.ndarray(uint8)} dict.

    Locally the dict is driver-held and broadcast (B is small); the
    serialization format (bucket, bits binary) is what a per-partition
    executor-resident variant would checkpoint too.
    """

    def __init__(self, n_buckets: int, bits_per_bucket: int = 1 << 17, k: int = 7):
        self.n_buckets = n_buckets
        self.m = bits_per_bucket
        self.k = k
        self.bits: dict[int, np.ndarray] = {}

    def add_keys(self, pdf: pd.DataFrame) -> None:
        """pdf columns: url_key, bucket."""
        for b, grp in pdf.groupby("bucket"):
            arr = self.bits.setdefault(int(b), np.zeros(self.m // 8, dtype=np.uint8))
            h1, h2 = _hash_halves(grp["url_key"])
            pos = _probe_positions(h1, h2, self.k, self.m).ravel()
            np.bitwise_or.at(arr, pos // 8, (1 << (pos % 8)).astype(np.uint8))

    def contains(self, pdf: pd.DataFrame) -> np.ndarray:
        """Vectorized maybe-seen test. pdf columns: url_key, bucket."""
        out = np.zeros(len(pdf), dtype=bool)
        if not len(pdf):
            return out
        for b, grp in pdf.groupby("bucket"):
            arr = self.bits.get(int(b))
            if arr is None:
                continue
            h1, h2 = _hash_halves(grp["url_key"])
            pos = _probe_positions(h1, h2, self.k, self.m)
            hit = ((arr[pos // 8] >> (pos % 8).astype(np.uint8)) & 1).all(axis=1)
            out[grp.index.to_numpy()] = hit
        return out

    def merge_blob(self, bucket: int, blob: bytes) -> None:
        arr = self.bits.get(int(bucket))
        incoming = np.frombuffer(blob, dtype=np.uint8)
        if arr is None:
            self.bits[int(bucket)] = incoming.copy()
        else:
            np.bitwise_or(arr, incoming, out=arr)

    def to_rows(self) -> list[tuple[int, bytes]]:
        return [(b, arr.tobytes()) for b, arr in sorted(self.bits.items())]

    @classmethod
    def from_rows(cls, rows, n_buckets: int, bits_per_bucket: int, k: int = 7):
        s = cls(n_buckets, bits_per_bucket, k)
        for b, blob in rows:
            s.bits[int(b)] = np.frombuffer(blob, dtype=np.uint8).copy()
        return s


def build_bloom_blobs(keys_df: DataFrame, m: int, k: int) -> list[tuple[int, bytes]]:
    """Distributed per-bucket Bloom construction: each bucket's keys hash into
    a bitset inside an applyInPandas group (executor-parallel); only the
    B blobs (B x m/8 bytes) come back to the driver for the OR-merge."""

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(pdf["bucket"].iloc[0])
        arr = np.zeros(m // 8, dtype=np.uint8)
        h1, h2 = _hash_halves(pdf["url_key"])
        pos = _probe_positions(h1, h2, k, m).ravel()
        np.bitwise_or.at(arr, pos // 8, (1 << (pos % 8)).astype(np.uint8))
        return pd.DataFrame({"bucket": [b], "bits": [arr.tobytes()]})

    rows = (
        keys_df.groupBy("bucket")
        .applyInPandas(per_bucket, "bucket int, bits binary")
        .collect()
    )
    return [(r["bucket"], r["bits"]) for r in rows]


class SeenSet:
    """Exact URL keys + a per-bucket Bloom prefilter.

    `keys` is a url_key-only DataFrame the owner installs (the engine points
    it at a projected scan of the committed frontier log); bucket ids are
    computed where the Bloom filter needs them, never stored."""

    def __init__(self, spark, n_buckets: int = 64, bits_per_bucket: int = 1 << 17):
        self.spark = spark
        self.n_buckets = n_buckets
        self.prefilter = BloomState(n_buckets, bits_per_bucket)
        self._keys: DataFrame | None = None  # column: url_key

    def absorb(self, src: DataFrame, slice_rows: int) -> None:
        """Fold a url_key slice into the prefilter. Driver build while the
        slice is modest (a single-threaded pandas hash pass is cheaper than a
        Spark stage); distributed per-bucket build above the cutoff — a
        10^10-key seen set must never toPandas through the driver. Shared by
        the engine's per-wave path, external seeding and resume."""
        kb = src.select(
            "url_key", key_bucket(F.col("url_key"), self.n_buckets).alias("bucket")
        )
        if slice_rows < DRIVER_BLOOM_BUILD_MAX_KEYS:
            self.prefilter.add_keys(kb.toPandas())
        else:
            for b, blob in build_bloom_blobs(kb, self.prefilter.m, self.prefilter.k):
                self.prefilter.merge_blob(b, blob)

    def prefilter_rows(self) -> list[tuple[int, bytes]]:
        """(bucket, bits) rows of the checkpointed `blooms` table."""
        return self.prefilter.to_rows()

    def restore_prefilter(self, rows: list[tuple[int, bytes]]) -> None:
        self.prefilter = BloomState.from_rows(
            rows, self.n_buckets, self.prefilter.m, self.prefilter.k
        )

    @property
    def keys(self) -> DataFrame:
        if self._keys is None:
            self._keys = self.spark.createDataFrame([], "url_key string")
        return self._keys

    # below this many seen keys the bloom prefilter costs more (one extra
    # Python stage per wave + the bitset build) than the broadcast anti-join
    # it replaces; sized against the 64MB autoBroadcastJoinThreshold
    # (~32-char md5 keys -> ~5M keys fit a broadcast comfortably)
    bloom_min_keys: int = 5_000_000

    def filter_new(
        self, candidates: DataFrame, key_col: str = "url_key", n_seen: int | None = None
    ) -> DataFrame:
        """Return candidates whose key is NOT in the seen set.

        Below bloom_min_keys: one broadcast anti-join. Above it, Bloom-negative
        rows skip the join; only maybe-seen rows anti-join the exact keys.
        """
        if n_seen is not None and n_seen == 0:
            return candidates
        keys = self.keys.select(F.col("url_key").alias(key_col))
        if n_seen is not None and n_seen < self.bloom_min_keys:
            return candidates.join(F.broadcast(keys), on=[key_col], how="left_anti")
        bc = self.spark.sparkContext.broadcast(
            {
                "rows": self.prefilter_rows(),
                "m": self.prefilter.m,
                "k": self.prefilter.k,
                "B": self.n_buckets,
            }
        )

        @F.pandas_udf("boolean")
        def maybe_seen(keys: pd.Series, buckets: pd.Series) -> pd.Series:
            v = bc.value
            st = BloomState.from_rows(v["rows"], v["B"], v["m"], v["k"])
            pdf = pd.DataFrame({"url_key": keys, "bucket": buckets}).reset_index(drop=True)
            return pd.Series(st.contains(pdf))

        bucket = key_bucket(F.col(key_col), self.n_buckets)
        cand = candidates.withColumn("__bucket", bucket)
        cand = cand.withColumn("__maybe", maybe_seen(F.col(key_col), F.col("__bucket")))
        definite_new = cand.filter(~F.col("__maybe"))
        maybe = cand.filter(F.col("__maybe"))
        # exact anti-join only for the maybe slice, co-keyed on (key, bucket)
        # so both sides hash identically in the shuffle; no broadcast hint —
        # AQE broadcasts the key side when its runtime size allows
        survivors = maybe.join(
            keys.withColumn("__bucket", bucket), on=[key_col, "__bucket"], how="left_anti"
        )
        return definite_new.unionByName(survivors).drop("__bucket", "__maybe")
