"""Deterministic sampling operators for training-data pipelines.

At 100-TB scale a training pipeline rarely consumes everything: it takes
content-addressed samples (reproducible across reruns, engines and input
re-partitionings — unlike rand(), the same row always lands on the same side
of the cut) and per-stratum caps (domain / language balancing). Both are
pure native Catalyst:

  - hash_sample: filter on a 4-hex-char prefix of md5(key || salt) — a
    scan-side predicate (no shuffle, no RNG state, no driver involvement);
    rate resolution 1/65536. Lowercase-hex string comparison is
    lexicographically identical to the numeric comparison, so the same
    predicate is expressible in any engine with md5() (the DuckDB oracle
    uses the literal same SQL).
  - stratified_sample: top-N per stratum in md5 order. Spark's
    WindowGroupLimit rewrite (physical plan) turns the rank <= N filter
    into a per-partition partial top-N BEFORE the exchange, so the shuffle
    carries at most N rows per stratum per map partition, not the whole
    table — the property that makes a per-domain cap viable at 10^11 rows.

The reference crawler has no sampling surface (crawl-everything semantics);
this module is part of the training-data superset the north rule asks for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sample_threshold_hex(rate: float) -> str:
    """4-hex-char threshold t: P(substr(md5(k),1,4) < t) = floor(rate*65536)/65536.

    rate >= 1.0 returns "g": every hex digit sorts below 'g', so the
    comparison stays a fixed-width string compare (formatting 65536 as hex
    would yield the 5-char '10000', which sorts BELOW 'ffff')."""
    b = max(0, min(65536, int(rate * 65536)))
    if b >= 65536:
        return "g"
    return format(b, "04x")


def hash_sample(df: DataFrame, key: str, rate: float, salt: str = "") -> DataFrame:
    """Deterministic content-addressed sample: keep rows whose
    md5(key||salt) hex prefix falls below the rate threshold. Changing
    `salt` draws an independent sample; the same (key, salt) always makes
    the same decision, so incremental reruns are stable."""
    thr = sample_threshold_hex(rate)
    h = F.substring(
        F.md5(F.concat(F.col(key).cast("string"), F.lit(salt))), 1, 4
    )
    return df.filter(h < F.lit(thr))


def stratified_sample(
    df: DataFrame, strata: str, key: str, n_per_stratum: int
) -> DataFrame:
    """Keep at most n_per_stratum rows per stratum, chosen in md5(key)
    order (a deterministic uniform shuffle within each stratum; `key`
    string as tiebreak makes the order total). Adds a bigint `rn` column
    (1-based rank within the stratum)."""
    ord_key = F.md5(F.col(key).cast("string"))
    w = Window.partitionBy(strata).orderBy(ord_key, F.col(key).cast("string"))
    return (
        df.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= n_per_stratum)
    )


def temperature_sample(
    df: DataFrame,
    strata: str,
    key: str,
    alpha: float = 0.5,
    target_fraction: float = 0.25,
    salt: str = "",
) -> DataFrame:
    """Temperature-scaled domain mixing: per-stratum deterministic sampling
    with keep-rate r_s ∝ n_s^(alpha-1), normalized so the expected output
    is target_fraction of the input. alpha=1 reproduces uniform sampling;
    alpha<1 flattens the mix (upweights small domains relative to big ones
    — the standard multi-source pretraining recipe); alpha=0 aims at equal
    rows per stratum. Rates are capped at 1 (small strata saturate instead
    of oversampling, so the realized total can undershoot the target when
    the cap binds).

    Fully declarative: stratum counts are one hash aggregate, rates join
    back via a broadcast (strata cardinality is domain-sized), and the
    keep decision is the same content-addressed md5-threshold as
    hash_sample — scan-side, reproducible across engines, reruns and
    repartitionings. The 8-hex-char threshold is materialized as a
    lowercase hex STRING so the comparison is engine-portable (lowercase
    hex order == numeric order), with 1/2^32 rate resolution.
    """
    counts = df.groupBy(strata).agg(F.count("*").alias("__n"))
    # corpus totals via an unpartitioned window OVER THE COUNTS TABLE —
    # that table has one row per stratum (domain-scale, tiny), so the
    # single-partition window is harmless; the raw rows never see it
    w = Window.partitionBy()
    rates = counts.select(
        F.col(strata),
        F.least(
            F.lit(target_fraction)
            * F.sum("__n").over(w)
            / F.sum(F.pow("__n", F.lit(alpha))).over(w)
            * F.pow(F.col("__n"), F.lit(alpha - 1.0)),
            F.lit(1.0),
        ).alias("__rate"),
    )
    thr = F.lpad(
        F.lower(
            F.hex(
                F.least(
                    F.floor(F.col("__rate") * F.lit(4294967296.0)),
                    F.lit(4294967295),
                ).cast("bigint")
            )
        ),
        8,
        "0",
    )
    rates = rates.select(F.col(strata), thr.alias("__thr"))
    h = F.substring(
        F.md5(F.concat(F.col(key).cast("string"), F.lit(salt))), 1, 8
    )
    return (
        df.join(F.broadcast(rates), strata)
        .filter(h < F.col("__thr"))
        .drop("__thr")
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shards: int = 1024,
    shard_col=None,
) -> DataFrame:
    """GPT-style concat-then-chunk packing layout: documents are
    deterministically sharded, ordered within each shard by md5(id) (a
    stable uniform shuffle), virtually concatenated, and chunked into
    fixed seq_len windows. Returns per-doc placement:

      (id_col, shard, n_tokens, start_tok, pack_id)

    where start_tok is the document's offset in its shard's token stream
    and pack_id = floor(start_tok / seq_len) — the training example the
    document STARTS in (documents may straddle pack boundaries, exactly
    as concat-and-chunk training consumes them).

    Scale shape: the only wide operation is one running-sum window
    PARTITIONED BY SHARD — shard count bounds every partition (pick
    n_shards ~ total_tokens / (executor-memory-sized stream)), so no
    global sort and no single-partition window ever materializes. This is
    the deterministic, rerun-stable alternative to driver-side greedy
    packing.
    """
    from siteone_crawler_spark.functions.text import token_count

    shard = (
        shard_col
        if shard_col is not None
        else F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_shards))
    )
    d = df.select(
        F.col(id_col),
        shard.cast("bigint").alias("shard"),
        token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
        F.md5(F.col(id_col).cast("string")).alias("__ord"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("__ord"), F.col(id_col).cast("string"))
    )
    return (
        d.withColumn("__cum", F.sum("n_tokens").over(w))
        .select(
            id_col,
            "shard",
            "n_tokens",
            (F.col("__cum") - F.col("n_tokens")).alias("start_tok"),
            F.floor((F.col("__cum") - F.col("n_tokens")) / seq_len).alias("pack_id"),
        )
    )


def split_assign(
    df: DataFrame,
    key: str,
    splits: dict[str, float] | None = None,
    salt: str = "",
    col_name: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: one `split` label per row,
    content-addressed like hash_sample — md5(key||salt) hex prefix against
    the cumulative fraction thresholds, so the SAME row lands in the SAME
    split across reruns, engines and repartitionings, and the splits are
    disjoint/exhaustive by construction. A scan-side projection: no
    shuffle, no RNG state, no driver involvement.

    `splits` maps label -> fraction (resolution 1/65536, like
    sample_threshold_hex); fractions must sum to <= 1.0 and the remainder
    falls into the FIRST label (the conventional "train gets the rest").
    Default 98/1/1 train/val/test. Label assignment order is the dict
    order, so callers control which boundaries move when fractions change
    (append new splits at the end to keep old assignments stable)."""
    if splits is None:
        splits = {"train": 0.98, "val": 0.01, "test": 0.01}
    if sum(splits.values()) > 1.0 + 1e-9:
        raise ValueError("split fractions must sum to <= 1.0")
    h = F.substring(
        F.md5(F.concat(F.col(key).cast("string"), F.lit(salt))), 1, 4
    )
    labels = list(splits)
    # cumulative upper bounds, skipping the first label (it absorbs the
    # remainder: anything not claimed by a later threshold)
    cum = 0.0
    expr = F.lit(labels[0])
    bounds = []
    for lab in labels[1:]:
        cum += splits[lab]
        bounds.append((lab, sample_threshold_hex(cum)))
    # evaluate in reverse: the smallest threshold wins the lowest hashes
    for lab, thr in reversed(bounds):
        expr = F.when(h < F.lit(thr), F.lit(lab)).otherwise(expr)
    return df.withColumn(col_name, expr)

