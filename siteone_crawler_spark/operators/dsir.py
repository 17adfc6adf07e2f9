"""DSIR — Data Selection with Importance Resampling (hashed n-gram features).

Public method (Xie et al., "Data Selection for Language Models via
Importance Resampling", NeurIPS 2023, arXiv:2302.03169): score every raw
document by how target-like its hashed n-gram distribution is,

    weight(d) = sum over gram instances g in d of
                log p_target(bucket(g)) - log p_raw(bucket(g)),

with Laplace-smoothed bucket probabilities p(b) = (count(b) + alpha) /
(total + alpha * n_buckets). High-weight docs are then kept by top-k or
Gumbel resampling.

Scale shape: ONE pass over the raw corpus builds a per-(doc, bucket)
count table (<= n_buckets rows per doc, lazily checkpointed so its two
consumers share it); corpus bucket totals fold that table, the log-ratio
table is n_buckets rows and is BROADCAST into the per-doc scoring join,
and the final sum-per-doc shuffles bucket counts, not gram instances.
Grams and buckets are pure native expressions (md5 low-32 hashing — the
same engine-portable idiom as the dedup family), so the DuckDB oracle
reproduces every bucket id bit-exactly.

The reference crawler has no data-selection surface; this is part of the
training-data superset the north rule asks for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import norm_tokens


def word_grams(col, max_n: int = 2) -> Column:
    """Array of word unigrams + space-joined higher grams up to max_n, in
    token order (unigrams first, then bigrams, ...).

    The token array is LET-BOUND via a single-element transform: Catalyst's
    subexpression elimination skips higher-order-function subtrees (see
    functions/text.ngram_repetition), so a naive `slice(norm_tokens(col),
    i, n)` inside the per-index lambda re-runs the whole regexp+split
    tokenization for EVERY window position (~token_count times per row —
    measured 18s for a 5k-doc explode at sf0.1, 3s let-bound). Binding tk
    as a lambda variable makes every inner reference a value lookup."""

    def build(tk):
        def window_at(n):
            # factory closure: transform() treats a TWO-param lambda as
            # (element, index) — a `lambda i, n=n:` default would silently
            # receive the element index as n
            return lambda i: F.array_join(F.slice(tk, i, n), " ")

        parts = [tk]
        for n in range(2, max_n + 1):
            idx = F.sequence(
                F.lit(1), F.greatest(F.size(tk) - (n - 1), F.lit(1))
            )
            parts.append(
                F.when(
                    F.size(tk) >= n,
                    F.transform(idx, window_at(n)),
                ).otherwise(F.array().cast("array<string>"))
            )
        out = parts[0]
        for p in parts[1:]:
            out = F.concat(out, p)
        return out

    return F.flatten(F.transform(F.array(norm_tokens(col)), build))


def gram_bucket(gram: Column, n_buckets: int) -> Column:
    """md5-low-32 hash of the gram string, mod n_buckets (nonnegative)."""
    return (
        F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long") % n_buckets
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    alpha: float = 1.0,
    max_n: int = 2,
) -> DataFrame:
    """(id_col, dsir_weight) for every raw doc; weight rounded to 6 dp (the
    per-doc sum's accumulation order differs between engines). Docs with no
    grams weigh 0.0. `target` is any DataFrame with the same text column —
    typically a small curated corpus (sampled: the estimator only needs
    bucket frequencies, so a small sample of the target suffices)."""

    def grams_of(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("__id"),
            F.explode(word_grams(F.col(text_col), max_n)).alias("__g"),
        ).select("__id", gram_bucket(F.col("__g"), n_buckets).alias("b"))

    # Per-(doc, bucket) pre-aggregate with a lazy localCheckpoint barrier:
    # raw_g fed BOTH the corpus bucket counts and the per-doc scoring join,
    # so the whole gram explode ran twice without it. doc_b is ≤ n_buckets
    # rows per doc (vs one row per gram INSTANCE), so the barrier stores —
    # and the broadcast join and final per-doc shuffle move — an
    # order-of-magnitude fewer rows; the corpus counts then fold doc_b
    # instead of re-walking the grams. Per-doc weight becomes
    # sum(n_instances * lr) per bucket, which is the same quantity as the
    # per-instance sum (the 6-dp rounding absorbs the float reassociation,
    # exactly as it already absorbs engine-vs-oracle accumulation order).
    doc_b = (
        grams_of(raw)
        .groupBy("__id", "b")
        .agg(F.count(F.lit(1)).alias("__k"))
        .localCheckpoint(eager=False)
    )
    tgt_g = grams_of(target)
    raw_counts = doc_b.groupBy("b").agg(F.sum("__k").alias("cr"))
    tgt_counts = tgt_g.groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    lb = float(alpha) * n_buckets
    # corpus totals as window sums OVER THE <=n_buckets-row count tables
    # (full-outer so target-only buckets still count toward n_tgt) — NOT
    # as separate .count() actions, which would re-run both gram explodes
    # as two extra corpus passes (measured 52s -> 27s at sf0.1)
    from pyspark.sql.window import Window

    w = Window.partitionBy()
    both = (
        raw_counts.join(tgt_counts, "b", "full_outer")
        .select(
            "b",
            F.coalesce(F.col("cr"), F.lit(0)).alias("cr"),
            F.coalesce(F.col("ct"), F.lit(0)).alias("ct"),
        )
        .select(
            "b", "cr", "ct",
            F.sum("cr").over(w).alias("__nr"),
            F.sum("ct").over(w).alias("__nt"),
        )
    )
    ratio = both.select(
        "b",
        (
            F.log((F.col("ct") + alpha) / (F.col("__nt") + lb))
            - F.log((F.col("cr") + alpha) / (F.col("__nr") + lb))
        ).alias("lr"),
    )
    per_doc = (
        doc_b.join(F.broadcast(ratio), "b")
        .groupBy("__id")
        .agg(F.sum(F.col("__k") * F.col("lr")).alias("__w"))
    )
    return (
        raw.select(F.col(id_col).alias("__id"))
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.round(F.coalesce(F.col("__w"), F.lit(0.0)), 6).alias("dsir_weight"),
        )
    )
