"""Embedding pooling — element-wise mean of vectors per group.

The chunk->document aggregation step of an embedding pipeline (public
practice: mean pooling in Sentence-BERT, Reimers & Gurevych 2019,
arXiv:1908.10084 — there over tokens, here over chunk/sub-document
vectors): a document's embedding is the per-dimension mean of its chunks'.

Scale shape: the naive groupBy + collect_list(vector) holds every member
vector of a group in one aggregation buffer — a mega-group OOMs. Instead
EXPLODE to (group, dim_idx, value) with posexplode, aggregate
avg per (group, dim_idx) — map-side combinable, constant memory per key —
then fold the dim-sized result back into an ordered array
(sort_array(collect_list(struct(idx, avg))): bounded by the embedding
dimension, not the group size). Two shuffles, both on keys whose
cardinality we control; per-group state never exceeds dim entries.

The reference has no embedding surface; this is part of the training-data
superset the north rule asks for (composes with operators/chunking.py
upstream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mean_pool(
    vectors: DataFrame,
    group_col: str = "doc_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """(group_col, pooled, n_vectors): per-dimension mean over the group's
    vectors, rounded to `round_dp` (accumulation order differs between
    engines). Ragged inputs are rejected implicitly: a dimension missing
    from some vectors averages over the vectors that HAVE it (standard
    posexplode semantics); feed fixed-dim embeddings for the usual case.
    NULL/empty vectors contribute nothing and don't count in n_vectors."""
    per_dim = (
        vectors.select(
            F.col(group_col).alias("__g"),
            F.col(vec_col).alias("__v"),
        )
        .filter(F.col("__v").isNotNull() & (F.size("__v") > 0))
        .select("__g", F.posexplode("__v").alias("__i", "__x"))
        .groupBy("__g", "__i")
        .agg(
            F.round(F.avg("__x"), round_dp).alias("__m"),
            # every member vector contributes exactly one value per dim,
            # so any dim's count is the group's vector count
            F.count(F.lit(1)).alias("__n"),
        )
    )
    return (
        per_dim.groupBy("__g")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__i", "__m"))),
                lambda s: s["__m"],
            ).alias("pooled"),
            F.max("__n").cast("int").alias("n_vectors"),
        )
        .select(F.col("__g").alias(group_col), "pooled", "n_vectors")
    )
