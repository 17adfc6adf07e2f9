"""Deterministic global sequence assignment without a single-partition window.

`Window.orderBy(...)` with no partition key funnels the whole DataFrame
through ONE task — fine at unit-test scale, fatal on a 10^10-row frontier.
This helper assigns a contiguous global rank with the classic two-pass
pattern: range-repartition on the sort keys, sort within partitions, count
rows per partition (tiny driver-side collect, one row per partition), then
add per-partition offsets in pure Catalyst: a literal offset array indexed
by spark_partition_id() plus the row's position from
monotonically_increasing_id(). Wall-clock cost is one range shuffle — the
minimum any global ordering can pay.

Determinism: the sort keys must be a unique compound key (the engine ranks
the frontier by (parent_seq, offset), unique by construction), so the
produced sequence is independent of partition boundaries and parallelism
level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def with_global_seq(
    df: DataFrame,
    order_keys: list[str],
    seq_col: str = "seq",
    start: int = 0,
    num_partitions: int | None = None,
    small_threshold: int = 100_000,
    cache_registry: list | None = None,
    size_hint: int | None = None,
) -> tuple[DataFrame, int]:
    """Add `seq_col` = start + 0-based global rank by `order_keys`.
    Returns (ranked_df, row_count) — the count is a byproduct of the
    materialization and callers need it, so don't pay for it twice.

    Small inputs (≤ small_threshold rows) take the one-task window path —
    cheaper than a range shuffle when everything fits one partition anyway;
    big inputs take the scalable two-pass path. A caller that already knows
    the input is big passes `size_hint` (any upper-bound estimate >
    small_threshold) to skip the sizing count() — that removes one full
    pass over the input; the exact count then falls out of the
    per-partition count collect."""
    from pyspark.sql import Window as W

    spark = df.sparkSession
    n_rows: int | None = None
    if size_hint is None or size_hint <= small_threshold:
        df.persist(StorageLevel.MEMORY_AND_DISK)
        if cache_registry is not None:
            cache_registry.append(df)
        n_rows = df.count()
        if n_rows <= small_threshold:
            w = W.orderBy(*order_keys)
            return (
                df.withColumn(seq_col, (F.row_number().over(w) - 1 + start).cast("long")),
                n_rows,
            )
    n_part = num_partitions or spark.sparkContext.defaultParallelism
    if n_rows is None:
        # executing the range exchange runs the upstream TWICE — once for
        # the range-bound sampling job inside the exchange, once for the
        # shuffle itself. When the caller skipped the sizing count (big
        # size_hint), persist the input so the sampling pass materializes
        # it and the shuffle reads the cache instead of recomputing the
        # whole upstream (for the frontier this is the seen anti-join +
        # min_by dedup aggregate — the most expensive part of finalize).
        df.persist(StorageLevel.MEMORY_AND_DISK)
        if cache_registry is not None:
            cache_registry.append(df)
    sorted_df = (
        df.repartitionByRange(n_part, *order_keys)
        .sortWithinPartitions(*order_keys)
        .withColumn("__pid", F.spark_partition_id())
    )
    sorted_df.persist(StorageLevel.MEMORY_AND_DISK)
    if cache_registry is not None:
        cache_registry.append(sorted_df)
    counts = {
        r["__pid"]: r["cnt"]
        for r in sorted_df.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    if n_rows is None:
        n_rows = sum(counts.values())
    max_pid = max(counts, default=-1)
    offsets: list[int] = []
    acc = start
    for pid in range(max_pid + 1):
        offsets.append(acc)
        acc += counts.get(pid, 0)

    # Seq assignment is PURE CATALYST over the cached sorted partitions:
    # monotonically_increasing_id() yields pid * 2^33 + row-within-task in
    # iteration order, so (mid & (2^33-1)) is the row's 0-based position in
    # its sorted partition and the per-partition offset comes from a tiny
    # literal array indexed by spark_partition_id(). This replaces the
    # previous mapInPandas cursor pass — the whole new-frontier slice no
    # longer crosses the JVM->Arrow->pandas boundary just to number rows
    # (guide §4: eliminate the Python boundary). Determinism is unchanged
    # and rests on the same two facts as before: order_keys are a unique
    # compound key (within-partition sort order is total) and the
    # partitions are the persisted ones the offsets were counted on.
    mid = F.monotonically_increasing_id()
    arr = F.array(*[F.lit(int(o)) for o in offsets]) if offsets else F.array(F.lit(int(start)))
    seq = (
        F.element_at(arr, F.spark_partition_id() + 1).cast("long")
        + mid.bitwiseAND(F.lit((1 << 33) - 1))
    ).cast("long")
    out = sorted_df.withColumn(seq_col, seq).drop("__pid")
    return out, n_rows
