"""Distributed connected components — near-dup pairs into dedup clusters.

Near-dup detectors produce PAIRS (doc_a, doc_b). Corpus curation needs
CLUSTERS: the transitive closure of the near-dup relation, one canonical
keeper per cluster — pair (A,B) + pair (B,C) must retire both B and C, not
just one of them. At 10^10 documents the closure cannot be driver-side
union-find; this module implements the alternating large-star / small-star
algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
Components in MapReduce and Beyond", ACM SoCC 2014, public) as pure
DataFrame joins and aggregates:

  - large-star: every node's strictly-larger neighbors re-point to the
    minimum of its closed neighborhood;
  - small-star: every node and its smaller neighbors re-point to that
    minimum.

Each round is two hash-shuffles on the node key (a groupBy min + an
equi-join — no collect_list, so a 10^8-degree hub never materializes one
row); the edge set provably converges to a forest of stars rooted at each
component's minimum label in O(log^2 n) rounds (~O(log n) observed). The
driver loop holds only a changed-row count per round; per-round
`localCheckpoint` cuts the lineage so the plan does not grow with
iterations (a cluster deployment would point this at the reliable
checkpoint dir instead — same contract as engine.py's wave state).

Reference parity note: the reference dedups at exact-URL granularity
inside one process (/root/reference/src/engine/crawler.rs seen-map); the
content-level cluster step has no single-node counterpart — it exists
BECAUSE the near-dup operators here emit pair sets too large to close
transitively on one machine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dedup_edges(e: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (a < b), self-loops dropped."""
    return (
        e.select(
            F.least("a", "b").alias("a"),
            F.greatest("a", "b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v > u, m = min of u's closed neighborhood."""
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    m = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
    return (
        sym.filter(F.col("b") > F.col("a"))
        .join(m, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient every edge high->low; each high node and its smaller neighbors
    re-point to the minimum of that oriented neighborhood."""
    ori = e.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
    m = ori.groupBy("a").agg(F.min("b").alias("m"))
    lows = ori.join(m, "a").select(F.col("b").alias("a"), F.col("m").alias("b"))
    highs = m.select(F.col("a"), F.col("m").alias("b"))
    return lows.unionByName(highs)


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 50,
) -> DataFrame:
    """(node, component) for every node that appears in `edges`; component
    is the minimum node id in the connected component.

    Isolated nodes never reach this function (they have no edge) — callers
    wanting total coverage left-join and coalesce to the node's own id,
    which is exactly what `dedup_clusters` does.
    """
    e = _dedup_edges(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iterations):
        e2 = _dedup_edges(_small_star(_large_star(e))).localCheckpoint(eager=True)
        # converged iff the edge set is unchanged (then every edge already
        # points at its component root and both stars are no-ops). Both
        # symmetric differences ride ONE job (union + limit) instead of
        # two sequential count actions — on converged rounds the old form
        # always paid the second job.
        changed = (
            e2.exceptAll(e).unionAll(e.exceptAll(e2)).limit(1).count()
        )
        e = e2
        if not changed:
            break
    # at the fixed point the edge set is a star forest rooted at each
    # component's minimum; canonicalized (a < b) that is (root, member)
    labels = e.select(F.col("b").alias("node"), F.col("a").alias("component")).union(
        e.select(F.col("a").alias("node"), F.col("a").alias("component"))
    )
    return labels.groupBy("node").agg(F.min("component").alias("component"))


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Total clustering: every doc gets (doc_id, component, is_keeper).

    Docs untouched by any pair are singleton clusters of themselves; the
    keeper is the component minimum (deterministic, rerun-stable — the same
    first-wins rule as the frontier's min_by dedup). Downstream: keep
    `is_keeper`, retire the rest — the standard corpus-dedup contract.
    """
    comp = connected_components(pairs, src, dst)
    return (
        docs.select(F.col(id_col).alias("node"))
        .join(comp, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", "node").alias("component"),
            (F.coalesce("component", "node") == F.col("node")).alias("is_keeper"),
        )
    )
