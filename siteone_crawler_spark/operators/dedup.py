"""Exact content deduplication: md5 of the normalized text, grouped.

The hash uses md5 hex strings so the DuckDB oracle reproduces values exactly;
both engines agree on md5() of the same bytes.

Reference parity note: the reference crawler has no content dedup (its dedup
is URL-keyed only, /root/reference/src/engine/found_urls.rs:29-32); this
module is a training-data superset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint


def exact_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_ids: int = 1000,
) -> DataFrame:
    """Groups of identical normalized content: (fp, n_docs, keeper, doc_ids).
    Only groups with >1 member are duplicates; keeper = min(doc_id).

    `n_docs` and `keeper` are always exact; `doc_ids` is a PREVIEW capped at
    the `max_ids` smallest members — a degenerate corpus (10^8 empty docs)
    collapses to ONE group, and emitting an uncapped 10^8-element array in a
    single output row breaks every downstream consumer (the reference caps
    its per-group URL previews the same way: docs/JSON-OUTPUT.md §5 sample
    tables). The cap bounds the OUTPUT row; the collect_list agg buffer
    itself is still O(group) during the merge — if a corpus is known to
    carry mega-groups, drop doc_ids from the projection entirely (Catalyst
    prunes the collect_list away) and fetch previews per-fp on demand.
    Pass None to disable the cap."""
    ids = F.sort_array(F.collect_list("doc_id"))
    if max_ids is not None:
        ids = F.slice(ids, 1, max_ids)
    return (
        docs.select(F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper"),
            ids.alias("doc_ids"),
        )
    )

