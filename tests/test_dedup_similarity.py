"""Exact duplicate groups (operators/dedup.exact_duplicates)."""

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

