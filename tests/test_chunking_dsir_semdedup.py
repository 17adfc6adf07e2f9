"""Targeted property tests for chunk_documents (operators/chunking.py) and
dsir_weights (operators/dsir.py). Value parity vs the DuckDB oracles is
certified separately by tests/test_entry_oracle.py."""

from pyspark.sql import functions as F

from siteone_crawler_spark.operators.chunking import chunk_documents
from siteone_crawler_spark.operators.dsir import dsir_weights, word_grams


# ------------------------------------------------------------- chunking
def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_reconstruction_nonoverlapping(spark):
    # stride == chunk_tokens: concatenating chunks in idx order rebuilds
    # the normalized token stream exactly (no token lost or duplicated)
    text = " ".join(f"w{i}" for i in range(23))
    out = chunk_documents(
        _docs(spark, [(1, text)]), chunk_tokens=8, stride=8
    ).orderBy("chunk_idx").collect()
    rebuilt = " ".join(r["chunk_text"] for r in out)
    assert rebuilt == text
    assert [r["chunk_idx"] for r in out] == [0, 1, 2]
    assert [r["n_tokens"] for r in out] == [8, 8, 7]


def test_chunk_overlap_and_tail(spark):
    text = " ".join(f"t{i}" for i in range(10))
    out = chunk_documents(
        _docs(spark, [(1, text)]), chunk_tokens=6, stride=4
    ).orderBy("chunk_idx").collect()
    # starts 0,4,8 -> lengths 6,6,2; overlap of 2 tokens between windows
    assert [r["n_tokens"] for r in out] == [6, 6, 2]
    assert out[0]["chunk_text"].split()[4:] == out[1]["chunk_text"].split()[:2]
    assert out[2]["chunk_text"] == "t8 t9"


def test_chunk_empty_doc_emits_nothing(spark):
    out = chunk_documents(
        _docs(spark, [(1, "   "), (2, ""), (3, "one")]), chunk_tokens=4, stride=4
    ).collect()
    assert {(r["doc_id"], r["chunk_text"]) for r in out} == {(3, "one")}


# ------------------------------------------------------------- DSIR
def test_word_grams_unigrams_then_bigrams(spark):
    row = spark.range(1).select(
        word_grams(F.lit("alpha beta gamma"), 2).alias("g")
    ).first()
    assert row["g"] == [
        "alpha", "beta", "gamma", "alpha beta", "beta gamma"
    ]


def test_dsir_targetlike_docs_score_higher(spark):
    # raw corpus: half written in target vocabulary, half in junk vocabulary;
    # the target-distribution docs must receive strictly higher weights
    tgt_text = "the quick brown fox jumps over the lazy dog"
    junk_text = "zzq xkv wpj qqf zzq xkv wpj qqf zzq"
    raw = _docs(
        spark,
        [(i, tgt_text) for i in range(5)] + [(i + 5, junk_text) for i in range(5)],
    )
    target = _docs(spark, [(100, tgt_text), (101, "quick brown fox dog")])
    w = {r["doc_id"]: r["dsir_weight"] for r in dsir_weights(raw, target).collect()}
    assert min(w[i] for i in range(5)) > max(w[i + 5] for i in range(5))


def test_dsir_empty_doc_weighs_zero(spark):
    raw = _docs(spark, [(1, ""), (2, "hello world")])
    target = _docs(spark, [(9, "hello world hello")])
    w = {r["doc_id"]: r["dsir_weight"] for r in dsir_weights(raw, target).collect()}
    assert w[1] == 0.0 and len(w) == 2
