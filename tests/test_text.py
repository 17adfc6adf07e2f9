"""Text kernels of functions/text.py that the kept operators and oracle
pairs call: word and subword token counts, and the n-gram repetition
fraction of the `repetition_ratio` pair."""

import pyspark.sql.functions as F

from siteone_crawler_spark.functions.text import ngram_repetition


def test_token_count(spark):
    from siteone_crawler_spark.functions.text import token_count

    df = spark.createDataFrame(
        [("The quick brown fox, and the lazy dog!",), ("el la de y que en los se",), ("",)],
        "t string",
    )
    out = df.select(token_count(F.col("t")).alias("n")).collect()
    assert out[0]["n"] == 8


def test_subword_token_count(spark):
    from siteone_crawler_spark.functions.text import subword_token_count

    rows = [
        (1, "hello world"),            # 2 pretokens, 'hello'(5)->+1, 'world'(5)->+1
        (2, "don't stop"),             # don | 't | stop -> 3, no extras
        (3, "internationalization"),   # 1 pretoken, 20 chars -> +4 extras
        (4, ""),                       # empty
        (5, "a b c 12345"),            # a,b,c,12345 -> 4 + 12345(5)->+1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n"]
        for r in df.select("doc_id", subword_token_count(F.col("text")).alias("n")).collect()
    }
    assert got == {1: 4, 2: 3, 3: 5, 4: 0, 5: 5}


def test_ngram_repetition_values(spark):
    rows = [
        (1, "a b c a b c a b"),  # 6 shingles, 3 distinct -> 0.5
        (2, "x y"),  # < 3 tokens -> 0.0
        (3, "p q r s"),  # 2 shingles, both distinct -> 0.0
        (4, "z z z z z"),  # 3 shingles, 1 distinct -> 2/3
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: r["f"]
        for r in df.select("doc_id", ngram_repetition(F.col("text"), 3).alias("f")).collect()
    }
    assert got[1] == 0.5
    assert got[2] == 0.0
    assert got[3] == 0.0
    assert abs(got[4] - 2 / 3) < 1e-12
