"""Text kernels of functions/text.py that the kept operators and oracle
pairs call."""

import pyspark.sql.functions as F


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
