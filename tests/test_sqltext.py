"""Names and literals pasted into Spark SQL text keep their meaning."""

from __future__ import annotations

from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.sqltext import quote_ident, sql_string
from be_analytic_etl_spark.operators.dedup import minhash_signature
from be_analytic_etl_spark.operators.textstats import lang_id, quality_score

NAMES = ["my col.x", "a`b", "2020-01", "GRUPO ECONÔMICO", "select"]


def test_quote_ident_round_trips_through_spark(spark):
    assert quote_ident("my col.x") == "`my col.x`"
    assert quote_ident("a`b") == "`a``b`"
    schema = ", ".join(f"{quote_ident(n)} int" for n in NAMES)
    df = spark.createDataFrame([tuple(range(len(NAMES)))], schema)
    assert df.columns == NAMES
    got = df.selectExpr(*[f"{quote_ident(n)} + 0 AS {quote_ident(n)}" for n in NAMES])
    assert got.columns == NAMES
    assert tuple(got.first()) == tuple(range(len(NAMES)))


def test_sql_string_round_trips_through_spark(spark):
    values = ["it's", "back\\slash", "a\\'b", "%_\\%\\_", "SERVIÇO:", "tab\there"]
    got = spark.range(1).selectExpr(
        *[f"{sql_string(v)} AS c{i}" for i, v in enumerate(values)]
    ).first()
    assert list(got) == values


def test_text_fast_paths_quote_the_column_name(spark):
    """quality_score, lang_id and the portable minhash paste a column NAME
    into SQL text: ``my col.x`` must read as one column, exactly as the
    Column path reads it."""
    df = spark.createDataFrame(
        [("the cat and the dog is in the house of the king",), ("",), (None,)],
        "`my col.x` string",
    )
    col = F.col(quote_ident("my col.x"))
    by_name = df.select(
        quality_score("my col.x", round_to=None),
        lang_id("my col.x"),
        minhash_signature("my col.x", num_hashes=8, portable=True),
    )
    by_column = df.select(
        quality_score(col, round_to=None),
        lang_id(col),
        minhash_signature(col, num_hashes=8, portable=True),
    )
    assert [tuple(r) for r in by_name.collect()] == [tuple(r) for r in by_column.collect()]
