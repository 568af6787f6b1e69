"""Registered SQL UDFs == the Python functions built from the same SQL
text, case-for-case."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.cleaning import (
    br_number_to_double,
    classify_service,
    empty_to_null,
    extract_year,
    strip_trailing_zeros,
)
from be_analytic_etl_spark.functions.sqludf import SQL_UDFS, install_sql_functions

#: the reference's branch fixtures (FIXTURES.md §3) plus hostile extras
CASES = [
    "1.234,56",
    "1234,56",
    "1.234.56",
    "15.00",
    "15.50",
    "15.5",
    "nd",
    "N/D",
    "-",
    "--",
    "",
    "   ",
    None,
    "1,2",
    "0,00",
    "abc 2021 def",
    "R$ 1.234,56",
    "1.2.3.4",
    ".5",
    "5.",
    "SMP x",
    "foo STFC bar",
]


@pytest.fixture(scope="module")
def cases_df(spark):
    install_sql_functions(spark)
    return spark.createDataFrame([(c,) for c in CASES], "s string").cache()


@pytest.mark.parametrize(
    "udf_name,fn",
    [
        ("br_number_to_double", br_number_to_double),
        ("strip_trailing_zeros", strip_trailing_zeros),
        ("classify_service", classify_service),
        ("extract_year", extract_year),
        ("empty_to_null", empty_to_null),
    ],
)
def test_sql_udf_matches_column_form(spark, cases_df, udf_name, fn):
    both = cases_df.select(
        "s",
        F.expr(f"{udf_name}(s)").alias("udf_form"),
        fn("s").alias("expr_form"),
    )
    bad = both.filter(~F.col("udf_form").eqNullSafe(F.col("expr_form")))
    assert bad.count() == 0, [tuple(r) for r in bad.collect()]


def test_token_count_matches_on_documents(spark):
    from be_analytic_etl_spark.operators.textstats import token_count
    from be_analytic_etl_spark.sources import load_table

    install_sql_functions(spark)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(300)
    both = docs.select(
        F.expr("token_count(text)").alias("udf_form"),
        token_count("text").alias("expr_form"),
    )
    assert both.filter(~F.col("udf_form").eqNullSafe(F.col("expr_form"))).count() == 0


def test_all_udfs_installed_and_callable(spark):
    install_sql_functions(spark)
    # every UDF currently takes one STRING arg; call each with a literal
    row = spark.sql(
        "SELECT " + ", ".join(f"{n}('15.50')" for n in SQL_UDFS)
    ).first()
    assert row is not None
