"""SQL scalar UDFs: the cleaning surface for pure-SQL users.

The reference's consumers live in SQL (pgAdmin over Postgres views,
/root/reference/README.md:119-219); this module registers the engine's
scalar cleaning functions as Spark 4 SQL UDFs (``CREATE FUNCTION ...
RETURNS ... RETURN <expr>``) so the same semantics are callable from
``spark.sql`` with no Python in sight:

    SELECT br_number_to_double(valor), strip_trailing_zeros(valor) ...

SQL UDFs are inlined into the plan at analysis time — they optimize and
codegen exactly like ``F.expr`` of the same text (no function-call
boundary, no Python), so this is a naming surface, not a new execution
path. Each body is the one SQL text of its function
(``functions.cleaning``, ``operators.textstats``); tests/test_sqludf.py
checks that the registered UDF and the Python function agree over the
reference's fixture cases and the documents corpus.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from be_analytic_etl_spark.functions.cleaning import (
    br_number_to_double_sql,
    classify_service_sql,
    empty_to_null_sql,
    extract_year_sql,
    strip_trailing_zeros_sql,
)
from be_analytic_etl_spark.operators.textstats import _token_count_sql

#: name -> (argument signature, return type, body SQL referencing the args)
SQL_UDFS: dict[str, tuple[str, str, str]] = {
    "br_number_to_double": ("s STRING", "DOUBLE", br_number_to_double_sql("s")),
    "strip_trailing_zeros": ("s STRING", "STRING", strip_trailing_zeros_sql("s")),
    "classify_service": ("title STRING", "STRING", classify_service_sql("title")),
    "extract_year": ("title STRING", "INT", extract_year_sql("title")),
    "empty_to_null": ("s STRING", "STRING", empty_to_null_sql("s")),
    "token_count": ("s STRING", "INT", _token_count_sql("s")),
}


def install_sql_functions(spark: SparkSession) -> None:
    """Register every SQL UDF as a temporary function (idempotent)."""
    for name, (args, ret, body) in SQL_UDFS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) "
            f"RETURNS {ret} RETURN {body}"
        )
