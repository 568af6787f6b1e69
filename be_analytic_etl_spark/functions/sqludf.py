"""SQL scalar UDFs: the cleaning surface for pure-SQL users.

The reference's consumers live in SQL (pgAdmin over Postgres views,
/root/reference/README.md:119-219); this module registers the engine's
scalar cleaning functions as Spark 4 SQL UDFs (``CREATE FUNCTION ...
RETURNS ... RETURN <expr>``) so the same semantics are callable from
``spark.sql`` with no Python in sight:

    SELECT br_number_to_double(valor), strip_trailing_zeros(valor) ...

SQL UDFs are inlined into the plan at analysis time — they optimize and
codegen exactly like the Column forms (no function-call boundary, no
Python), so this is a naming surface, not a new execution path. Identity
with the Column implementations is pinned by differential tests over the
reference's fixture cases and the documents corpus
(tests/test_sqludf.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from be_analytic_etl_spark.operators.textstats import _tokenize_sqltext


def br_number_to_double_sql(arg: str) -> str:
    """``br_number_to_double`` as SQL text over the SQL expression ``arg``.

    The one text form of the parse: it is the body of the SQL UDF below
    and the month-column parse of ``sources.ingest``. A single-element
    transform(array(x), v -> body) is the expression-level let (see
    functions.let / dedup._portable_minhash_sql): it binds the stripped
    string once instead of inlining the regexp per reference, so ``arg``
    appears once."""
    return (
        f"element_at(transform(array(regexp_replace(trim({arg}), '[^0-9.,]', '')), "
        "stripped -> try_cast("
        "CASE WHEN contains(stripped, ',') "
        "THEN translate(translate(stripped, '.', ''), ',', '.') "
        "WHEN length(stripped) - length(translate(stripped, '.', '')) >= 2 "
        "THEN translate(stripped, '.', '') "
        "ELSE stripped END AS DOUBLE)), 1)"
    )


#: name -> (argument signature, return type, body SQL referencing the args)
SQL_UDFS: dict[str, tuple[str, str, str]] = {
    "br_number_to_double": ("s STRING", "DOUBLE", br_number_to_double_sql("s")),
    "strip_trailing_zeros": (
        "s STRING",
        "STRING",
        r"CASE WHEN s RLIKE '^[0-9]+\\.[0-9]+$' "
        r"THEN regexp_replace(regexp_replace(s, '^([0-9]+)\\.0+$', '$1'), "
        r"'^([0-9]+\\.[0-9]*?)0+$', '$1') ELSE s END",
    ),
    "classify_service": (
        "title STRING",
        "STRING",
        "CASE WHEN contains(upper(coalesce(title, '')), 'SCM') THEN 'SCM' "
        "WHEN contains(upper(coalesce(title, '')), 'SMP') THEN 'SMP' "
        "WHEN contains(upper(coalesce(title, '')), 'STFC') THEN 'STFC' "
        "ELSE 'OUTROS' END",
    ),
    "extract_year": (
        "title STRING",
        "INT",
        r"CAST(nullif(regexp_extract(title, '(\\d{4})', 1), '') AS INT)",
    ),
    "empty_to_null": (
        "s STRING",
        "STRING",
        "CASE WHEN trim(s) = '' THEN NULL ELSE s END",
    ),
    "token_count": (
        "s STRING",
        "INT",
        f"size({_tokenize_sqltext('s')})",
    ),
}


def install_sql_functions(spark: SparkSession) -> None:
    """Register every SQL UDF as a temporary function (idempotent)."""
    for name, (args, ret, body) in SQL_UDFS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) "
            f"RETURNS {ret} RETURN {body}"
        )
