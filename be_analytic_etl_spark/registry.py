"""Query registry: every operator from SURVEY.md §2 (+ scale extensions)
as a named (PySpark query, DuckDB oracle SQL) pair.

``QUERIES[name](spark, sf_dir) -> DataFrame`` and ``ORACLE_SQL[name]`` is
the ANSI-SQL twin DuckDB runs on the same parquet tables. Names in both
results are aligned column-for-column (the compare sorts columns by name
before hashing). Both dicts keep registration order: the imports below.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from be_analytic_etl_spark.plans.flagship import (
    flagship_orders,
    flagship_orders_oracle_sql,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def register(name: str, fn: Callable[[SparkSession, str], DataFrame], sql: str) -> None:
    # Duplicate names are a hard error: a silent overwrite would shadow
    # an oracle-checked query with a different implementation while its
    # history kept reporting the OLD semantics (three queries once
    # collided with older names and silently replaced them).
    if name in QUERIES:
        raise ValueError(f"query {name!r} is already registered")
    QUERIES[name] = fn
    ORACLE_SQL[name] = sql


register("flagship_mom_pivot", flagship_orders, flagship_orders_oracle_sql())

# Operator-coverage queries are registered on import:
from be_analytic_etl_spark import queries_reference  # noqa: E402,F401
from be_analytic_etl_spark import queries_joins  # noqa: E402,F401
from be_analytic_etl_spark import queries_extensions  # noqa: E402,F401
from be_analytic_etl_spark import queries_analytics  # noqa: E402,F401
from be_analytic_etl_spark import queries_round5  # noqa: E402,F401
from be_analytic_etl_spark import queries_curation  # noqa: E402,F401
from be_analytic_etl_spark import queries_storage  # noqa: E402,F401
from be_analytic_etl_spark import queries_textprep  # noqa: E402,F401
from be_analytic_etl_spark import queries_versioning  # noqa: E402,F401
from be_analytic_etl_spark import queries_sqlsurface  # noqa: E402,F401
from be_analytic_etl_spark import queries_round6  # noqa: E402,F401
from be_analytic_etl_spark import queries_round7  # noqa: E402,F401
from be_analytic_etl_spark import queries_round8  # noqa: E402,F401
from be_analytic_etl_spark import queries_round9  # noqa: E402,F401
from be_analytic_etl_spark import queries_round10  # noqa: E402,F401
from be_analytic_etl_spark import queries_round10b  # noqa: E402,F401
from be_analytic_etl_spark import queries_round10c  # noqa: E402,F401
from be_analytic_etl_spark import queries_round11  # noqa: E402,F401
from be_analytic_etl_spark import queries_round11b  # noqa: E402,F401
from be_analytic_etl_spark import queries_round11c  # noqa: E402,F401
from be_analytic_etl_spark import queries_round11d  # noqa: E402,F401
from be_analytic_etl_spark import queries_round12  # noqa: E402,F401
from be_analytic_etl_spark import queries_round13  # noqa: E402,F401
