"""Scalar column-expression library (the engine's "functions" surface).

Every scalar op the reference implements as a row-wise Python lambda is
re-expressed here as a *native* Spark column expression so it stays inside
whole-stage codegen — the single biggest structural perf win over the
reference's per-cell ``.apply`` loops (``/root/reference/main.py:477,582,670``).
"""

from be_analytic_etl_spark.functions.cleaning import (
    br_number_to_double,
    let,
    classify_service,
    empty_to_null,
    extract_year,
    normalize_identifier,
    strip_trailing_zeros,
)

__all__ = [
    "br_number_to_double",
    "let",
    "classify_service",
    "empty_to_null",
    "extract_year",
    "normalize_identifier",
    "strip_trailing_zeros",
]
