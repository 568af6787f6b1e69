"""Brazilian-locale numeric normalization and string tidy ops.

Behavioral parity targets (reference file:line):

- ``br_number_to_double`` — `converter_para_numero`,
  ``/root/reference/main.py:531-582``. The branchy rules, replicated exactly:
    * trim; invalid tokens ('', 'nan', '-', '--', '---', 'ND', 'N/D',
      case-insensitive) -> NULL                       (main.py:537-540)
    * strip every char outside [0-9.,]                (main.py:543)
    * '.' AND ',' present  -> dots are thousands seps: drop dots, comma->dot
      ('1.234,56' -> '1234.56')                       (main.py:551-557)
    * ',' only             -> comma->dot ('1234,56' -> '1234.56')
                                                      (main.py:560-562)
    * 2+ dots, no comma    -> all dots are thousands seps: concat parts
      ('1.234.56' -> '123456'; NOT locale-correct but IS the reference
      behavior)                                       (main.py:565-569)
    * single dot / plain integer -> unchanged         (main.py:570-575)
    * anything that still isn't a clean number -> NULL
- ``strip_trailing_zeros`` — `limpar_celula`/`limpar_valor_final`,
  ``/root/reference/main.py:450-477,651-670``: '15.00'->'15', '15.50'->'15.5'
  (string cosmetics; moot once values are DoubleType, kept for CSV-surface
  parity).
- ``classify_service`` — `identificar_servico`, ``/root/reference/main.py:174-189``.
- ``extract_year`` — `extrair_ano_titulo`, ``/root/reference/main.py:192-199``.
- ``empty_to_null`` — ``/root/reference/connect_postgre.py:194-196``.
- ``normalize_identifier`` — ``/root/reference/connect_postgre.py:198-205``.

Each cleaning function is defined once, as SQL text over a SQL expression
(the ``*_sql(arg)`` builders). That text is the body of the SQL UDF of the
same name (``functions.sqludf``), and the Python function is ``F.expr`` of
it over a quoted column NAME: vectorized JVM-side, codegen-friendly, no
Python boundary per row.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from be_analytic_etl_spark.functions.sqltext import quote_ident


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """Bind ``value`` ONCE and reference it many times in ``body``.

    Column expressions have no sharing: composing f(g(x)) where f references
    its argument k times inlines g's whole tree k times (CollapseProject),
    and the duplication multiplies through nesting — measured 10-100x
    slowdowns (codegen blows past JIT limits / interpreted re-evaluation).
    A single-element ``transform`` gives the expression language a let:
    the array [value] is evaluated once, the lambda variable is a cheap
    slot reference.

    >>> let(expensive_expr, lambda v: F.when(v > 0, v).otherwise(-v))
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def br_number_to_double_sql(arg: str) -> str:
    """Brazilian-locale numeric string -> DOUBLE (NULL on unparseable), as
    SQL text over the SQL expression ``arg``.

    The expression tree is deliberately lean: ``arg`` appears once, and a
    single-element transform(array(x), v -> body) (the expression-level
    let, see ``let``) binds the stripped string once instead of inlining
    the regexp per reference. When ``arg`` is a non-trivial expression,
    CollapseProject would otherwise inline it at every reference site,
    and a fat tree blows whole-stage-codegen methods past the JIT limit
    (measured 100x slowdown). Three reductions keep it lean:

    - the invalid-token check (main.py:537-540) is redundant: every invalid
      token ('', nan, -, ND, ...) strips to '' or a malformed numeric, which
      the final double cast maps to NULL anyway;
    - the two comma branches (main.py:551-562) unify: removing thousands
      dots is a no-op when none exist, so "has comma" alone selects
      `translate(strip_dots(x), ',', '.')`;
    - the validity regex is redundant with ``try_cast`` (the candidate
      contains only [0-9.] at cast time; try_cast maps anything still
      malformed — '', '.', '1.2.3' — to NULL in ANSI and non-ANSI
      sessions alike, so the expression is session-config-independent).
    """
    return (
        f"element_at(transform(array(regexp_replace(trim({arg}), '[^0-9.,]', '')), "
        "stripped -> try_cast("
        "CASE WHEN contains(stripped, ',') "
        "THEN translate(translate(stripped, '.', ''), ',', '.') "
        "WHEN length(stripped) - length(translate(stripped, '.', '')) >= 2 "
        "THEN translate(stripped, '.', '') "
        "ELSE stripped END AS DOUBLE)), 1)"
    )


def strip_trailing_zeros_sql(arg: str) -> str:
    """String-level decimal tidy: '15.00'->'15', '15.50'->'15.5'.

    Only touches strings that are purely ``digits.digits``; everything else
    passes through unchanged (reference guard at main.py:454-462).
    """
    return (
        rf"CASE WHEN {arg} RLIKE '^[0-9]+\\.[0-9]+$' "
        rf"THEN regexp_replace(regexp_replace({arg}, '^([0-9]+)\\.0+$', '$1'), "
        rf"'^([0-9]+\\.[0-9]*?)0+$', '$1') ELSE {arg} END"
    )


def classify_service_sql(arg: str) -> str:
    """First-match service tag from a resource title: SCM / SMP / STFC / OUTROS."""
    u = f"upper(coalesce({arg}, ''))"
    return (
        f"CASE WHEN contains({u}, 'SCM') THEN 'SCM' "
        f"WHEN contains({u}, 'SMP') THEN 'SMP' "
        f"WHEN contains({u}, 'STFC') THEN 'STFC' "
        "ELSE 'OUTROS' END"
    )


def extract_year_sql(arg: str) -> str:
    """First 4-digit run in the string as INT; NULL if absent."""
    return rf"CAST(nullif(regexp_extract({arg}, '(\\d{{4}})', 1), '') AS INT)"


def empty_to_null_sql(arg: str) -> str:
    """Map empty / whitespace-only strings to NULL (load-boundary semantics)."""
    return f"CASE WHEN trim({arg}) = '' THEN NULL ELSE {arg} END"


def br_number_to_double(col: str) -> Column:
    """``br_number_to_double_sql`` over the column named ``col``."""
    return F.expr(br_number_to_double_sql(quote_ident(col)))


def strip_trailing_zeros(col: str) -> Column:
    """``strip_trailing_zeros_sql`` over the column named ``col``."""
    return F.expr(strip_trailing_zeros_sql(quote_ident(col)))


def classify_service(col: str) -> Column:
    """``classify_service_sql`` over the column named ``col``."""
    return F.expr(classify_service_sql(quote_ident(col)))


def extract_year(col: str) -> Column:
    """``extract_year_sql`` over the column named ``col``."""
    return F.expr(extract_year_sql(quote_ident(col)))


def empty_to_null(col: str) -> Column:
    """``empty_to_null_sql`` over the column named ``col``."""
    return F.expr(empty_to_null_sql(quote_ident(col)))


def normalize_identifier(name: str) -> str:
    """Column-name normalization: spaces/hyphens/dots -> '_', lowercase.

    Driver-side (schema op, not a data op).
    """
    import re

    return re.sub(r"[ .\-]", "_", name.strip()).lower()
