"""Quoting for Spark SQL text built on the driver.

Expressions parsed from one SQL string cost one py4j round trip however
large they are, so hot builders paste column names and literals into SQL
text. Every name or literal pasted that way goes through one of these two
helpers; a raw name with a dot, a space or a keyword in it would otherwise
change meaning or fail to parse.
"""

from __future__ import annotations


def quote_ident(name: str) -> str:
    """Column name -> backtick-quoted SQL identifier (inner backticks doubled).

    The quoted name is read literally: ``my col.x`` is one column, not the
    field ``x`` of a struct ``my col``. Anything but a ``str`` (say, a
    ``Column``) raises ``TypeError``: the builders that paste names into
    SQL text take the name, not an expression over it."""
    if not isinstance(name, str):
        raise TypeError(
            f"expected a column name (str), got {type(name).__name__}; "
            "pass the column's name, or select the expression under a name first"
        )
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """Python string -> Spark SQL string literal.

    Spark unescapes backslash sequences in literals (the default
    ``spark.sql.parser.escapedStringLiterals=false``), so backslashes are
    doubled and single quotes escaped; the parsed literal equals ``value``.
    """
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
