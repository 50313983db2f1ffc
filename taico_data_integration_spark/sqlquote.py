"""Quoting for the engine's Spark SQL expression builders.

Every ``*_sql`` builder interpolates string constants through `sql_str` and
column names through `sql_ident`, so a value holding a quote or a backslash,
or a column name holding a backtick, parses as itself. Sessions run with
``spark.sql.parser.escapedStringLiterals=false`` (the default): backslash
escapes are live inside string literals, so backslashes are escaped too.
"""

from __future__ import annotations


def sql_str(s: str) -> str:
    """Single-quoted Spark SQL string literal whose value is exactly `s`."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """Backtick-quoted Spark SQL identifier for the column `name`."""
    return "`" + name.replace("`", "``") + "`"
