"""Quoting for the SQL-string expression builders.

Hot constructors build one SQL-string expression instead of a Column tree
(one py4j round trip each). Every identifier and literal they interpolate
goes through these two helpers, so a payload column named ``order``,
``my col`` or ``a-b`` and a keyspace containing ``'`` parse as data.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """Backtick-quoted identifier (an embedded backtick doubles)."""
    return "`" + name.replace("`", "``") + "`"


def string_lit(value: str) -> str:
    """Single-quoted string literal (backslash escapes, Spark's default)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
