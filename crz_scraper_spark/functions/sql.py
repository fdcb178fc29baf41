"""Quoting for expressions built as SQL text.

Operators that build a whole projection as one SQL string (one py4j call,
instead of one per `Column` node) embed user data — reference lists,
partition values, column names — through these two helpers only.
"""

from __future__ import annotations


def sql_str(s: str) -> str:
    """A Spark SQL string literal for `s`: backslash and single quote are
    escaped; every other character (newline, `%`, `_`, diacritics) is
    taken verbatim by the parser."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """A back-quoted column identifier for `name`."""
    return "`" + name.replace("`", "``") + "`"
