"""Quoting for caller strings spliced into SQL text.

The operators that build one SQL string per expression (one py4j round
trip instead of dozens of builder calls) splice column names and
string values into that text; these two functions are the only way
they do it, so any caller string parses back to itself.

String literals assume the default parser escaping
(``spark.sql.parser.escapedStringLiterals=false``, the Spark default
since 2.0): a session that opts into the legacy flag reads backslashes
verbatim.
"""

from __future__ import annotations


def quote_ident(name: str) -> str:
    """Backquoted identifier: parses as the single name part ``name``
    (dots, quotes and spaces included)."""
    return "`" + name.replace("`", "``") + "`"


def quote_literal(value: str) -> str:
    """Single-quoted string literal whose value is ``value``."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
