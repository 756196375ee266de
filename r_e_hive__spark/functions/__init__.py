"""Scalar/column function library (SURVEY.md §2.8).

The helpers below quote column names and string values for the ``*_sql``
renderers, whose SQL text one ``F.expr`` parses (one py4j round-trip per
expression instead of one per Column-API node).
"""

from __future__ import annotations


def ident_sql(name: str) -> str:
    """A column name as a quoted SQL identifier, with ``F.col``'s
    semantics: dots separate nested-field path segments (``s.embedding``
    → ``` `s`.`embedding` ```), and embedded backticks are doubled per
    segment (the Spark quoted-identifier escape) so an unusual column name
    cannot break out of the identifier and inject SQL fragments."""
    if not isinstance(name, str):
        raise TypeError(
            f"expected a column name (str), got {type(name).__name__}"
        )
    return ".".join(
        "`" + seg.replace("`", "``") + "`" for seg in name.split(".")
    )


def str_lit_sql(s: str) -> str:
    """A Python string as a SQL string literal that parses back to the
    same value under the session's pinned escape semantics
    (escapedStringLiterals=false, catalog._REQUIRED_CONFS): backslashes
    doubled first, then single quotes doubled."""
    if not isinstance(s, str):
        raise TypeError(f"expected a str, got {type(s).__name__}")
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
