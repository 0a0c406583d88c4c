"""Helpers for composing parsed SQL text: identifier and string-literal
quoting."""


def quote_ident(col: str) -> str:
    """Backtick-quote a plain column name for embedding in SQL text."""
    return "`" + col.replace("`", "``") + "`"


def sql_string_literal(s: str) -> str:
    """``s`` as a single-quoted SQL string literal that reads back the same
    in Spark SQL and DuckDB: ``'`` is doubled. A backslash is an escape
    character in Spark's literal syntax but plain text in DuckDB's, so it is
    rejected rather than escaped for one dialect."""
    if "\\" in s:
        raise ValueError(f"backslash in SQL string literal: {s!r}")
    return "'" + s.replace("'", "''") + "'"
