"""Helpers for composing parsed SQL expression text."""


def quote_ident(col: str) -> str:
    """Backtick-quote a plain column name for embedding in SQL text."""
    return "`" + col.replace("`", "``") + "`"
