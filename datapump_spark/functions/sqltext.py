"""Helpers for building Spark SQL text from caller-supplied names."""

from __future__ import annotations


def sql_ident(col: str) -> str:
    """Backtick-quoted identifier with embedded backticks escaped
    (`` -> ````), so column names can never break out of the quoting.
    Also valid as an ``F.col`` argument: it names the same column."""
    return f"`{col.replace('`', '``')}`"


def sql_dq_ident(name: str) -> str:
    """Double-quoted (ANSI / PostgreSQL / sqlite) identifier with embedded
    double quotes doubled (" -> ""), the ``sql_ident`` rule for the
    quoting character of standard SQL."""
    return '"' + name.replace('"', '""') + '"'
