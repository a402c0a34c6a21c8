"""Token counting as a pure Column expression (JVM-side, codegen'd)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_PATTERN = "[A-Za-z0-9]+"


def tokens(col: Column) -> Column:
    """Whitespace/punctuation-insensitive alnum tokens."""
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_PATTERN), 0)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))
