"""Spark SQL text for expressions the engine builds as strings.

The hot projections (the ingest unpivot, the slot resampling math) are
written as SQL text that the JVM parses once: every PySpark ``Column`` call
costs several py4j round trips, while a string of any size crosses in one
call. Every
value interpolated into such text goes through these helpers, because the
parser does more than parse:

- it substitutes ``${key}`` anywhere in the text
  (``spark.sql.variable.substitute``, on by default; an unknown key becomes
  the empty string), so a ``$`` inside a string literal is written as the
  escape ``\\u0024``;
- it unescapes string literals (``\\u0041`` becomes ``A``, ``\\\\`` becomes
  ``\\``), so ``\\`` and ``'`` are escaped too;
- a back-quoted identifier has no escape for ``$``, so a name holding
  ``${`` cannot be written at all and is refused.
"""

from __future__ import annotations

import math


def sql_str(s: str) -> str:
    """String literal whose value is exactly ``s``."""
    esc = s.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    return f"'{esc}'"


def sql_ident(name: str) -> str:
    """Back-quoted column name."""
    if "${" in name:
        raise ValueError(
            f"column name {name!r} holds '${{', which Spark SQL text would "
            "substitute as a variable"
        )
    return "`" + name.replace("`", "``") + "`"


def sql_double(x: float) -> str:
    """DOUBLE literal equal to ``float(x)`` bit for bit: ``repr`` is the
    shortest decimal that round-trips, and Spark rounds a ``D`` literal
    correctly. SQL has no NaN or infinity literal, and a cast from a string
    is nullable (``coalesce(v, CAST('NaN' AS DOUBLE))`` would turn a
    NOT NULL column nullable), so those are spelled as constant ``power``
    calls, which Java defines to be NaN and ±infinity; the optimizer folds
    them to literals."""
    x = float(x)
    if math.isnan(x):
        return "power(-1D, 0.5D)"
    if math.isinf(x):
        return "power(0D, -1D)" if x > 0 else "(-power(0D, -1D))"
    lit = f"{x!r}D"
    return f"({lit})" if lit.startswith("-") else lit
