"""``column IN (values)`` in a constant number of driver→JVM calls.

``Column.isin`` makes one py4j ``lit`` call per value (about four round
trips each), so a predicate over a request's terms, doc ids or buckets costs
the driver hundreds of round trips before any Spark job starts.  The SQL
parser builds the same ``In`` expression — the same literal types, ``InSet``
above ten values after optimization, the same parquet ``PushedFilters`` —
from one string, in one ``functions.expr`` call whatever the list length.
``tests/test_plan_quality.py`` checks the predicate and the rows against
``Column.isin``.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# escaped as \uXXXX, with control characters: the quote and backslash of
# the literal syntax, and `$` because Spark's variable substitution rewrites
# ``${...}`` anywhere in expression text, string literals included
_ESCAPE = frozenset("'\\$")


def _literal(v: str | int) -> str:
    """SQL text of the literal ``F.lit(v)`` builds: a string literal, an
    INT for an int in 32-bit range (py4j sends it as an Integer), a BIGINT
    (``L`` suffix) for any other 64-bit int.  Assumes the default
    ``spark.sql.parser.escapedStringLiterals=false``."""
    if isinstance(v, str):
        return "'" + "".join(
            f"\\u{ord(c):04x}" if c in _ESCAPE or ord(c) < 0x20 else c
            for c in v) + "'"
    if isinstance(v, int) and not isinstance(v, bool):
        if -2 ** 31 <= v < 2 ** 31:
            return str(v)
        if -2 ** 63 <= v < 2 ** 63:
            return f"{v}L"
    raise TypeError(f"no SQL literal for {v!r}")


def col_isin(column: str, values) -> Column:
    """``F.col(column).isin(values)`` for str/int values, built from SQL
    text.  An empty list stays ``Column.isin([])`` (always false), which
    costs no per-value calls either."""
    values = list(values)
    if not values:
        return F.col(column).isin([])
    name = ".".join(f"`{p}`" for p in column.split("."))
    return F.expr(f"{name} IN ({', '.join(map(_literal, values))})")
