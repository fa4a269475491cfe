"""Quoting for Spark SQL text built in Python.

Expressions the engine assembles as SQL strings (parsed JVM-side by
``F.expr``/``selectExpr``) splice in column names and literal values.
Every splice goes through one of the helpers below, so a quote or a
backtick in a value can never end the token early and turn the rest
into SQL.

The text is written for Spark's default string-literal parsing, in
which a backslash escapes the next character (``'\\\\s+'`` is the
regex ``\\s+``). ``spark.sql.parser.escapedStringLiterals=true`` (a
legacy conf a driver may set) turns that off and would change what
every such literal means, so each entry point that parses engine text
pins it with :func:`pin_sql_text_conf`.
"""

from __future__ import annotations

import math

ESCAPED_LITERALS = "spark.sql.parser.escapedStringLiterals"


def pin_sql_text_conf(spark) -> None:
    """Set :data:`ESCAPED_LITERALS` to false on ``spark``. Not scoped:
    the text is parsed at each later ``select`` of the query build,
    after this returns (the same reason ``catalog.load_table`` pins
    its scan confs). Set only when it differs: Spark 4 logs a
    deprecation warning on every set of this conf."""
    if spark.conf.get(ESCAPED_LITERALS, "false") != "false":
        spark.conf.set(ESCAPED_LITERALS, "false")


def sql_ident(name: str) -> str:
    """A column name as a backquoted identifier (a backtick inside the
    name is doubled)."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(value) -> str:
    """A Python value as a Spark SQL literal of the type ``F.lit``
    gives it: str → STRING, int → INT (BIGINT outside 32 bits), float
    → DOUBLE (``repr`` is shortest-round-trip, so the parsed double has
    the same bits)."""
    if isinstance(value, bool):  # bool is an int subclass
        raise TypeError("boolean literals are not supported")
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, int):
        return str(value) if -(2**31) <= value < 2**31 else f"{value}L"
    if isinstance(value, float):
        if not math.isfinite(value):
            raise ValueError(f"non-finite literal {value!r}")
        return f"{value!r}D"
    raise TypeError(f"no SQL literal for {type(value).__name__}")
