"""Column-chain reference forms of expressions the engine builds as
Spark SQL text, copied verbatim from the engine before it dropped
them. The parity tests compare the SQL-text builders against these on
fixture data; nothing in the engine imports this module.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# operators/similarity.py
def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


# operators/text.py
def normalized(text):
    """Lowercase + whitespace collapse — the canonical form used by
    every downstream hash/dedup step."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def ws_tokens(text):
    return F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != "")


def tokens(text):
    """Whitespace tokenization of the normalized text."""
    return F.split(normalized(text), " ")


# operators/substring.py
def _toks(text_col: str):
    return ws_tokens(F.col(text_col))


# operators/dedup.py — the Column branch of shingles
def shingles(text_col, n: int = 3):
    toks = tokens(text_col)
    if n == 1:
        return F.array_distinct(toks)
    # slide a window over the token array: tokens[i : i+n] joined by ' '
    idx = F.sequence(F.lit(0), F.greatest(F.array_size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


# queries/drift.py — the Column branch of bisect_bucket
def bisect_bucket(value, edges: list):
    def rec(lo: int, hi: int):
        if lo == hi:
            return F.lit(lo + 1)
        mid = (lo + hi) // 2
        return F.when(value > F.lit(edges[mid]), rec(mid + 1, hi)).otherwise(
            rec(lo, mid)
        )

    return rec(0, len(edges))


# queries/retrieval.py
def _s_stem_col(x):
    """S-stemmer as a column expression over a lambda variable."""
    return (
        F.when(
            x.endswith("ies")
            & ~x.endswith("eies")
            & ~x.endswith("aies")
            & (F.length(x) >= 4),
            F.concat(F.substring(x, F.lit(1), F.length(x) - 3), F.lit("y")),
        )
        .when(
            x.endswith("es")
            & ~x.endswith("aes")
            & ~x.endswith("ees")
            & ~x.endswith("oes")
            & (F.length(x) >= 4),
            F.substring(x, F.lit(1), F.length(x) - 1),
        )
        .when(
            x.endswith("s")
            & ~x.endswith("us")
            & ~x.endswith("ss")
            & (F.length(x) >= 3),
            F.substring(x, F.lit(1), F.length(x) - 1),
        )
        .otherwise(x)
    )


# operators/zorder.py
def zvalue(cols: list[Column], *, bits: int) -> Column:
    """Interleave the low ``bits`` bits of each (long, non-negative,
    already range-reduced) column: result bit ``b*len(cols)+i`` is bit
    ``b`` of ``cols[i]``. Fits in a long for bits*len(cols) <= 63."""
    n = len(cols)
    if bits * n > 63:
        raise ValueError("interleaved key must fit in a signed long")
    out: Column | None = None
    for i, c in enumerate(cols):
        for b in range(bits):
            term = F.shiftleft(
                F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + i
            )
            out = term if out is None else out.bitwiseOR(term)
    assert out is not None
    return out
