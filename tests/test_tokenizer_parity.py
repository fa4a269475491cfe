"""Cross-engine parity of THE repo tokenizer: ws_tokens (Spark, Java
regex \\s) and ws_tokens_sql (DuckDB, RE2 \\s) must produce identical
token arrays on adversarial inputs — tabs, newlines, CRs, form feeds,
vertical tabs, mixed runs, unicode letters, punctuation, and empty /
whitespace-only strings. The round-9 unification replaced a ' +'
space-run split whose divergence from \\s+ was invisible on the
fixtures (no tabs there); this pins the rule where the fixtures
can't. Also pins the bpe.segment_words Python twin against both."""

from __future__ import annotations

import duckdb
import pytest

from finance_etl_system_spark.operators.bpe import segment_words
from finance_etl_system_spark.operators.text import ws_tokens, ws_tokens_sql

CASES = [
    "",
    " ",
    "\t",
    "\n\n",
    "plain words here",
    "  leading and trailing  ",
    "tab\tseparated\ttokens",
    "new\nline\nsplit",
    "cr\rand\r\ncrlf",
    "form\x0cfeed and vertical\x0btab",
    "mixed \t \n runs \r\n of\twhitespace",
    "UPPER lower MiXeD",
    "punct, stays. attached! to? tokens;",
    "unicode café straße 中文 да",
    "digits 123 mix3d t0kens",
    "a  b   c    d",
    "\tstarts with tab",
    "ends with newline\n",
    "single",
    "x",
]


def _dedent_cases(n=60):
    """Deterministic pseudo-random extras: whitespace-heavy strings."""
    import random

    rng = random.Random(9)
    ws = [" ", "\t", "\n", "\r", "\x0b", "\x0c"]
    words = ["alpha", "Beta", "GAMMA", "d1g1t", "café", ",", "x."]
    out = []
    for _ in range(n):
        parts = []
        for _ in range(rng.randint(0, 12)):
            parts.append(rng.choice(words))
            parts.append(
                "".join(rng.choice(ws) for _ in range(rng.randint(1, 3)))
            )
        out.append("".join(parts))
    return out


@pytest.mark.timeout(300)
def test_spark_duckdb_and_python_tokenizers_agree(spark):
    from pyspark.sql import functions as F

    cases = CASES + _dedent_cases()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "id long, text string"
    )
    got_spark = {
        r["id"]: list(r["toks"])
        for r in df.select(
            "id", ws_tokens("text").alias("toks")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, ?)" for i in range(len(cases)))
        + ") AS v(id, text)",
        cases,
    )
    got_duck = {
        i: list(toks)
        for i, toks in con.execute(
            f"SELECT id, {ws_tokens_sql('text')} FROM t"
        ).fetchall()
    }
    got_py = {i: segment_words(t.lower()) for i, t in enumerate(cases)}
    for i, t in enumerate(cases):
        assert got_spark[i] == got_duck[i], (i, repr(t))
        # segment_words lowercases internally too — twin of ws_tokens
        assert got_spark[i] == [w.lower() for w in got_py[i]] or (
            got_spark[i] == got_py[i]
        ), (i, repr(t))
