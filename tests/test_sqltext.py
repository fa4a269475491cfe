"""Expressions the engine builds as Spark SQL text.

- The tokenizers parse the same under
  ``spark.sql.parser.escapedStringLiterals`` true or false, on a path
  through ``catalog.load_table`` and on one that never calls it
  (the corpus pipeline).
- Names and literals spliced into the text are quoted: a quote in a
  term or a backtick in a column name gives the right rows.
- ``half_away_div_sql`` (curriculum_pack's 6dp average tick) rounds
  exactly half away from zero, as does its DuckDB twin.
- ``shingles`` and ``bisect_bucket`` equal their old Column forms
  (tests/column_refs.py) on fixture data.
"""

from __future__ import annotations

import math
import random
from fractions import Fraction

import pyspark.sql.functions as F

from finance_etl_system_spark.catalog import load_table
from finance_etl_system_spark.functions.columns import half_away_div_sql
from finance_etl_system_spark.functions.confs import session_conf
from finance_etl_system_spark.functions.sqltext import ESCAPED_LITERALS as ESCAPED
from finance_etl_system_spark.operators.bpe import segment_words
from finance_etl_system_spark.operators.dedup import shingles
from finance_etl_system_spark.operators.text import tokens, ws_tokens
from finance_etl_system_spark.pipeline.corpus import build_training_corpus
from finance_etl_system_spark.queries.drift import bisect_bucket
from finance_etl_system_spark.queries.retrieval import _per_doc_tf

from tests import column_refs as ref
from tests.conftest import SF_SMOKE

MIXED_WS = [" ", "\t", "\n", "  ", "\r\n", "\x0b", "\x0c "]


def _frames_equal(a, b):
    assert a.schema == b.schema, f"{a.schema} != {b.schema}"
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def _expected_tokens(text: str) -> list[str]:
    """operators.text.tokens in Python: ``['']`` for a blank text."""
    return " ".join(segment_words(text)).split(" ")


def test_tokenizer_parse_ignores_escaped_literals_conf(spark):
    raw = spark.createDataFrame([(1, "Alpha beta\tGamma")], "id int, text string")
    # the conf does change unpinned text on this Spark: without an
    # entry point that pins it, the whole string is one token
    with session_conf(spark, ESCAPED, "true"):
        broken = raw.select(ws_tokens("text").alias("t")).first().t
    assert broken == ["alpha beta\tgamma"]

    for value in ("false", "true"):
        with session_conf(spark, ESCAPED, value):
            d = load_table(spark, SF_SMOKE, "documents")
            rows = d.select(
                "text", ws_tokens("text").alias("ws"), tokens("text").alias("tok")
            ).collect()
        assert rows
        for r in rows:
            assert r.ws == segment_words(r.text), value
            assert r.tok == _expected_tokens(r.text), value


def test_corpus_build_ignores_escaped_literals_conf(spark):
    docs = []
    for i in range(6):
        words = [f"w{i}x{j}" for j in range(12)]
        text = words[0]
        for j, w in enumerate(words[1:]):
            text += MIXED_WS[(i + j) % len(MIXED_WS)] + w
        docs.append((i + 1, text))
    d = spark.createDataFrame(docs, "doc_id long, text string")
    eval_docs = spark.createDataFrame(
        [(100, "an unrelated held out evaluation text of ten words here")],
        "doc_id long, text string",
    )
    got = {}
    for value in ("false", "true"):
        with session_conf(spark, ESCAPED, value):
            got[value] = sorted(
                (r.doc_id, r.n_tokens)
                for r in build_training_corpus(d, eval_docs).collect()
            )
    assert got["true"] == got["false"] == [(i, 12) for i in range(1, 7)]


def test_quoted_terms_and_backticked_names(spark):
    d = spark.createDataFrame(
        [(1, "O'Brien met o'brien and obrien"), (2, "x') OR ('1 x') or ('1")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: list(r.tfs)
        for r in _per_doc_tf(d, ["o'brien", "x')", "('1", "a\\b"]).collect()
    }
    assert got == {1: [2, 0, 0, 0], 2: [0, 2, 2, 0]}

    odd = "v` + 1000 + `v"  # unquoted, this would splice an expression
    f = spark.createDataFrame(
        [(1, "A\tb", 0.5), (2, "c", 2.0), (3, None, None)],
        ["id", "te`xt", odd],
    )
    rows = f.select(
        "id",
        ws_tokens("te`xt").alias("t"),
        bisect_bucket(odd, [1.0, 1.5]).alias("b"),
    ).orderBy("id").collect()
    assert [(r.t, r.b) for r in rows] == [(["a", "b"], 1), (["c"], 3), (None, 1)]


def test_half_away_div_is_exact_on_both_engines(spark):
    import duckdb

    rnd = random.Random(7)
    pairs = [(-34041515, 10), (34041515, 10), (-5, 2), (5, 2), (-7, 2),
             (0, 3), (-1, 3), (-2, 3), (-3, 6), (9, 6)]
    for _ in range(2000):
        n = rnd.randint(1, 400)
        # n/2 remainders make exact .5 ties
        r = rnd.choice([n // 2, -(n // 2), rnd.randint(-n, n)])
        pairs.append((rnd.randint(-8_000_000, 100) * n + r, n))
    want = {}
    for lp, n in pairs:
        q = Fraction(lp, n)
        t = math.floor(abs(q) + Fraction(1, 2))
        want[(lp, n)] = t if q >= 0 else -t

    df = spark.createDataFrame(pairs, "lp long, n long")
    spark_got = {
        (r.lp, r.n): r.t
        for r in df.selectExpr("lp", "n", f"{half_away_div_sql('lp', 'n')} AS t")
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE p (lp BIGINT, n BIGINT)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
    duck_got = {
        (lp, n): t
        for lp, n, t in con.execute(
            "SELECT lp, n, sign(lp) * ((2 * abs(lp) + n) // (2 * n)) FROM p"
        ).fetchall()
    }
    assert spark_got == want
    assert duck_got == want
    # curriculum_pack's tie: -3.4041515 rounds to -3.404152
    assert want[(-34041515, 10)] == -3404152
    assert -3404152 / 1000000.0 == -3.404152


def test_shingles_match_column_form(spark):
    d = load_table(spark, SF_SMOKE, "documents")
    for n in (1, 5):
        _frames_equal(
            d.select("doc_id", shingles("text", n).alias("sh")),
            d.select("doc_id", ref.shingles(F.col("text"), n).alias("sh")),
        )


def test_bisect_bucket_matches_column_form(spark):
    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_totalprice",
        F.round(F.col("o_totalprice") * 1000000).cast("long").alias("ticks"),
    )
    o = o.unionByName(o.limit(1).select(
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("long").alias("ticks"),
    ))
    # float edges need the D suffix (0.1, 1e5 would parse as DECIMAL)
    float_edges = [0.1, 1e5, 123456.78, 2.5e5, 333333.33, 1e300]
    # int edges both sides of 2^31, so INT and BIGINT literals
    int_edges = [5, 2**31 - 1, 2**31, 9 * 10**10, 2 * 10**11, 4 * 10**11]
    for col, edges in (("o_totalprice", float_edges), ("ticks", int_edges)):
        _frames_equal(
            o.select(col, bisect_bucket(col, edges).alias("b")),
            o.select(col, ref.bisect_bucket(F.col(col), edges).alias("b")),
        )
        # several buckets are reached, so the tree is really exercised
        assert o.select(bisect_bucket(col, edges).alias("b")).distinct().count() > 3
