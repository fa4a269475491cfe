"""Corpus-level repeated-substring (boilerplate span) detection and
scrubbing — the distributed analog of exact-substring training-data
dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
Models Better"), re-expressed for Spark.

The reference engine has no document pipeline at all
(`/root/reference/spark-job/etl_job.py` stops at OHLCV rows); this
extends the SURVEY §2.10 training-data tier alongside
operators/dedup.py (whole-document near-dup) with the SUB-document
failure mode near-dup misses: licence headers, navigation chrome, and
templated paragraphs pasted into otherwise-unique documents.

Semantics
---------
Tokenize on any-whitespace runs (operators/text.py::ws_tokens — THE
repo-wide rule, identical to the DuckDB oracle since the round-9
unification), slide a ``k``-word gram over each document, and call
a gram *hot* when its corpus-wide occurrence count (including repeats
inside one document) reaches ``min_count``. Every hot gram start
position is flagged; flagged starts whose coverage windows touch or
overlap (gap <= k) merge into one maximal span covering tokens
``[min_start, max_start + k - 1]``. Spans are therefore maximal,
non-overlapping, and deterministic. The scrub drops every token
covered by any span — the aggressive mode: boilerplate that appears
``min_count``+ times is removed from EVERY occurrence (a
keep-one-canonical-copy mode would need a global occurrence ranking;
for boilerplate the aggressive cut is what production pipelines run).

Scale posture (100 TB)
----------------------
- One gram-shaped shuffle: the occurrence count is a map-side
  combinable groupBy on the gram key; the flag join back to
  (doc_id, position) is a plain equi join AQE can re-plan.
- Key width: ``key="string"`` groups by the gram text itself —
  exact, zero collision risk, and what the oracle can reproduce;
  ``key="hash128"`` groups by two xxhash64 lanes — one over the gram,
  one over the gram PREFIXED WITH A SALT literal (PySpark's xxhash64
  does not expose the seed parameter, so the second lane is salted
  input, not an independent seed; the lanes are distinct hash
  functions of the gram but their independence is empirical, so treat
  the ~10^-14 birthday bound at 10^12 grams as an estimate, not a
  guarantee). This cuts shuffle bytes ~k*avg_word wide down to 16
  bytes. Both modes are output-equivalent (tested); hash128 is the
  100-TB default recommendation.
- Span merge is a per-document window over FLAGGED positions only
  (`hashpartitioning(doc_id)` on the hit subset, typically a tiny
  fraction of the corpus) — never a window over the full gram
  stream.
- The scrub's token filter runs inside higher-order functions on the
  document row (JVM codegen, no token-level explode/shuffle); cost is
  O(n_tokens * n_spans) per document with n_spans already merged to
  the maximal form.
- The explode builds INTEGER start positions first and the gram
  string after (the curation-module lesson: explode(transform(...))
  drops the stage out of codegen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqltext import sql_ident
from .partitioning import spread_for_expansion
from .text import ws_tokens_expr

_H2_SEED = 0x9E3779B9  # second-lane salt for key="hash128"


# The construction paths below assemble their projections as
# JVM-parsed SQL strings (r14, guide §1.2 step 2): the Column chains
# they replace cost ~0.35-0.40 s of pure driver py4j time per query
# invocation (measured: builders with ZERO Spark jobs), dominated by
# the nested-lambda expressions. The parsed trees are the identical
# expressions — parity with the pre-r14 Column formulations is
# pinned on real data in tests/test_substring_sqltext.py; the
# operator signatures already take plain column-name strings and
# ints, so every caller is unchanged.
def _gram_positions(
    docs: DataFrame, *, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, i, gram): every k-gram start position, 1-based."""
    k = int(k)
    d = (
        spread_for_expansion(docs, id_col)
        .selectExpr(sql_ident(id_col), f"{ws_tokens_expr(text_col)} AS _toks")
        .filter(f"size(_toks) >= {k}")
    )
    return d.selectExpr(
        sql_ident(id_col),
        "_toks",
        f"explode(sequence(1, size(_toks) - {k - 1})) AS i",
    ).selectExpr(
        sql_ident(id_col),
        "i",
        f"concat_ws(' ', slice(_toks, i, {k})) AS gram",
    )


def gram_keys(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    key: str = "string",
) -> tuple[DataFrame, list[str]]:
    """(id, i, <key cols>) for every k-gram start position, plus the
    key column names. key="string" carries the gram text (exact,
    oracle-comparable); key="hash128" carries two xxhash64 lanes (the
    second over salt+gram — see module docstring for the independence
    caveat) — 16 bytes per gram regardless of k, the 100-TB
    shuffle/state path (also what the streaming twin persists)."""
    if key not in ("string", "hash128"):
        raise ValueError(f"key must be 'string' or 'hash128', got {key!r}")
    grams = _gram_positions(docs, text_col=text_col, id_col=id_col, k=k)
    if key == "hash128":
        return (
            grams.selectExpr(
                sql_ident(id_col),
                "i",
                "xxhash64(gram) AS _h1",
                f"xxhash64({int(_H2_SEED)}, gram) AS _h2",
            ),
            ["_h1", "_h2"],
        )
    return grams, ["gram"]


def repeated_gram_positions(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    key: str = "string",
) -> DataFrame:
    """Flagged gram-start positions: (id, i) where the k-gram starting
    at token i (1-based) occurs >= min_count times corpus-wide."""
    grams, key_cols = gram_keys(
        docs, text_col=text_col, id_col=id_col, k=k, key=key
    )
    hot = (
        grams.groupBy(*key_cols)
        .agg(F.expr("count(1) AS _n"))
        .filter(f"_n >= {int(min_count)}")
        .select(*key_cols)
    )
    return grams.join(hot, key_cols).select(id_col, "i")


def spans_from_flagged(
    flagged: DataFrame, *, id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """Merge flagged gram starts (id, i) into maximal non-overlapping
    spans. Window over the flagged subset only, partitioned by id."""
    k = int(k)
    over = f"OVER (PARTITION BY {sql_ident(id_col)} ORDER BY i)"
    islands = flagged.selectExpr(
        "*",
        f"CASE WHEN i - lag(i) {over} <= {k} THEN 0 ELSE 1 END AS _new",
    ).selectExpr("*", f"sum(_new) {over} AS _island")
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.expr("min(i) AS span_start"),
            F.expr(f"(max(i) + {k - 1}) AS span_end"),
        )
        .selectExpr(
            sql_ident(id_col),
            "CAST(span_start AS BIGINT) AS span_start",
            "CAST(span_end AS BIGINT) AS span_end",
            "CAST(span_end - span_start + 1 AS BIGINT) AS span_tokens",
        )
    )


def repeated_spans(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    key: str = "string",
) -> DataFrame:
    """Maximal repeated spans per document:
    (id, span_start, span_end, span_tokens), token positions 1-based
    inclusive. Flagged starts i, j (i < j) share a span iff
    j - i <= k (their coverage windows [i, i+k-1], [j, j+k-1] touch
    or overlap), applied transitively — so spans never overlap."""
    flagged = repeated_gram_positions(
        docs, text_col=text_col, id_col=id_col, k=k, min_count=min_count,
        key=key,
    )
    return spans_from_flagged(flagged, id_col=id_col, k=k)


def contamination_spans(
    corpus: DataFrame,
    eval_docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    key: str = "string",
) -> DataFrame:
    """WHERE a corpus document overlaps the eval benchmark, not just
    whether: maximal spans (id, span_start, span_end, span_tokens)
    covering every corpus position whose k-gram appears anywhere in
    ``eval_docs`` — the span-level view of benchmark decontamination
    (queries/curation.py counts hits per doc; production pipelines
    scrub the contaminated WINDOW and keep the rest of the document).

    Scale: the eval gram set is benchmark-sized by construction
    (benchmarks are MBs) → broadcast; the corpus gram stream meets it
    in a broadcast hash join, so only HIT positions are ever
    shuffled, then the same flagged-subset span merge as
    repeated_spans (window over hits only, never the full stream).
    ``key="hash128"`` applies here too for the 16-byte 100-TB path."""
    grams_c, key_cols = gram_keys(
        corpus, text_col=text_col, id_col=id_col, k=k, key=key
    )
    eval_grams = (
        gram_keys(eval_docs, text_col=text_col, id_col=id_col, k=k, key=key)[0]
        .select(*key_cols)
        .distinct()
    )
    flagged = grams_c.join(F.broadcast(eval_grams), key_cols).select(
        id_col, "i"
    )
    return spans_from_flagged(flagged, id_col=id_col, k=k)


def scrub_contamination(
    corpus: DataFrame,
    eval_docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    key: str = "string",
) -> DataFrame:
    """Window-level decontamination: every token inside a
    contamination span removed, the rest of the document kept —
    (id, n_tokens, n_spans, dup_tokens, dup_ratio, clean_text), the
    scrub_repeated_spans report shape (dup_* = contaminated-token
    counts here). Every flagged k-gram occurrence loses ALL its
    tokens; note the standard caveat that removing a window can
    juxtapose previously-distant tokens into a NEW k-gram — rerun
    detection to fixpoint if the guarantee must be closed under
    concatenation (one pass is the Lee et al. practice)."""
    spans = contamination_spans(
        corpus, eval_docs, text_col=text_col, id_col=id_col, k=k, key=key
    )
    return _scrub_with_spans(corpus, spans, text_col=text_col, id_col=id_col)


def scrub_repeated_spans(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    key: str = "string",
) -> DataFrame:
    """Per-document scrub report: every token covered by a repeated
    span removed. (id, n_tokens, n_spans, dup_tokens, dup_ratio,
    clean_text); documents with no spans pass through with
    dup_tokens=0 and clean_text = the normalized token stream.

    The token filter is a higher-order exists() over the (merged,
    non-overlapping) span array inside the document row — no
    token-level shuffle. dup_ratio is rounded to 6dp, once, matching
    the oracle."""
    spans = repeated_spans(
        docs, text_col=text_col, id_col=id_col, k=k, min_count=min_count,
        key=key,
    )
    return _scrub_with_spans(docs, spans, text_col=text_col, id_col=id_col)


def _scrub_with_spans(
    docs: DataFrame,
    spans: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Shared scrub kernel: drop every token covered by a merged span
    (higher-order exists() inside the document row, no token-level
    shuffle); emit the report frame."""
    per_doc = spans.groupBy(id_col).agg(
        F.expr(
            "sort_array(collect_list(struct(span_start, span_end)))"
            " AS _spans"
        ),
        F.expr("count(1) AS n_spans"),
        F.expr("sum(span_tokens) AS dup_tokens"),
    )
    d = docs.selectExpr(
        sql_ident(id_col), f"{ws_tokens_expr(text_col)} AS _toks"
    ).join(per_doc, id_col, "left")
    spans_arr = (
        "coalesce(_spans, CAST(array() AS"
        " array<struct<span_start:bigint,span_end:bigint>>))"
    )
    covered = (
        f"exists({spans_arr},"
        " sp -> s.i + 1 >= sp.span_start AND s.i + 1 <= sp.span_end)"
    )
    kept = (
        "filter(transform(_toks, (x, i) -> struct(x AS x, i AS i)),"
        f" s -> NOT ({covered}))"
    )
    return d.selectExpr(
        sql_ident(id_col),
        "CAST(size(_toks) AS BIGINT) AS n_tokens",
        "CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans",
        "CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens",
        # explicit zero-token guard: Spark 0/0.0 is NULL, DuckDB NaN —
        # pin both engines to NULL
        "CASE WHEN size(_toks) > 0 THEN"
        " round(coalesce(dup_tokens, 0) / CAST(size(_toks) AS DOUBLE), 6)"
        " END AS dup_ratio",
        f"concat_ws(' ', transform({kept}, s -> s.x)) AS clean_text",
    )
