"""Text-analysis operators for training-data pipelines (SURVEY §2.10 X4).

All hot-path functions are built-in ``pyspark.sql.functions`` (JVM,
whole-stage codegen) — tokenization, ratios, hashes. Nothing here
drops to Python.

Scale notes: every operator is a narrow per-row projection — no
shuffle at all. Fingerprints/hashes enable downstream groupBy dedup
whose shuffle keys are 64-hex strings (uniform, no skew).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.sqltext import sql_ident

# tiny per-language marker lexicons for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "了", "在", "我"],
}

STOPWORDS_EN = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def normalized_expr(col: str) -> str:
    """Lowercase + whitespace collapse — the canonical form used by
    every downstream hash/dedup step — as Spark SQL text."""
    return f"trim(regexp_replace(lower({sql_ident(col)}), '\\\\s+', ' '))"


def normalized(col: str) -> Column:
    return F.expr(normalized_expr(col))


def tokens_expr(col: str) -> str:
    """Whitespace tokenization of the normalized text (SQL text). An
    empty or all-whitespace text gives ``['']``, not ``[]``;
    :func:`ws_tokens_expr` is the empty-dropping rule."""
    return f"split({normalized_expr(col)}, ' ')"


def tokens(col: str) -> Column:
    return F.expr(tokens_expr(col))


def ws_tokens_expr(col: str) -> str:
    """THE repo-wide whitespace tokenizer as Spark SQL text: lowercase,
    split on runs of ANY whitespace (Java ``\\s`` class — spaces,
    tabs, newlines), drop empty tokens. Equivalent to
    :func:`tokens` modulo empties, and to ``bpe.segment_words``'s
    Python twin. Every corpus-token operator (substring/gram
    analysis, curation, quality, retrieval, streaming mixture) shares
    this ONE rule — a second rule (the pre-r9 ``' +'`` space-run
    split) silently disagreed on tab/newline-joined tokens. Built as
    one JVM-parsed string: a Column chain costs ~8 py4j round trips
    incl. a lambda registration per construction."""
    return f"filter(split(lower({sql_ident(col)}), '\\\\s+'), x -> x != '')"


def ws_tokens(col: str) -> Column:
    return F.expr(ws_tokens_expr(col))


def ws_tokens_sql(col: str = "text") -> str:
    """DuckDB twin of :func:`ws_tokens_expr` — keep in lockstep.

    The class is spelled out instead of ``\\s`` because the engines'
    shorthands differ: Java's ``\\s`` is exactly [ \\t\\n\\x0B\\f\\r]
    (vertical tab INCLUDED) while DuckDB's RE2 ``\\s`` excludes
    \\x0B — a divergence tests/test_tokenizer_parity.py caught on
    adversarial input and would otherwise sit invisible until a
    vertical tab reached production text."""
    return (
        f"list_filter(string_split_regex(lower({col}),"
        " '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')"
    )


def normalized_sql(col: str = "text") -> str:
    """DuckDB twin of :func:`normalized_expr`, with the whitespace
    class spelled out as in :func:`ws_tokens_sql`."""
    return (
        f"trim(regexp_replace(lower({col}),"
        " '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"
    )


def token_count_bpe_ish(text: str) -> Column:
    """BPE-ish token estimate: word-piece regex split. Counts runs of
    letters, digits, or single punctuation — a deterministic stand-in
    for a real BPE vocab (which would be a broadcast lookup)."""
    pieces = F.regexp_extract_all(
        F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 \t\n\x0B\f\r]"), 0
    )
    return F.array_size(pieces)


def word_count(text: str) -> Column:
    return F.array_size(tokens(text))


def punct_ratio(text: str) -> Column:
    """Fraction of characters that are punctuation."""
    stripped = F.regexp_replace(text, r"[^\p{L}\p{N} \t\n\x0B\f\r]", "")
    return (F.length(text) - F.length(stripped)) / F.greatest(
        F.length(text), F.lit(1)
    )


def stopword_ratio(text: str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are stopwords (quality signal)."""
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS_EN)])
    toks = tokens(text)
    n_hits = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, t: acc + F.when(F.array_contains(sw, t), 1).otherwise(0),
    )
    return n_hits / F.greatest(F.array_size(toks), F.lit(1))


def quality_score(text: str) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation
    + reasonable mean word length. Deterministic, SQL-expressible."""
    n_chars = F.length(text)
    wc = word_count(text)
    mean_word_len = n_chars / F.greatest(wc, F.lit(1))
    len_ok = F.when((n_chars >= 100) & (n_chars <= 20000), 1.0).otherwise(0.5)
    punct_ok = F.when(punct_ratio(text) < 0.1, 1.0).otherwise(0.5)
    mwl_ok = F.when((mean_word_len >= 3) & (mean_word_len <= 12), 1.0).otherwise(0.5)
    return (len_ok + punct_ok + mwl_ok) / 3.0


def lang_id(text: str) -> Column:
    """Marker-lexicon language ID: count per-language marker tokens,
    take the argmax (ties → first language in a fixed order, no hits →
    'und'). A real system would use fastText; the heuristic keeps the
    whole operator JVM-side and oracle-checkable."""
    toks = tokens(text)
    best_lang = F.lit("und")
    best_hits = F.lit(0)

    def _counter(marker_arr):
        return lambda acc, t: acc + F.when(
            F.array_contains(marker_arr, t), 1
        ).otherwise(0)

    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        hits = F.aggregate(toks, F.lit(0), _counter(arr))
        is_better = hits > best_hits
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
    return best_lang


def fingerprint(text: str) -> Column:
    """Content fingerprint: sha2-256 of the normalized text — THE
    exact-dedup key (SURVEY §2.10 X1 first pass). Single definition
    shared by dedup.exact_dedup and the incremental corpus build
    (pipeline/corpus.py): the increment ≡ rebuild contract depends on
    both using the identical fingerprint."""
    return F.sha2(normalized(text), 256)
