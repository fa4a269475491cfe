"""Training-data curation operators over the documents table — the
pieces a 100 TB pretraining pipeline runs between raw crawl and
tokenization: repetition-based quality filters (Gopher-style rules),
deterministic corpus rebalancing to a target language mix, and PII
redaction.

The reference has no document pipeline at all; these extend SURVEY
§2.10 X4 (text analysis) with the *filter/curate* half. All three are
fully SQL-expressible and oracle-checked.

Determinism: every ratio is an exact-integer count divided once; flag
columns are integer predicates (``top*100 > 12*n``), never float
comparisons; the rebalance hash is pure integer arithmetic (Knuth
multiplicative), not a engine-specific hash function.

Scale notes:
- repetition stats are one explode + (doc, token) count + per-doc
  re-aggregate: two shuffles keyed by doc_id, map-side combinable,
  no state beyond a token count — the canonical word-count shape.
- the rebalance is one tiny per-lang count (broadcast back) + one
  window rank per lang; at 100 TB the rank shuffle is the cost, and
  it is exactly one pass.
- PII scrub is a pure per-row projection (whole-stage codegen, no
  Python) — regexp_replace runs JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.text import ws_tokens

# deliberately simple, RE2-and-Java-compatible patterns
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\d{3}-\\d{3}-\\d{4}"


def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics: type/token ratio and
    top-token mass — the cheap Gopher-style repetition filters.

    ``repetitive`` is the integer predicate ``top*100 > 12*n`` (most
    frequent token holds > 12 % of the document), exact on both
    engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(ws_tokens("text")).alias("tok"),
    )
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_count"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            "top_count",
            F.round(F.col("n_distinct") / F.col("n_tokens").cast("double"), 6).alias(
                "type_token_ratio"
            ),
            F.round(F.col("top_count") / F.col("n_tokens").cast("double"), 6).alias(
                "top_token_frac"
            ),
            (F.col("top_count") * 100 > F.col("n_tokens") * 12).alias("repetitive"),
        )
        .orderBy("doc_id")
    )


_QUALITY_REPETITION_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                    x -> x <> '')) AS tok
  FROM documents
),
per_tok AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
),
per_doc AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(MAX(c) AS BIGINT) AS top_count
  FROM per_tok GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct, top_count,
       ROUND(n_distinct / CAST(n_tokens AS DOUBLE), 6) AS type_token_ratio,
       ROUND(top_count / CAST(n_tokens AS DOUBLE), 6) AS top_token_frac,
       top_count * 100 > n_tokens * 12 AS repetitive
FROM per_doc ORDER BY doc_id
"""


def q_data_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic downsampling to a uniform language mix: every
    language keeps exactly ``min(count per lang)`` documents, chosen
    by a content-independent integer hash (Knuth multiplicative) so
    the selection is stable across runs, partitionings, and engines.

    Plan: per-lang counts collapse to a broadcast scalar quota; one
    window rank per lang picks the survivors."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    quota = counts.agg(F.min("n").alias("quota"))
    h = ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(4294967296)
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        d.select("doc_id", "lang", "source", h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(quota))
        .filter(F.col("rn") <= F.col("quota"))
        .select("lang", "doc_id", "source")
        .orderBy("lang", "doc_id")
    )


_DATA_MIX_REBALANCE_SQL = """
WITH quota AS (
  SELECT MIN(n) AS quota FROM (
    SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang)
),
ranked AS (
  SELECT lang, doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id
         ) AS rn
  FROM documents
)
SELECT lang, doc_id, source
FROM ranked CROSS JOIN quota
WHERE rn <= quota
ORDER BY lang, doc_id
"""


# target pretraining mix: EN-heavy with the rest equal — weights sum
# to 1 and are scaled to the largest FEASIBLE corpus (no upsampling)
_MIX_WEIGHTS = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}


def q_data_mix_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic downsampling to a TARGET language mix (the
    pretraining-mix op: hit prescribed per-language shares without
    upsampling): the largest feasible total is
    T = min_l floor(n_l / w_l), each language keeps
    quota_l = floor(T·w_l) docs, chosen by the content-independent
    Knuth hash — stable across runs, partitionings, and engines.

    Plan: per-lang counts are a |langs|-row aggregate; T is a 1-row
    broadcast; selection is the same one-window-per-lang rank as the
    uniform rebalance. Emits per-lang quota bookkeeping so the mix is
    auditable."""
    d = load_table(spark, sf_dir, "documents")
    w_expr = F.create_map(
        *[x for kv in _MIX_WEIGHTS.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )
    counts = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("w", w_expr[F.col("lang")])
    )
    t = counts.agg(
        F.min(F.floor(F.col("n") / F.col("w"))).alias("t")
    )
    quotas = counts.crossJoin(F.broadcast(t)).select(
        "lang",
        "n",
        F.floor(F.col("t") * F.col("w")).cast("long").alias("quota"),
    )
    h = ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(
        4294967296
    )
    rw = Window.partitionBy("lang").orderBy("h", "doc_id")
    picked = (
        d.select("doc_id", "lang", h.alias("h"))
        .withColumn("rn", F.row_number().over(rw))
        .join(F.broadcast(quotas), "lang")
        .filter(F.col("rn") <= F.col("quota"))
    )
    return (
        picked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("kept"),
            F.sum("doc_id").alias("doc_id_sum"),  # pins WHICH docs
        )
        .join(F.broadcast(quotas), "lang")
        .select("lang", "n", "quota", "kept", "doc_id_sum")
        .orderBy("lang")
    )


_W_CASE = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _MIX_WEIGHTS.items()
)

_DATA_MIX_TARGET_SQL = f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n,
         CASE lang {_W_CASE} END AS w
  FROM documents GROUP BY lang
),
t AS (SELECT MIN(CAST(FLOOR(n / w) AS BIGINT)) AS t FROM counts),
quotas AS (
  SELECT lang, n, CAST(FLOOR(t.t * w) AS BIGINT) AS quota
  FROM counts CROSS JOIN t
),
ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id
         ) AS rn
  FROM documents
),
picked AS (
  SELECT r.lang, r.doc_id
  FROM ranked r JOIN quotas q ON r.lang = q.lang
  WHERE r.rn <= q.quota
)
SELECT q.lang, q.n, q.quota,
       CAST(COUNT(p.doc_id) AS BIGINT) AS kept,
       CAST(SUM(p.doc_id) AS BIGINT) AS doc_id_sum
FROM quotas q JOIN picked p ON q.lang = p.lang
GROUP BY q.lang, q.n, q.quota
ORDER BY q.lang
"""



def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: emails and US-style phone numbers replaced with
    typed placeholders, with per-document redaction counts.

    The fixture corpus carries no PII, so a deterministic synthetic
    contact line is appended to every 7th document first — the query
    then provably finds and removes exactly those plants (the count
    columns and the scrubbed text are both oracle-checked)."""
    d = load_table(spark, sf_dir, "documents")
    aug = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact john.doe@example.com or 555-123-4567"),
        ),
    ).otherwise(F.col("text"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("aug"), F.lit(_EMAIL_RE), F.lit("[EMAIL]")),
        F.lit(_PHONE_RE),
        F.lit("[PHONE]"),
    )
    return (
        d.select("doc_id", aug.alias("aug"))
        .select(
            "doc_id",
            F.size(F.regexp_extract_all(F.col("aug"), F.lit(_EMAIL_RE), F.lit(0)))
            .cast("int")
            .alias("n_emails"),
            F.size(F.regexp_extract_all(F.col("aug"), F.lit(_PHONE_RE), F.lit(0)))
            .cast("int")
            .alias("n_phones"),
            scrubbed.alias("scrubbed"),
        )
        .orderBy("doc_id")
    )


_PII_SCRUB_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact john.doe@example.com or 555-123-4567'
              ELSE text END AS aug
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(aug, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(aug, '{_PHONE_RE}')) AS INTEGER) AS n_phones,
       regexp_replace(regexp_replace(aug, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                      '{_PHONE_RE}', '[PHONE]', 'g') AS scrubbed
FROM aug ORDER BY doc_id
"""


# fraction of the mean per-source char mass each source may keep —
# the "N tokens per domain" budget of CommonCrawl-style curation,
# derived from the data so it binds at every scale factor
_SRC_BUDGET_PCT = 40


def q_source_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source content budget (the domain-cap op of pretraining
    curation: no single domain may contribute more than its budget of
    characters/tokens, FineWeb's overrepresentation guard): each
    source keeps documents in content-independent Knuth-hash order
    until the cumulative char mass would exceed the budget; the rest
    are dropped. Budget = {pct}% of the MEAN per-source char total —
    data-derived, so it binds identically at every sf.

    Plan: one scan → per-source window (hash rank + running char
    sum, one shuffle on source) against a broadcast 1-row budget;
    the emitted frame is the |sources|-row audit (docs/chars kept vs
    total, budget, utilization). All arithmetic is exact integers
    until the final 6dp ratios."""
    d = load_table(spark, sf_dir, "documents")
    totals = d.groupBy("source").agg(F.sum("n_chars").alias("src_chars"))
    budget = totals.agg(
        (F.floor(F.avg("src_chars") * _SRC_BUDGET_PCT / 100))
        .cast("long")
        .alias("budget")
    )
    h = ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(
        4294967296
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        d.select("source", "doc_id", "n_chars", h.alias("h"))
        .withColumn("cum_chars", F.sum("n_chars").over(w))
        .crossJoin(F.broadcast(budget))
        .withColumn("kept", F.col("cum_chars") <= F.col("budget"))
    )
    return (
        cum.groupBy("source", "budget")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("kept").cast("int")).cast("long").alias("n_kept"),
            F.sum("n_chars").alias("chars_total"),
            F.coalesce(
                F.sum(F.when(F.col("kept"), F.col("n_chars"))), F.lit(0)
            ).cast("long").alias("chars_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            "chars_total",
            "chars_kept",
            "budget",
            F.round(
                F.col("chars_kept") / F.col("budget").cast("double"), 6
            ).alias("budget_utilization"),
        )
        .orderBy("source")
    )


q_source_token_budget.__doc__ = q_source_token_budget.__doc__.format(
    pct=_SRC_BUDGET_PCT
)


_SOURCE_TOKEN_BUDGET_SQL = f"""
WITH budget AS (
  SELECT CAST(FLOOR(AVG(src_chars) * {_SRC_BUDGET_PCT} / 100) AS BIGINT)
           AS budget
  FROM (SELECT source, SUM(n_chars) AS src_chars
        FROM documents GROUP BY source)
),
cum AS (
  SELECT source, doc_id, n_chars, budget,
         SUM(n_chars) OVER (
           PARTITION BY source
           ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_chars
  FROM documents CROSS JOIN budget
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN cum_chars <= budget THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       CAST(COALESCE(SUM(CASE WHEN cum_chars <= budget THEN n_chars END), 0)
            AS BIGINT) AS chars_kept,
       budget,
       ROUND(COALESCE(SUM(CASE WHEN cum_chars <= budget THEN n_chars END), 0)
             / CAST(budget AS DOUBLE), 6) AS budget_utilization
FROM cum
GROUP BY source, budget
ORDER BY source
"""


def q_quality_classifier_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classifier-based quality filter (the fastText/logistic tier —
    GPT-3 appendix A, CCNet: train a linear classifier on cheap
    features, gate the corpus on its probability). Here: hashed
    bag-of-words features (no vocabulary object — the hashing trick,
    zero driver state in the feature step), full-batch logistic
    regression against the stored ``lang == 'en'`` flag as the
    weak label, then the top-20 docs by keep-probability (rounded
    6dp, doc_id tiebreak).

    Rows-only: the training loop is iterative (one distributed
    gradient pass per step, tree-reduced) — not SQL-expressible; the
    distributed-equals-local-numpy exactness, separation accuracy,
    and replay stability are pinned in
    tests/test_quality_classifier.py. Scale: per iteration ONE
    corpus pass emitting a (dim+1)-float partial per partition;
    driver state is the weight vector; ``sample_fraction`` is the
    documented 100-TB knob (classifiers train on subsets)."""
    from ..functions.frames import ranked_topk
    from ..operators.quality_classifier import (
        hashed_text_features,
        logreg_score,
        logreg_train,
    )

    d = load_table(spark, sf_dir, "documents").withColumn(
        "label", (F.col("lang") == "en").cast("int")
    )
    feats = hashed_text_features(d, n_features=256)
    w = logreg_train(feats, dim=257, iters=15, label_col="label")
    scored = logreg_score(feats, w).withColumn(
        "quality_prob", F.round("quality_prob", 6)
    )
    key = [F.col("quality_prob").desc(), F.col("doc_id").asc()]
    return ranked_topk(scored, key, 20).select(
        "rnk", "doc_id", "lang", "quality_prob"
    )


QUERIES = {
    "source_token_budget": q_source_token_budget,
    "data_mix_target": q_data_mix_target,
    "quality_repetition": q_quality_repetition,
    "data_mix_rebalance": q_data_mix_rebalance,
    "pii_scrub": q_pii_scrub,
    "quality_classifier_scores": q_quality_classifier_scores,
}

ORACLE = {
    "source_token_budget": _SOURCE_TOKEN_BUDGET_SQL,
    "data_mix_target": _DATA_MIX_TARGET_SQL,
    "quality_repetition": _QUALITY_REPETITION_SQL,
    "data_mix_rebalance": _DATA_MIX_REBALANCE_SQL,
    "pii_scrub": _PII_SCRUB_SQL,
}
