"""Tokenization-prep curation operators over the documents table —
the stage of a pretraining pipeline between quality filtering
(queries/quality.py) and the trainer: benchmark decontamination,
sequence packing into fixed token budgets, and overlapping-window
document chunking.

The reference has no document pipeline (scope stops at OHLCV rows,
`/root/reference/spark-job/etl_job.py`); these extend the SURVEY
§2.10 training-data tier. All three are exactly SQL-expressible and
oracle-checked.

Scale posture (100 TB):
- decontamination: the eval-benchmark n-gram set is tiny by
  construction (benchmarks are MBs) → broadcast; the corpus-side
  explode is never shuffled before the broadcast join cuts it to the
  hit rows; per-doc gram counts are computed INSIDE the row
  (size(array_distinct(...))), not via a grams-shaped shuffle.
- packing: two-phase distributed prefix sum (operators/packing.py) —
  no single-partition window anywhere on the big side.
- chunking: pure per-row explode (whole-stage codegen); output is
  written partitioned by bin/doc downstream.

Determinism: token split and n-gram construction are identical string
operations on both engines; the pack order key is the same Knuth
multiplicative hash used by q_data_mix_rebalance; every ratio is
rounded once, at the end, on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.columns import half_away_div_sql
from ..functions.frames import ranked_topk
from ..operators.dedup import minhash_lsh_match, minhash_signatures
from ..operators.packing import prefix_pack
from ..operators.partitioning import spread_for_expansion
from ..operators.text import normalized_sql, tokens, ws_tokens, ws_tokens_sql

NGRAM = 5  # decontamination shingle width (words)
EVAL_MOD = 23  # doc_id % EVAL_MOD == 0 → held-out "benchmark" doc
PACK_BUDGET = 512  # tokens per packed context window
CHUNK_LEN = 32  # chunk width (tokens)
CHUNK_STRIDE = 24  # chunk stride (tokens; overlap = LEN - STRIDE)

_TOKS_SQL = ws_tokens_sql("text")
_NORM_SQL = normalized_sql("text")


def _grams(toks: Column) -> Column:
    """All word NGRAM-grams of a token array, as space-joined strings."""
    return F.transform(
        F.sequence(F.lit(1), F.size(toks) - (NGRAM - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, NGRAM)),
    )


def q_decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing any word
    5-gram with the held-out eval slice (doc_id % 23 == 0), with
    overlap counts — the n-gram-overlap check run before pretraining
    so eval benchmarks don't leak into the training set.

    Plan shape: eval grams collapse to a broadcast set; the corpus
    explode meets it in a broadcast hash join, so only HIT grams are
    ever shuffled (keyed by doc_id, map-side combinable). Per-doc
    total gram counts come from size(array_distinct(...)) inside the
    row — no second shuffle over the full gram stream."""
    d = (
        # cheap rows → expensive expansion: spread the gram
        # construction across cores BEFORE exploding — but only when
        # the source arrives under-parallel (small local files); an
        # already-parallel scan is never reshuffled (the raw-text
        # repartition was round 2's one flagged scale killer)
        spread_for_expansion(
            load_table(spark, sf_dir, "documents"), "doc_id"
        )
        .select("doc_id", ws_tokens("text").alias("toks"))
        .filter(F.size("toks") >= NGRAM)
        # doc-level materialization barrier (r13, guide §3.3): d
        # feeds THREE branches (eval grams, corpus-hit grams,
        # per-doc totals) whose column-pruning differences defeat
        # subtree sharing — unmaterialized, the scan+tokenize ran 3x
        .localCheckpoint(eager=True)
    )
    # Two explode traps, both measured at sf0.1:
    # - explode(transform(...)) feeds a CodegenFallback HOF into
    #   Generate and the stage drops out of codegen (~9x slower) —
    #   so explode the INTEGER start positions and build each gram
    #   string after the explode;
    # - any expensive projection sharing a select with the explode
    #   gets collapsed ABOVE the Generate and re-evaluated per
    #   exploded row — so the per-doc n_grams count lives in its own
    #   explode-free branch, joined back to the (tiny) hit aggregate.
    grams = d.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(1), F.size("toks") - (NGRAM - 1))).alias(
            "i"
        ),
    ).select(
        "doc_id",
        F.concat_ws(" ", F.slice("toks", F.col("i"), NGRAM)).alias("gram"),
    )
    eval_grams = (
        grams.filter(F.col("doc_id") % EVAL_MOD == 0).select("gram").distinct()
    )
    per_doc = d.select(
        "doc_id",
        F.size(F.array_distinct(_grams(F.col("toks")))).cast("long").alias(
            "n_grams"
        ),
    )
    hits = (
        grams.filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_hits"))
        # unhinted: AQE broadcasts the hit side when it is small (the
        # common case), but nothing breaks if half the corpus hits
        .join(per_doc, "doc_id")
    )
    return hits.select(
        "doc_id",
        "n_grams",
        "n_hits",
        F.round(F.col("n_hits") / F.col("n_grams").cast("double"), 6).alias(
            "hit_frac"
        ),
    ).orderBy("doc_id")


_DECONTAMINATE_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS s FROM documents
),
with_grams AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(s) - {NGRAM - 1}),
                        i -> array_to_string(list_slice(s, i, i + {NGRAM - 1}), ' ')) AS grams
  FROM toks WHERE len(s) >= {NGRAM}
),
counted AS (
  SELECT doc_id, grams,
         CAST(len(list_distinct(grams)) AS BIGINT) AS n_grams
  FROM with_grams
),
eval_grams AS (
  SELECT DISTINCT unnest(grams) AS gram FROM counted
  WHERE doc_id % {EVAL_MOD} = 0
),
corpus AS (
  SELECT doc_id, n_grams, unnest(grams) AS gram FROM counted
  WHERE doc_id % {EVAL_MOD} <> 0
)
SELECT c.doc_id, c.n_grams,
       CAST(COUNT(DISTINCT c.gram) AS BIGINT) AS n_hits,
       ROUND(COUNT(DISTINCT c.gram) / CAST(c.n_grams AS DOUBLE), 6) AS hit_frac
FROM corpus c JOIN eval_grams e USING (gram)
GROUP BY c.doc_id, c.n_grams
ORDER BY c.doc_id
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents head-to-tail into 512-token context-window bins
    in deterministic hash order (operators/packing.py two-phase
    prefix sum — no single-partition window)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(ws_tokens("text")).cast("long").alias("n_tokens"),
        (((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(4294967296)).alias("h"),
    )
    packed = prefix_pack(
        d,
        weight_col="n_tokens",
        order_col="h",
        tiebreak_col="doc_id",
        budget=PACK_BUDGET,
    )
    return packed.select("doc_id", "n_tokens", "bin_id").orderBy("doc_id")


_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
         ((doc_id % 2147483648) * 2654435761) % 4294967296 AS h
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (
           ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT doc_id, n_tokens, CAST((cum - n_tokens) // {PACK_BUDGET} AS BIGINT) AS bin_id
FROM c ORDER BY doc_id
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping token windows (len 32, stride
    24) — the long-document treatment feeding embedding / context
    models. Pure per-row explode; the tail chunk may be short and
    chunks are attributed to their start offset."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", ws_tokens("text").alias("toks")
    )
    d = d.filter(F.size("toks") >= 1)
    starts = F.sequence(F.lit(1), F.size("toks"), F.lit(CHUNK_STRIDE))
    chunked = d.select(
        "doc_id", F.col("toks"), F.explode(starts).alias("start")
    )
    chunk = F.slice(F.col("toks"), F.col("start"), CHUNK_LEN)
    return chunked.select(
        "doc_id",
        F.expr(f"(start - 1) div {CHUNK_STRIDE}").cast("long").alias("chunk_id"),
        F.col("start").cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    ).orderBy("doc_id", "chunk_id")


_CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS s FROM documents
),
starts AS (
  SELECT doc_id, s, unnest(generate_series(1, len(s), {CHUNK_STRIDE})) AS start
  FROM toks WHERE len(s) >= 1
)
SELECT doc_id,
       CAST((start - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(start AS BIGINT) AS start_tok,
       CAST(len(list_slice(s, start, start + {CHUNK_LEN - 1})) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(s, start, start + {CHUNK_LEN - 1}), ' ') AS chunk_text
FROM starts ORDER BY doc_id, chunk_id
"""


# frozen classifier weights for the corpus pipeline's stage 3b, one
# train per (sf_dir, corpus fingerprint) per process: the PIPELINE
# contract wants frozen weights (training inside an increment would
# let later data move earlier decisions), and the cache keeps
# attestation/registry reruns from paying the training loop twice
_CORPUS_CLASSIFIER_CACHE: dict[tuple[str, str], object] = {}
_CORPUS_CLS_FEATURES = 64


def _corpus_classifier_weights(spark: SparkSession, sf_dir: str):
    """(weights, threshold): frozen at TRAIN time, together. The
    fixture's weak label (lang=='en') is barely separable from the
    synthetic text, so scores cluster below any absolute cut — the
    gate therefore freezes a KEEP-RATE threshold instead (the 40th
    percentile of the rounded train-time scores ⇒ ~60% keep), the
    budget pattern operators/quality_classifier.logreg_score
    prescribes. Both numbers are deterministic (full-batch GD, exact
    percentile, 6dp rounding), so every process re-derives the same
    frozen pair."""
    from ..operators.quality_classifier import (
        hashed_text_features,
        logreg_score,
        logreg_train,
    )
    from .retrieval import _table_fingerprint

    key = (sf_dir, _table_fingerprint(sf_dir, table="documents"))
    hit = _CORPUS_CLASSIFIER_CACHE.get(key)
    if hit is None:
        d = load_table(spark, sf_dir, "documents").withColumn(
            "label", (F.col("lang") == "en").cast("int")
        )
        feats = hashed_text_features(d, n_features=_CORPUS_CLS_FEATURES)
        w = logreg_train(
            feats,
            dim=_CORPUS_CLS_FEATURES + 1,
            iters=10,
            label_col="label",
        )
        thr = round(
            logreg_score(feats, w)
            .select(
                F.expr("percentile(round(quality_prob, 6), 0.4)")
            )
            .collect()[0][0],
            6,
        )
        hit = (w, thr)
        _CORPUS_CLASSIFIER_CACHE[key] = hit
    return hit


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curated-corpus build (pipeline/corpus.py) with ALL
    tiers enabled: exact dedup, CDC chunk-level dedup (≥60%
    duplicated bytes), near-dup collapse, heuristic quality gate,
    frozen-classifier gate (lang=='en' weak label, weights +
    keep-rate threshold frozen at train time and process-cached),
    5-gram + fuzzy decontamination vs the doc_id%23 eval slice, hash
    split, token packing. Rows-only driver entry (MinHash banding is
    probabilistic by design); the pipeline invariants and the
    increment≡rebuild equivalence with these stages on are pinned in
    tests/test_corpus.py."""
    from ..pipeline.corpus import build_training_corpus

    d = load_table(spark, sf_dir, "documents")
    eval_slice = d.filter(F.col("doc_id") % EVAL_MOD == 0)
    corpus = d.filter(F.col("doc_id") % EVAL_MOD != 0)
    w, thr = _corpus_classifier_weights(spark, sf_dir)
    return build_training_corpus(
        corpus,
        eval_slice,
        chunk_dup_threshold=0.6,
        classifier_weights=w,
        classifier_threshold=thr,
        classifier_n_features=_CORPUS_CLS_FEATURES,
    ).orderBy("doc_id")


def q_corpus_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus build run as TWO increments with carried state
    (pipeline/corpus.py corpus_increment), same stages as
    q_corpus_pipeline: docs below the id midpoint arrive as day 1,
    the rest as day 2 — fingerprints, signatures, chunk hashes and
    pack offsets carry between them; the classifier runs with the
    SAME frozen weights in both increments. Rows-only driver entry;
    increment ≡ full-rebuild equivalence is pinned in
    tests/test_corpus.py::test_corpus_increments_equal_full_rebuild."""
    from ..pipeline.corpus import corpus_increment, new_corpus_state

    d = load_table(spark, sf_dir, "documents")
    eval_slice = d.filter(F.col("doc_id") % EVAL_MOD == 0)
    corpus = d.filter(F.col("doc_id") % EVAL_MOD != 0)
    w, thr = _corpus_classifier_weights(spark, sf_dir)
    stages = dict(
        chunk_dup_threshold=0.6,
        classifier_weights=w,
        classifier_threshold=thr,
        classifier_n_features=_CORPUS_CLS_FEATURES,
    )
    mid = 250  # fixture ids start at 0; sf0.001 already has 500 docs
    state = new_corpus_state(spark)
    out1, state = corpus_increment(
        corpus.filter(F.col("doc_id") < mid), eval_slice, state, **stages
    )
    out2, _state = corpus_increment(
        corpus.filter(F.col("doc_id") >= mid), eval_slice, state, **stages
    )
    return out1.unionByName(out2).orderBy("doc_id")


def q_importance_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-selection importance ranking (DSIR, Xie et al. 2023,
    arXiv:2302.03169): score every out-of-target document by how much
    its unigram bag looks like the TARGET slice (here lang='en')
    versus the raw corpus, and surface the top 20 — the selection
    statistic pipelines use to up-sample target-like data from a web
    crawl. The paper hashes features for memory; the fixture-exact
    variant keeps the literal unigram as the feature key so the whole
    computation stays SQL-expressible and oracle-checked (a hashed
    twin would only change the feature-id column).

    avg_llr(d) = Σ_t tf_dt·(ln p̂_T(t) − ln p̂_R(t)) / n_tokens(d),
    Laplace-smoothed over the raw vocabulary: p̂(t) = (c_t+1)/(N+V).
    Length normalization keeps the score comparable across doc sizes.

    Scale shape: ONE map-combinable term aggregate computes raw AND
    target counts per term (the target count is a conditional sum —
    no separate target aggregate, no raw⋈tgt join). The weight table
    grows with the corpus (Heaps' law) so its join onto tf is left
    un-hinted — a plain shuffle join that AQE upgrades to broadcast
    when the vocab is genuinely small. The three scalars (N_T, N_R,
    V) fold out of the same table as one broadcast row. No all-pairs
    anywhere; top-20 is TakeOrderedAndProject.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(ws_tokens("text")).alias("term")
    )
    # ONE corpus pass (r13, guide §3.3): tf carries lang (a doc
    # attribute — adding it to the grouping keys changes nothing) and
    # is eagerly materialized; vocab/consts/scored all re-aggregate
    # the checkpointed table instead of re-deriving the scan+explode
    # subtree (the before-plan showed 12 document scans for this one
    # query). The per-term target count equals the sum of the target
    # slice's per-doc tfs.
    tf = (
        toks.groupBy("doc_id", "lang", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    # ONE vocab pass (r13 second iteration): raw and target counts
    # come out of the SAME groupBy("term") — ct is the conditional
    # sum over the target slice, so the former raw⋈tgt left join (and
    # its second aggregate + checkpoint) disappears. A term with no
    # target occurrences gets ct NULL (sum over an empty when-set),
    # exactly what the left join produced; COALESCE(ct,0) below is
    # unchanged. consts folds nr, v AND nt from this one table.
    vocab = (
        tf.groupBy("term")
        .agg(
            F.sum("tf").alias("cr"),
            F.sum(F.when(F.col("lang") == "en", F.col("tf"))).alias("ct"),
        )
        .localCheckpoint(eager=True)  # vocab-sized; feeds llr + consts
    )
    consts = vocab.agg(
        F.sum("cr").cast("double").alias("nr"),
        F.count(F.lit(1)).cast("double").alias("v"),
        F.coalesce(F.sum("ct"), F.lit(0)).cast("double").alias("nt"),
    )
    llr = vocab.crossJoin(F.broadcast(consts)).select(
        "term",
        (
            F.log(
                (F.coalesce(F.col("ct"), F.lit(0)) + 1)
                / (F.col("nt") + F.col("v"))
            )
            - F.log((F.col("cr") + 1) / (F.col("nr") + F.col("v")))
        ).alias("llr"),
    )
    scored = (
        tf.join(llr, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            (F.sum(F.col("tf") * F.col("llr")) / F.sum("tf")).alias("allr"),
        )
    )
    # distributed top-k (TakeOrderedAndProject), NOT a global
    # row_number window — the rank is assigned after the limit, so
    # the only single-partition work is the 20-row result
    key = [F.round("allr", 6).desc(), F.col("doc_id").asc()]
    pool = scored.join(d.select("doc_id", "lang", "source"), "doc_id").filter(
        F.col("lang") != "en"
    )
    return ranked_topk(pool, key, 20).select(
        "rnk",
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        F.round("allr", 6).alias("avg_llr"),
    )


_IMPORTANCE_RANK_SQL = f"""
WITH docs AS (
  SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents
),
toks AS (SELECT doc_id, lang, unnest(toks) AS term FROM docs),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
raw AS (SELECT term, SUM(tf) AS cr FROM tf GROUP BY term),
tgt AS (
  SELECT term, COUNT(*) AS ct FROM toks WHERE lang = 'en' GROUP BY term
),
consts AS (
  SELECT CAST(SUM(cr) AS DOUBLE) AS nr, CAST(COUNT(*) AS DOUBLE) AS v
  FROM raw
),
tconst AS (SELECT CAST(COALESCE(SUM(ct), 0) AS DOUBLE) AS nt FROM tgt),
llr AS (
  SELECT raw.term,
         ln((COALESCE(tgt.ct, 0) + 1) / (tconst.nt + consts.v))
         - ln((raw.cr + 1) / (consts.nr + consts.v)) AS llr
  FROM raw LEFT JOIN tgt USING (term)
  CROSS JOIN consts CROSS JOIN tconst
),
scored AS (
  SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
         SUM(tf.tf * llr.llr) / SUM(tf.tf) AS allr
  FROM tf JOIN llr USING (term)
  GROUP BY tf.doc_id
)
SELECT rnk, doc_id, lang, source, n_tokens, ROUND(allr, 6) AS avg_llr
FROM (
  SELECT ROW_NUMBER() OVER (ORDER BY ROUND(s.allr, 6) DESC, d.doc_id ASC)
           AS rnk,
         d.doc_id, d.lang, d.source, s.n_tokens, s.allr
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
  WHERE d.lang <> 'en'
)
WHERE rnk <= 20
"""



def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination: corpus documents whose MinHash
    signature near-matches any held-out eval doc (doc_id % 23 == 0) —
    catches the paraphrased/partially-edited leakage the exact 5-gram
    check (q_decontaminate_ngrams) misses. The standard second pass
    LLM data pipelines run before pretraining.

    Plan shape: the eval side is benchmark-sized by construction, so
    its band rows and signatures BROADCAST; the corpus streams
    through one (band, band-hash) hash join — no corpus-corpus
    self-join anywhere (operators/dedup.py::minhash_lsh_match).

    Rows-only (MinHash is probabilistic by design); recall against
    exact n-gram-Jaccard ground truth is pinned in
    tests/test_curation.py::test_decontaminate_fuzzy_recall.
    """
    d = load_table(spark, sf_dir, "documents")
    # corpus and eval are disjoint slices of ONE table: sign it once
    # and hand both filtered views to the matcher (half the signature
    # jobs vs signing each slice separately). LAZY checkpoint (r14):
    # the matcher's FIRST job is the probe-band broadcast build, which
    # computes every sig partition — it doubles as the materialization
    # job, so the eager form's separate serial signature job is gone.
    # (minhash_lsh_pairs keeps ITS checkpoint eager: there the first
    # consumer is the final self-join job where the sig subtree
    # appears 3x concurrently — measured recomputation hazard, see
    # _cap_hot_buckets.)
    sig = minhash_signatures(d).localCheckpoint(eager=False)
    pairs = minhash_lsh_match(
        None,
        None,
        verify_threshold=0.5,
        max_bucket=64,
        corpus_sig=sig.filter(F.col("id") % EVAL_MOD != 0),
        probe_sig=sig.filter(F.col("id") % EVAL_MOD == 0),
    )
    return (
        pairs.groupBy("corpus_id")
        .agg(
            F.count(F.lit(1)).alias("n_eval_matches"),
            F.round(F.max("est_jaccard"), 6).alias("best_est_jaccard"),
            F.min("probe_id").alias("first_eval_id"),
        )
        .withColumnRenamed("corpus_id", "doc_id")
        .orderBy("doc_id")
    )


def q_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware sequence packing: the pack_sequences shape, but
    weighted by the REAL token counts of a trained BPE tokenizer
    (train 8 merges → Arrow-batched encode → two-phase prefix pack).
    Whitespace word counts mis-size context windows the moment a real
    tokenizer is used; this is the composition a pretraining pipeline
    actually runs. Rows-only (the trained merge list is not
    SQL-expressible); the packing kernel and the encoder each carry
    their own oracle/ground-truth (pack_sequences PASS,
    tests/test_bpe.py)."""
    from ..operators.bpe import bpe_encode, bpe_train

    d = load_table(spark, sf_dir, "documents")
    model = bpe_train(d, num_merges=8, min_freq=2)
    counts = bpe_encode(d, model).select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_tokens"),
        (
            ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761))
            % F.lit(4294967296)
        ).alias("h"),
    )
    packed = prefix_pack(
        counts,
        weight_col="n_tokens",
        order_col="h",
        tiebreak_col="doc_id",
        budget=PACK_BUDGET,
    )
    return packed.select("doc_id", "n_tokens", "bin_id").orderBy("doc_id")


def q_curriculum_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered packing: documents packed easy→hard by
    corpus-unigram average log-probability (high avg-logprob = typical
    text first, surprising/noisy text last — the curriculum-learning
    data order), into fixed 512-token bins via the same two-phase
    distributed prefix sum as pack_sequences.

    Determinism: per-(doc, term) log-prob contributions round ONCE to
    integer micro-nat ticks and sum exactly; the per-token average is
    rounded to 6dp in integer ticks (exact half-away-from-zero on both
    engines); the order key is that tick negated into a non-negative
    integer key (prefix_pack's integral-key contract), tiebroken by
    doc_id. Scale: the same two map-combinable shuffles as TF-IDF
    plus the bucketed prefix sum — no single-partition window."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(tokens("text")).alias("term"),
    )
    # per-(doc, term) materialization barrier (r13, guide §3.3): tf
    # feeds the vocab aggregate AND the score join; unmaterialized,
    # each consumer re-derived the whole scan+explode+tf subtree (the
    # before-plan shows 12 document scans for this one query) — the
    # corpus is now tokenized exactly once.
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    # vocab-sized barrier: `uni` feeds both the score join and
    # `total`; materializing it keeps the term-scale tf from being
    # re-aggregated per consumer.
    uni = (
        tf.groupBy("term")
        .agg(F.sum("tf").alias("ct"))
        .localCheckpoint(eager=True)
    )
    total = uni.agg(F.sum("ct").cast("double").alias("total"))
    scored = (
        tf.join(uni, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(
                F.round(
                    F.col("tf")
                    * F.log(F.col("ct") / F.col("total"))
                    * 1_000_000
                ).cast("long")
            ).alias("lp_ticks"),
        )
    )
    # the 6dp average as an exact integer tick (lp_ticks / n_tokens,
    # half away from zero), divided by 1e6 once
    scored = scored.selectExpr(
        "doc_id",
        "n_tokens",
        f"{half_away_div_sql('lp_ticks', 'n_tokens')} AS avg_tick",
    ).selectExpr(
        "doc_id",
        "n_tokens",
        "avg_tick / 1000000.0D AS avg_logprob",
        "-avg_tick AS k",
    )
    packed = prefix_pack(
        scored,
        weight_col="n_tokens",
        order_col="k",
        tiebreak_col="doc_id",
        budget=PACK_BUDGET,
    )
    return packed.select(
        "doc_id", "n_tokens", "avg_logprob", "bin_id"
    ).orderBy("doc_id")


_CURRICULUM_PACK_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split({_NORM_SQL}, ' ')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
uni AS (SELECT term, SUM(tf) AS ct FROM tf GROUP BY term),
tot AS (SELECT CAST(SUM(ct) AS DOUBLE) AS total FROM uni),
scored AS (
  SELECT tf.doc_id,
         CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
         SUM(CAST(ROUND(tf.tf * ln(uni.ct / tot.total) * 1000000) AS BIGINT)) AS lp_ticks
  FROM tf JOIN uni USING (term) CROSS JOIN tot
  GROUP BY tf.doc_id
),
ticked AS (
  SELECT doc_id, n_tokens,
         sign(lp_ticks) * ((2 * abs(lp_ticks) + n_tokens) // (2 * n_tokens))
           AS avg_tick
  FROM scored
),
keyed AS (
  SELECT doc_id, n_tokens,
         CAST(avg_tick AS DOUBLE) / 1000000.0 AS avg_logprob,
         -avg_tick AS k
  FROM ticked
),
c AS (
  SELECT doc_id, n_tokens, avg_logprob,
         SUM(n_tokens) OVER (
           ORDER BY k, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM keyed
)
SELECT doc_id, n_tokens, avg_logprob,
       CAST((cum - n_tokens) // {PACK_BUDGET} AS BIGINT) AS bin_id
FROM c ORDER BY doc_id
"""


QUERIES = {
    "decontaminate_ngrams": q_decontaminate_ngrams,
    "pack_sequences": q_pack_sequences,
    "pack_bpe": q_pack_bpe,
    "chunk_documents": q_chunk_documents,
    "corpus_pipeline": q_corpus_pipeline,
    "corpus_incremental": q_corpus_incremental,
    "importance_rank": q_importance_rank,
    "decontaminate_fuzzy": q_decontaminate_fuzzy,
    "curriculum_pack": q_curriculum_pack,
}

ORACLE = {
    "decontaminate_ngrams": _DECONTAMINATE_SQL,
    "pack_sequences": _PACK_SQL,
    "chunk_documents": _CHUNK_SQL,
    "importance_rank": _IMPORTANCE_RANK_SQL,
    "curriculum_pack": _CURRICULUM_PACK_SQL,
}
