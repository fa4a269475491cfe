"""End-to-end training-corpus builder: the LLM-data pipeline the
extension tiers exist for, composed into ONE DataFrame→DataFrame
function. The reference's closest analogue is the 6-stage crawl→ETL→ML
chain stitched by its scheduler (reference docker/scheduler.py:28-35);
here the chain is declarative and every stage is an operator this repo
already tests in isolation:

  1. exact dedup           (operators/dedup.exact_dedup)
  1b. chunk-level dedup    (OPTIONAL, ``chunk_dup_threshold``:
                            content-defined chunking → drop docs whose
                            byte share in chunks first seen in a
                            smaller-id document exceeds the threshold —
                            the sub-document boilerplate/mirror case
                            exact and near dedup both miss)
  2. near-dup collapse     (minhash_lsh_pairs → connected_components,
                            keep the min-id representative per cluster)
  3. quality gate          (token count + type-token ratio)
  3b. classifier gate      (OPTIONAL, ``classifier_weights``: frozen
                            logistic-regression keep-probability over
                            hashed bag-of-words features, round-6dp
                            thresholded — the model-based quality tier,
                            same frozen-weights discipline as
                            streaming/classifier.py)
  4. decontamination       (word-5-gram overlap vs a held-out eval set,
                            broadcast gram probe, PLUS the fuzzy pass:
                            asymmetric MinHash-LSH match against the
                            eval side for paraphrased leakage)
  5. leakage-safe split    (deterministic hash; near-dup safety comes
                            from step 2 — one representative per
                            cluster means no near-pair can straddle)
  6. sequence packing      (token-budget bins per split via the
                            distributed prefix sum in operators/packing)

Scale: stages 1-4 are the operators' documented scale shapes (hash
groupBy / LSH band join / map-side quality exprs / broadcast gram
set); the split is a pure map-side predicate; packing's only global
structure is its bucket-offset table. Nothing here collects rows to
the driver. The chunk stage's dup test is one map-combinable
min-groupBy over the chunk table (O(chunks), never docs²); the
classifier stage is one Arrow feature+score pass with the weight
vector closed over (O(model) driver state).

Deterministic end to end (fixed seeds, hash splits) but MinHash
banding is probabilistic IN DESIGN, so the driver entry is rows-only;
the pipeline invariants are pinned in tests/test_corpus.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.sqltext import pin_sql_text_conf
from ..operators.chunking import chunk_dup_doc_ids, content_defined_chunks
from ..operators.dedup import (
    exact_dedup,
    minhash_dedup_incremental,
    minhash_lsh_match,
    minhash_lsh_pairs,
    minhash_signatures,
    shingles,
)
from ..operators.graph import connected_components
from ..operators.packing import prefix_pack
from ..operators.quality_classifier import hashed_text_features, logreg_score
from ..operators.sampling import train_test_split_by_key
from ..operators.text import fingerprint, tokens

NGRAM = 5
MIN_TOKENS = 8
MIN_TTR = 0.3  # type-token ratio floor (repetition gate)
JACCARD_NEAR_DUP = 0.5
JACCARD_FUZZY_DECON = 0.5
PACK_BUDGET = 256  # tokens per packed bin
CLASSIFIER_N_FEATURES = 256  # hashed-BoW width for the optional gate


def _classifier_gate(
    d: DataFrame,
    weights: np.ndarray,
    *,
    text_col: str,
    threshold: float,
    n_features: int,
) -> DataFrame:
    """Keep docs whose frozen-classifier keep-probability ≥ threshold.
    The score is rounded to 6dp BEFORE thresholding (the streaming
    gate's replay-determinism rule, streaming/classifier.py); the
    feature array is dropped before any later shuffle."""
    return (
        logreg_score(
            hashed_text_features(
                d, text_col=text_col, n_features=n_features
            ),
            weights,
        )
        .withColumn("quality_prob", F.round("quality_prob", 6))
        .filter(F.col("quality_prob") >= threshold)
        .drop("features", "quality_prob")
    )


def build_training_corpus(
    docs: DataFrame,
    eval_docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    test_fraction: float = 0.1,
    chunk_dup_threshold: float | None = None,
    classifier_weights: np.ndarray | None = None,
    classifier_threshold: float = 0.5,
    classifier_n_features: int = CLASSIFIER_N_FEATURES,
) -> DataFrame:
    """docs + held-out eval_docs → curated, split, packed corpus.

    Returns one row per surviving document:
    (doc_id, n_tokens, ttr, split, bin_id) — bin_id is per-split,
    so the packed-bin key is (split, bin_id).

    ``chunk_dup_threshold`` enables stage 1b (CDC chunk dedup);
    ``classifier_weights`` (a FROZEN vector from
    operators/quality_classifier.logreg_train, len =
    classifier_n_features+1) enables stage 3b."""
    pin_sql_text_conf(docs.sparkSession)
    # 1. exact dedup on normalized content
    d = exact_dedup(docs, text_col=text_col, id_col=id_col)

    # 1b. optional chunk-level dedup (sub-document duplication)
    if chunk_dup_threshold is not None:
        chunk_dups = chunk_dup_doc_ids(
            d,
            text_col=text_col,
            id_col=id_col,
            threshold=chunk_dup_threshold,
        )
        d = d.join(chunk_dups, id_col, "left_anti")

    # 2. near-dup collapse: LSH pairs above the Jaccard estimate →
    #    components → drop everything but each cluster's min id
    pairs = minhash_lsh_pairs(
        d, text_col=text_col, id_col=id_col, verify_threshold=JACCARD_NEAR_DUP
    )
    comp = connected_components(pairs)  # (id, label=min of component)
    losers = comp.filter(F.col("id") != F.col("label")).select(
        F.col("id").alias(id_col)
    )
    d = d.join(losers, id_col, "left_anti")

    # 3. quality gate: enough tokens, not too repetitive
    d = (
        d.withColumn("_toks", tokens(text_col))
        .withColumn("n_tokens", F.size("_toks").cast("long"))
        .withColumn(
            "ttr",
            F.round(
                F.size(F.array_distinct("_toks"))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ),
        )
        .filter((F.col("n_tokens") >= MIN_TOKENS) & (F.col("ttr") >= MIN_TTR))
        .drop("_toks")  # token arrays must not ride the later shuffles
    )

    # 3b. optional frozen-classifier quality gate
    if classifier_weights is not None:
        d = _classifier_gate(
            d,
            classifier_weights,
            text_col=text_col,
            threshold=classifier_threshold,
            n_features=classifier_n_features,
        )

    # 4. decontamination: drop docs sharing any word-5-gram with eval
    eval_grams = (
        eval_docs.select(
            F.explode(shingles(text_col, NGRAM)).alias("gram")
        )
        .distinct()
    )
    doc_grams = d.select(
        id_col, F.explode(shingles(text_col, NGRAM)).alias("gram")
    )
    contaminated = (
        doc_grams.join(F.broadcast(eval_grams), "gram")
        .select(id_col)
        .distinct()
    )
    d = d.join(contaminated, id_col, "left_anti")

    # 4b. fuzzy decontamination: paraphrased leakage the exact 5-gram
    #     overlap misses — asymmetric LSH match, eval side broadcast
    fuzzy = (
        minhash_lsh_match(
            d,
            eval_docs,
            text_col=text_col,
            id_col=id_col,
            verify_threshold=JACCARD_FUZZY_DECON,
        )
        .select(F.col("corpus_id").alias(id_col))
        .distinct()
    )
    d = d.join(fuzzy, id_col, "left_anti")

    # 5. leakage-safe deterministic split (near-dup-safe via step 2)
    train, test = train_test_split_by_key(d, [id_col], test_fraction)

    # 6. pack each split into fixed token-budget bins; bin_id counts
    #    from 0 WITHIN each split — (split, bin_id) is the bin key
    def pack(split_df: DataFrame, name: str) -> DataFrame:
        packed = prefix_pack(
            split_df.select(id_col, "n_tokens", "ttr"),
            weight_col="n_tokens",
            order_col=id_col,
            tiebreak_col=id_col,
            budget=PACK_BUDGET,
        )
        return packed.withColumn("split", F.lit(name))

    out = pack(train, "train").unionByName(pack(test, "test"))
    return out.select(id_col, "n_tokens", "ttr", "split", "bin_id")


# ---------------------------------------------------------------------------
# Incremental corpus build: the same six stages per-INCREMENT with
# carried state — the realistic pretraining-data refresh (a daily crawl
# drop lands; only the new docs pay compute, history participates via
# three compact state tables). Composes the watermark-increment
# discipline of pipeline/etl.py incremental_etl with the streaming
# dedup state of streaming/dedup.py.
#
# State carried between increments (each table is id/fingerprint-sized,
# never text-sized):
#   fp     — every content fingerprint ever seen (exact-dedup memory)
#   sig    — MinHash signature of EVERY exact-surviving doc, including
#            near-dup losers: links must be testable against dropped
#            docs too, or a chain A<B<C split across batches would keep
#            C that a full rebuild drops
#   chunks — chunk hashes of every exact-surviving doc (only when the
#            chunk stage is enabled). This is the CDC chunk index —
#            proportional to corpus CHUNK count (one 32-byte hash per
#            ~avg_size bytes of text), the standing cost every
#            CDC-dedup system pays; shard it by hash at scale
#   pack   — per-split carried token totals (two longs), so bin
#            numbering continues exactly where the last increment ended
#
# Equivalence contract (pinned in tests/test_corpus.py): increments
# reproduce the full rebuild bit-for-bit when (a) doc ids are assigned
# in arrival order (every batch's ids exceed all earlier ids) and
# (b) within each near-dup cluster every non-min member links to some
# smaller id (clique/star shapes — the standard copied-source case).
# Without (b) a rebuild can retroactively drop an early doc via a path
# through a LATER doc — a decision no incremental system can make at
# the early doc's arrival time.
# ---------------------------------------------------------------------------


def new_corpus_state(spark: SparkSession) -> dict:
    """Empty carried state for corpus_increment."""
    return {
        "fp": spark.createDataFrame([], "_fp string"),
        "sig": spark.createDataFrame([], "id bigint, sig array<bigint>"),
        "chunks": spark.createDataFrame([], "chunk_hash string"),
        "pack": {"train": 0, "test": 0},
    }


def corpus_increment(
    batch_docs: DataFrame,
    eval_docs: DataFrame,
    state: dict,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    test_fraction: float = 0.1,
    chunk_dup_threshold: float | None = None,
    classifier_weights: np.ndarray | None = None,
    classifier_threshold: float = 0.5,
    classifier_n_features: int = CLASSIFIER_N_FEATURES,
) -> tuple[DataFrame, dict]:
    """One increment of the corpus build (see block comment above).

    Returns ``(corpus_rows, new_state)`` — corpus_rows has the same
    schema as build_training_corpus (doc_id, n_tokens, ttr, split,
    bin_id) but covers only THIS batch's survivors; concatenating all
    increments' rows equals the full rebuild under the equivalence
    contract. The returned state frames are eagerly checkpointed so
    the next increment does not re-execute this one's lineage.
    """
    spark = batch_docs.sparkSession
    pin_sql_text_conf(spark)

    # 1. exact dedup: drop in-batch later copies, then anything whose
    #    fingerprint history has seen (monotone ids ⇒ history copy is
    #    the rebuild's min-id representative)
    hashed = batch_docs.withColumn(
        "_fp", fingerprint(text_col)
    )
    w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc())
    in_batch = (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    d = in_batch.join(state["fp"], "_fp", "left_anti").drop("_fp")
    # append ONLY the genuinely-new fingerprints (batch-distinct,
    # anti-joined against state): the union is then disjoint by
    # construction, so no history-sized re-distinct — each increment
    # pays O(|batch|) compute plus one probe of the state, keeping the
    # "only the new docs pay compute" contract
    batch_fps = hashed.select("_fp").distinct()
    new_fp = state["fp"].unionByName(
        batch_fps.join(state["fp"], "_fp", "left_anti")
    )

    # 1b. optional chunk-level dedup: dup = chunk seen in history
    #     (all smaller ids under monotone arrival) or owned by a
    #     smaller id within the batch — exactly the rebuild's min-id
    #     rule. The chunk index accumulates ALL exact survivors'
    #     chunks (this stage's own drops included), mirroring sig.
    new_chunks = state.get("chunks")
    if chunk_dup_threshold is not None:
        # chunk ONCE (checkpointed): the frame feeds the dup test, the
        # state update, and both sides inside the helper — without the
        # barrier the per-byte rolling-hash UDF re-runs per consumer
        batch_chunks = content_defined_chunks(
            d, text_col=text_col, id_col=id_col
        ).localCheckpoint(eager=True)
        chunk_dups = chunk_dup_doc_ids(
            d,
            text_col=text_col,
            id_col=id_col,
            threshold=chunk_dup_threshold,
            history_chunks=state["chunks"],
            chunks=batch_chunks,
        )
        batch_chunk_hashes = batch_chunks.select("chunk_hash").distinct()
        new_chunks = state["chunks"].unionByName(
            batch_chunk_hashes.join(
                state["chunks"], "chunk_hash", "left_anti"
            )
        )
        d = d.join(chunk_dups, id_col, "left_anti")

    # 2. near-dup vs state + self (same signature params as the
    #    rebuild's minhash_lsh_pairs). State grows by ALL of this
    #    batch's exact survivors — losers included — per the contract.
    verdicts, _updated = minhash_dedup_incremental(
        d,
        state["sig"],
        text_col=text_col,
        id_col=id_col,
        verify_threshold=JACCARD_NEAR_DUP,
    )
    d = d.join(
        verdicts.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )
    new_sig = state["sig"].unionByName(
        minhash_signatures(in_batch.drop("_fp"), text_col=text_col, id_col=id_col)
    )

    # 3. quality gate — per-doc, identical to the rebuild
    d = (
        d.withColumn("_toks", tokens(text_col))
        .withColumn("n_tokens", F.size("_toks").cast("long"))
        .withColumn(
            "ttr",
            F.round(
                F.size(F.array_distinct("_toks"))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ),
        )
        .filter((F.col("n_tokens") >= MIN_TOKENS) & (F.col("ttr") >= MIN_TTR))
        .drop("_toks")
    )

    # 3b. optional frozen-classifier gate — stateless per doc with
    #     FROZEN weights, so increment ≡ rebuild holds trivially
    #     (training inside the increment would break it: later data
    #     would move earlier decisions)
    if classifier_weights is not None:
        d = _classifier_gate(
            d,
            classifier_weights,
            text_col=text_col,
            threshold=classifier_threshold,
            n_features=classifier_n_features,
        )

    # 4. decontamination — eval set is fixed, broadcast gram probe
    eval_grams = eval_docs.select(
        F.explode(shingles(text_col, NGRAM)).alias("gram")
    ).distinct()
    doc_grams = d.select(
        id_col, F.explode(shingles(text_col, NGRAM)).alias("gram")
    )
    contaminated = (
        doc_grams.join(F.broadcast(eval_grams), "gram").select(id_col).distinct()
    )
    d = d.join(contaminated, id_col, "left_anti")

    # 4b. fuzzy decontamination — stateless per doc vs the FIXED eval
    #     set (identical signature params), so increment ≡ rebuild
    fuzzy = (
        minhash_lsh_match(
            d,
            eval_docs,
            text_col=text_col,
            id_col=id_col,
            verify_threshold=JACCARD_FUZZY_DECON,
        )
        .select(F.col("corpus_id").alias(id_col))
        .distinct()
    )
    d = d.join(fuzzy, id_col, "left_anti")

    # 5. deterministic hash split — stateless
    train, test = train_test_split_by_key(d, [id_col], test_fraction)

    # 6. packing continues each split's bin numbering from the carried
    #    token total (monotone ids ⇒ new docs extend the global order)
    pack_state = dict(state["pack"])
    parts = []
    for name, split_df in (("train", train), ("test", test)):
        packed = prefix_pack(
            split_df.select(id_col, "n_tokens", "ttr"),
            weight_col="n_tokens",
            order_col=id_col,
            tiebreak_col=id_col,
            budget=PACK_BUDGET,
            base_offset=pack_state[name],
        ).withColumn("split", F.lit(name))
        parts.append(packed)
        added = split_df.agg(
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("s")
        ).collect()[0]["s"]
        pack_state[name] += int(added)

    out = parts[0].unionByName(parts[1]).select(
        id_col, "n_tokens", "ttr", "split", "bin_id"
    )
    new_state = {
        "fp": new_fp.localCheckpoint(eager=True),
        "sig": new_sig.localCheckpoint(eager=True),
        "chunks": (
            new_chunks.localCheckpoint(eager=True)
            if new_chunks is not None
            else None
        ),
        "pack": pack_state,
    }
    return out, new_state
