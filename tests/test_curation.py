"""Tokenization-prep tier (queries/curation.py + operators/packing.py):
packing must equal the naive global-cumsum formulation and be
invariant to bucket count; chunks must reconstruct the document;
decontamination must equal a brute-force set-overlap."""

from __future__ import annotations

from pyspark.sql import functions as F

from finance_etl_system_spark.operators.text import ws_tokens

from finance_etl_system_spark.catalog import load_table
from finance_etl_system_spark.operators.packing import prefix_pack
from finance_etl_system_spark.queries.curation import (
    CHUNK_LEN,
    CHUNK_STRIDE,
    EVAL_MOD,
    NGRAM,
    PACK_BUDGET,
    q_chunk_documents,
    q_decontaminate_ngrams,
    q_pack_sequences,
)
from tests.conftest import SF_SMOKE


def _tokens(text: str) -> list[str]:
    return [t for t in text.lower().split(" ") if t]


def test_pack_matches_naive_cumsum_and_is_bucket_invariant(spark):
    got = {
        r.doc_id: (r.n_tokens, r.bin_id)
        for r in q_pack_sequences(spark, SF_SMOKE).collect()
    }
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    rows = sorted(
        ((((d.doc_id % 2147483648) * 2654435761) % 4294967296), d.doc_id, len(_tokens(d.text)))
        for d in docs
    )
    cum = 0
    for h, doc_id, n in rows:
        assert got[doc_id] == (n, cum // PACK_BUDGET), doc_id
        cum += n
    # bucket count is a parallelism knob, not a semantics knob
    base = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id",
        F.size(ws_tokens("text"))
        .cast("long")
        .alias("n_tokens"),
        (((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(4294967296)).alias("h"),
    )
    for buckets in (1, 3):
        alt = prefix_pack(
            base,
            weight_col="n_tokens",
            order_col="h",
            tiebreak_col="doc_id",
            budget=PACK_BUDGET,
            buckets=buckets,
        )
        assert {
            r.doc_id: (r.n_tokens, r.bin_id) for r in alt.collect()
        } == got, buckets


def test_chunks_reconstruct_documents(spark):
    chunks = q_chunk_documents(spark, SF_SMOKE).collect()
    docs = {
        d.doc_id: _tokens(d.text)
        for d in load_table(spark, SF_SMOKE, "documents").select(
            "doc_id", "text"
        ).collect()
    }
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {d for d, t in docs.items() if t}
    for doc_id, rs in by_doc.items():
        rs.sort(key=lambda r: r.chunk_id)
        toks = docs[doc_id]
        rebuilt: list[str] = []
        for r in rs:
            assert r.start_tok == r.chunk_id * CHUNK_STRIDE + 1
            ctoks = r.chunk_text.split(" ") if r.chunk_text else []
            assert len(ctoks) == r.n_chunk_tokens <= CHUNK_LEN
            assert ctoks == toks[r.start_tok - 1 : r.start_tok - 1 + CHUNK_LEN]
            rebuilt = rebuilt[: r.start_tok - 1] + ctoks
        assert rebuilt == toks, doc_id


def test_decontamination_matches_bruteforce(spark):
    docs = {
        d.doc_id: _tokens(d.text)
        for d in load_table(spark, SF_SMOKE, "documents").select(
            "doc_id", "text"
        ).collect()
    }
    grams = {
        doc_id: {
            " ".join(toks[i : i + NGRAM]) for i in range(len(toks) - NGRAM + 1)
        }
        for doc_id, toks in docs.items()
        if len(toks) >= NGRAM
    }
    eval_set = set().union(
        *(g for d, g in grams.items() if d % EVAL_MOD == 0)
    )
    want = {
        d: (len(g), len(g & eval_set))
        for d, g in grams.items()
        if d % EVAL_MOD != 0 and g & eval_set
    }
    got = {
        r.doc_id: (r.n_grams, r.n_hits)
        for r in q_decontaminate_ngrams(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert want, "fixture must contain at least one contaminated doc"


def test_importance_rank_matches_bruteforce(spark):
    """DSIR unigram importance scores recomputed naively in Python
    must reproduce the query's top-20 exactly (rounded score and
    rank order)."""
    import math

    from finance_etl_system_spark.queries.curation import q_importance_rank

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "lang", "text")
        .collect()
    )
    raw: dict[str, int] = {}
    tgt: dict[str, int] = {}
    per_doc: dict[int, dict[str, int]] = {}
    lang = {}
    for d in docs:
        toks = _tokens(d.text)
        lang[d.doc_id] = d.lang
        tf = per_doc.setdefault(d.doc_id, {})
        for t in toks:
            raw[t] = raw.get(t, 0) + 1
            tf[t] = tf.get(t, 0) + 1
            if d.lang == "en":
                tgt[t] = tgt.get(t, 0) + 1
    nr, nt, v = sum(raw.values()), sum(tgt.values()), len(raw)
    scores = {}
    for doc_id, tf in per_doc.items():
        if lang[doc_id] == "en" or not tf:
            continue
        n = sum(tf.values())
        s = sum(
            c
            * (
                math.log((tgt.get(t, 0) + 1) / (nt + v))
                - math.log((raw[t] + 1) / (nr + v))
            )
            for t, c in tf.items()
        )
        scores[doc_id] = round(s / n, 6)
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r.doc_id, r.avg_llr)
        for r in q_importance_rank(spark, SF_SMOKE).orderBy("rnk").collect()
    ]
    assert got == want


def test_decontaminate_fuzzy_recall(spark):
    """Asymmetric LSH match: every corpus doc that truly near-matches
    an eval doc (exact n-gram Jaccard >= 0.7) must be found, no
    corpus-corpus pair may leak in, and clean docs stay clean."""
    import random

    from finance_etl_system_spark.operators.dedup import minhash_lsh_match

    vocab = (
        "spark batch window join filter scan table row column value "
        "hash merge sort stream data query fast slow small big"
    ).split()
    rng = random.Random(7)
    evals, corpus = [], []
    for i in range(5):
        evals.append((i, " ".join(rng.choice(vocab) for _ in range(100))))
    for i in range(20):
        corpus.append(
            (100 + i, " ".join(rng.choice(vocab) for _ in range(100)))
        )
    # paraphrased leakage: eval 0 and 3 with a few flipped tokens
    for cid, src in ((500, 0), (501, 3)):
        toks = evals[src][1].split()
        for j in (4, 37, 71):
            toks[j] = "edited"
        corpus.append((cid, " ".join(toks)))
    ev = spark.createDataFrame(evals, "doc_id LONG, text STRING")
    co = spark.createDataFrame(corpus, "doc_id LONG, text STRING")

    got = {
        (r.corpus_id, r.probe_id): r.est_jaccard
        for r in minhash_lsh_match(co, ev, verify_threshold=0.5).collect()
    }
    assert (500, 0) in got and (501, 3) in got
    assert got[(500, 0)] > 0.6 and got[(501, 3)] > 0.6
    # asymmetric contract: corpus ids on the left, probe ids right
    assert all(c >= 100 and p < 100 for c, p in got)
    # random 100-token strings over a 20-word vocab share many
    # 3-shingles by chance but never at >= 0.5 estimated jaccard
    clean_hits = [c for c, _ in got if c not in (500, 501)]
    assert not clean_hits
