"""Dedup operator accuracy tests (SURVEY §2.10 X1).

Synthetic corpus with planted exact and near duplicates; MinHash-LSH
and SimHash are validated against exact n-gram Jaccard ground truth.
"""

from __future__ import annotations

import random

import pytest

from finance_etl_system_spark.operators.dedup import (
    embedding_cosine_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)

VOCAB = (
    "spark batch window join filter scan table row column value hash merge "
    "sort stream data query fast slow small big the a part key agg line"
).split()


def _corpus():
    rng = random.Random(13)
    docs = []
    for i in range(30):
        docs.append((i, " ".join(rng.choice(VOCAB) for _ in range(120))))
    # exact duplicates (ids 100, 101) of doc 0
    docs.append((100, docs[0][1]))
    docs.append((101, "  " + docs[0][1].upper() + " "))  # normalizes equal
    # near duplicate of doc 1: flip a few tokens
    toks = docs[1][1].split()
    for j in (5, 40, 80):
        toks[j] = "changed"
    docs.append((200, " ".join(toks)))
    return docs


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(_corpus(), "doc_id LONG, text STRING")


def test_exact_dedup_keeps_lowest_id(spark, docs_df):
    kept = exact_dedup(docs_df)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 0 in ids and 100 not in ids and 101 not in ids
    assert 200 in ids  # near-dup is NOT an exact dup


def test_ngram_jaccard_finds_near_dup(spark, docs_df):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, n=3, threshold=0.5).collect()
    }
    assert (1, 200) in pairs
    assert pairs[(1, 200)] > 0.8  # 3 token flips in 120 tokens
    assert (0, 100) in pairs and pairs[(0, 100)] == 1.0


def test_minhash_lsh_recall_and_estimate(spark, docs_df):
    truth = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, n=3, threshold=0.7).collect()
    }
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs_df, n=3, num_perm=32, bands=8).collect()
    }
    # every high-similarity true pair must be found (LSH recall @ 0.7+)
    for pair, j in truth.items():
        assert pair in est, f"missed true near-dup {pair} (jaccard={j})"
        assert est[pair] == pytest.approx(j, abs=0.25)


def test_simhash_identical_and_near(spark, docs_df):
    sig = {r["id"]: r["simhash"] for r in simhash(docs_df).collect()}
    assert sig[0] == sig[100] == sig[101]  # normalized-identical docs
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(docs_df, max_hamming=8).collect()
    }
    assert (0, 100) in pairs and pairs[(0, 100)] == 0
    assert (1, 200) in pairs  # 3 flipped tokens → few bits differ


def test_embedding_cosine_exact_planted_pairs(spark):
    # planted geometry: 0≡1 (identical), 2 = scaled 0 (cosine 1),
    # 3 orthogonal to 0, 4 ≈ 0 with small noise (cosine just under 1)
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [5.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [1.0, 0.1, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_cosine_pairs(df, threshold=0.9).collect()
    }
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 2)] == 1.0 and pairs[(1, 2)] == 1.0
    assert (0, 3) not in pairs and (1, 3) not in pairs
    assert 0.99 < pairs[(0, 4)] < 1.0


def test_embedding_cosine_lsh_subset_and_recall(spark):
    from finance_etl_system_spark.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r["id_a"], r["id_b"]) for r in embedding_cosine_pairs(e, threshold=0.4).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_cosine_pairs(
            e, threshold=0.4, lsh_nbits=64, bands=16
        ).collect()
    }
    assert lsh <= exact  # banding only prunes; the verify is exact
    assert exact and len(lsh) / len(exact) >= 0.85  # measured 0.94 w/ seed 7


def test_incremental_minhash_dedup_across_batches(spark):
    """Daily-increment pattern: batch 2 is checked against batch 1's
    STORED signatures only — near-dups of history are flagged with
    history as canonical, intra-batch dups resolve to the earlier id,
    fresh docs survive into the updated signature table."""
    from finance_etl_system_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_signatures,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then "
        "runs far away into the deep green forest tonight"
    )
    fresh = (
        "completely unrelated text about spark shuffle partitions "
        "and adaptive query execution planning at massive scale"
    )
    b1 = spark.createDataFrame(
        [(1, base), (2, fresh)], "doc_id LONG, text STRING"
    )
    history = minhash_signatures(b1).localCheckpoint()

    b2 = spark.createDataFrame(
        [
            (10, base + " extra"),      # near-dup of history doc 1
            (11, "novel document on watermarking late event streams "
                 "with bounded state and exactly once sinks"),
            (12, "novel document on watermarking late event streams "
                 "with bounded state and exactly once sinks padded"),
                                        # near-dup of 11 (intra-batch)
        ],
        "doc_id LONG, text STRING",
    )
    verdicts, updated = minhash_dedup_incremental(
        b2, history, verify_threshold=0.5
    )
    got = {r.id: r.dup_of for r in verdicts.collect()}
    assert got[10] == 1       # history canonical
    assert got[12] == 11      # earlier intra-batch id canonical
    assert 11 not in got      # fresh doc not flagged

    surviving = {r.id for r in updated.collect()}
    assert surviving == {1, 2, 11}
    # second application with the updated state flags a re-send of 11
    b3 = spark.createDataFrame(
        [(20, "novel document on watermarking late event streams "
              "with bounded state and exactly once sinks")],
        "doc_id LONG, text STRING",
    )
    v3, _ = minhash_dedup_incremental(b3, updated.localCheckpoint())
    assert {r.id: r.dup_of for r in v3.collect()} == {20: 11}


def test_incremental_dedup_transitive_chain_and_id_collision(spark):
    """A chain C→B→A inside one batch must resolve dup_of to the
    SURVIVING canonical A (matched keeps the best-scoring pair), and a
    new row reusing a history id is a replay, never a self-verdict."""
    from finance_etl_system_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_signatures,
    )

    words = [f"tok{i}" for i in range(30)]
    extra = [f"pad{i}" for i in range(12)]
    a_txt = " ".join(words)
    b_txt = " ".join(words + extra)            # jac(A,B) ~ 0.70
    c_txt = " ".join(words + extra + ["q1", "q2"])  # jac(B,C) ~ 0.95
    fresh = ("totally different content on columnar storage layouts "
             "and vectorized execution engines for analytics")

    history = minhash_signatures(
        spark.createDataFrame([(2, fresh)], "doc_id LONG, text STRING")
    ).localCheckpoint()
    batch = spark.createDataFrame(
        [(10, a_txt), (11, b_txt), (12, c_txt), (2, fresh)],
        "doc_id LONG, text STRING",
    )
    verdicts, updated = minhash_dedup_incremental(
        batch, history, bands=16, verify_threshold=0.5
    )
    got = {r.id: r for r in verdicts.collect()}
    assert got[11].dup_of == 10 and got[11].matched == 10
    assert got[12].matched == 11       # best match was B ...
    assert got[12].dup_of == 10        # ... resolved to the survivor A
    assert 2 not in got                # history-id replay: no self-verdict
    assert all(r.id != r.dup_of for r in got.values())
    surviving = {r.id for r in updated.collect()}
    assert 10 in surviving and 11 not in surviving and 12 not in surviving


def test_lsh_hot_bucket_cap_bounds_pairs_but_keeps_content_matches(spark):
    """The skew guard: a hot band bucket (here: many IDENTICAL docs)
    stops generating quadratic candidate pairs under max_bucket, while
    a small genuine near-dup cluster below the cap is still found."""
    from finance_etl_system_spark.operators.dedup import minhash_lsh_pairs

    boiler = ("cookie banner accept all terms and conditions apply "
              "subscribe to our newsletter for updates today")
    real_a = ("distributed joins shuffle rows by key across executors "
              "so partitions colocate matching records efficiently")
    rows = [(i, boiler) for i in range(30)]  # hot cluster: 30 clones
    rows += [(100, real_a), (101, real_a + " indeed")]
    d = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    uncapped = minhash_lsh_pairs(d, verify_threshold=0.5).collect()
    assert len(uncapped) >= 30 * 29 // 2  # quadratic in the hot cluster

    capped = minhash_lsh_pairs(
        d, verify_threshold=0.5, max_bucket=10
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in capped}
    assert (100, 101) in pairs          # genuine near-dup survives
    assert not any(a < 30 and b < 30 for a, b in pairs)  # hot pairs gone
    assert len(capped) < len(uncapped)


def test_lsh_candidate_stats_bound_holds(spark):
    """lsh_candidate_stats certifies the cap's invariant: candidate
    pairs never exceed the bound (buckets of size ≤ cap contribute
    C(size, 2); over-cap buckets are dropped WHOLE and contribute 0),
    so capped candidate volume is bounded by |surviving buckets|·cap²
    however the duplicate structure grows — the measured basis for
    the SCALE.md cap table (tools/lsh_cap_check.py)."""
    from finance_etl_system_spark.operators.dedup import (
        lsh_candidate_stats,
        minhash_lsh_pairs,
    )

    boiler = ("cookie banner accept all terms and conditions apply "
              "subscribe to our newsletter for updates today")
    rows = [(i, boiler) for i in range(30)]  # one hot 30-clone cluster
    rows += [(100 + i, f"unique document number {i} about spark joins "
              f"and shuffle partitioning strategy {i}") for i in range(20)]
    d = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    free = lsh_candidate_stats(d)
    assert free["candidate_pairs"] <= free["pair_bound"]
    assert free["candidate_pairs"] >= 30 * 29 // 2  # quadratic clone core
    assert free["band_rows_dropped"] == 0
    assert free["max_bucket_size"] >= 30

    tight = lsh_candidate_stats(d, max_bucket=10)
    assert tight["candidate_pairs"] <= tight["pair_bound"]
    # the clone cluster's buckets (size 30 > 10) are dropped wholesale:
    # the bound collapses from quadratic-in-30 to cap-bounded
    assert tight["pair_bound"] < free["pair_bound"]
    assert tight["candidate_pairs"] < 30 * 29 // 2
    assert tight["band_rows_dropped"] > 0

    # the stats' pair count is the REAL band join's pair count: the
    # pipeline at verify_threshold=0 emits exactly that many pairs
    assert (
        minhash_lsh_pairs(d, verify_threshold=0.0, max_bucket=10).count()
        == tight["candidate_pairs"]
    )


def test_lsh_cap_boilerplate_skew_keeps_content_recall(spark):
    """The production failure mode the cap exists for (VERDICT r6 #3):
    a BOILERPLATE-skewed corpus — one shared banner across ~30% of
    docs, banner longer than the content — drives the band join
    quadratic in the banner cohort, while the pairs a dedup actually
    wants are content near-dups. The cap must (a) collapse the
    candidate volume and (b) keep ≥98% of the content pairs the
    uncapped run finds: a content pair is lost only if EVERY band it
    shares is banner-hot, which needs all 4 of a band's minima to
    come from banner shingles in all 8 bands at once.

    Unlike the uniform ×10-clone replica in SCALE.md's main cap
    table, duplication here is SKEWED: one giant boilerplate cohort,
    tiny genuine-pair clusters."""
    import numpy as np

    from finance_etl_system_spark.operators.dedup import (
        lsh_candidate_stats,
        minhash_lsh_pairs,
    )

    rng = np.random.RandomState(17)
    vocab = [f"w{k}" for k in range(5000)]
    banner = " ".join(f"boiler{j}" for j in range(120))  # > doc length
    rows = []
    for i in range(600):
        body = " ".join(rng.choice(vocab, 40))
        rows.append((i, body))
    # 30 planted content near-dup pairs: copy with one token appended
    planted = set()
    for i in range(0, 60, 2):
        rows.append((10000 + i, rows[i][1] + " tailtoken"))
        planted.add((i, 10000 + i))
    # shared banner on ~30% of docs; copies inherit their original's
    # banner status (10000 % 10 == 0 keeps doc_id % 10 aligned)
    rows = [
        (i, (banner + " " + t) if i % 10 < 3 else t) for i, t in rows
    ]
    d = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    def found_planted(cap):
        got = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(
                d, n=3, num_perm=32, bands=8,
                verify_threshold=0.5, max_bucket=cap,
            ).collect()
        }
        return got & planted

    free = lsh_candidate_stats(d)
    tight = lsh_candidate_stats(d, max_bucket=10)
    # banner cohort went quadratic uncapped; the cap collapses it
    assert free["max_bucket_size"] >= 50
    assert free["candidate_pairs"] > 5 * max(1, tight["candidate_pairs"])
    assert tight["candidate_pairs"] <= tight["pair_bound"]
    assert tight["band_rows_dropped"] > 0

    base = found_planted(None)
    capped = found_planted(10)
    assert len(base) >= 28  # uncapped finds essentially all 30
    recall = len(capped & base) / len(base)
    assert recall >= 0.98, (len(capped & base), len(base))


# Certification tier (verdict r11 #4; markers registered in
# tests/conftest.py): this module is excluded from the fast tier
# `pytest -m "not certify"` and runs in the full per-round gate.
# Assignment is duration-measured (tools/tier_report.py), not guessed.
import pytest as _pytest_tier

pytestmark = _pytest_tier.mark.certify


@pytest.mark.parametrize("lsh_nbits", [None, 8], ids=["exact", "lsh"])
@pytest.mark.parametrize("ansi", [True, False], ids=["ansi", "no_ansi"])
def test_embedding_cosine_zero_vector_forms_no_pair(spark, ansi, lsh_nbits):
    """An all-zero vector normalizes to NULLs under either ANSI setting
    (no DIVIDE_BY_ZERO), so it forms no pair in either mode."""
    from finance_etl_system_spark.functions.confs import session_conf

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    with session_conf(spark, "spark.sql.ansi.enabled", str(ansi).lower()):
        pairs = {
            (r.id_a, r.id_b)
            for r in embedding_cosine_pairs(
                df, threshold=0.4, lsh_nbits=lsh_nbits, bands=4, dim=2
            ).collect()
        }
    if lsh_nbits is None:
        assert pairs == {(1, 2)}
    else:
        assert pairs <= {(1, 2)}
