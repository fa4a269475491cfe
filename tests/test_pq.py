"""Product quantization (operators/pq.py): the ADC score must be
EXACTLY the query·reconstruction inner product (not approximately),
codes must be partitioning-invariant, and end-to-end recall against
brute-force cosine must clear the compression operating point on the
real fixture embeddings.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from finance_etl_system_spark.catalog import load_table
from finance_etl_system_spark.functions.generations import hadoop_fs
from finance_etl_system_spark.operators.pq import (
    PQModel,
    _normalize,
    _subspaces,
    pq_encode,
    pq_topk_adc,
    pq_train,
)
from finance_etl_system_spark.operators.similarity import (
    cosine_topk_bruteforce,
)
from tests.conftest import SF_SMOKE
from tests.streamutil import finish

DIM, M, K_CODES = 64, 8, 16


@pytest.fixture(scope="module")
def corpus(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


@pytest.fixture(scope="module")
def model(spark, corpus):
    return pq_train(corpus, dim=DIM, m=M, k=K_CODES, max_iter=6)


def test_codebook_shape_and_determinism(spark, corpus, model):
    assert model.codebooks.shape == (M, K_CODES, DIM // M)
    again = pq_train(
        corpus.repartition(7, "label"), dim=DIM, m=M, k=K_CODES, max_iter=6
    )
    assert np.allclose(model.codebooks, again.codebooks)


def test_encode_is_partitioning_invariant(spark, corpus, model):
    a = {
        r["vec_id"]: tuple(r["codes"])
        for r in pq_encode(corpus, model).select("vec_id", "codes").collect()
    }
    b = {
        r["vec_id"]: tuple(r["codes"])
        for r in pq_encode(corpus.repartition(5, "vec_id"), model)
        .select("vec_id", "codes")
        .collect()
    }
    assert a == b
    assert all(len(c) == M for c in a.values())
    assert all(0 <= v < K_CODES for c in a.values() for v in c)


def test_adc_score_equals_reconstruction_ip(spark, corpus, model):
    """ADC is exact w.r.t. the quantized corpus: score(q, x) ==
    normalize(q) · reconstruction(codes(x)), to rounding."""
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    codes = {
        r["vec_id"]: np.asarray(r["codes"])
        for r in pq_encode(corpus, model).select("vec_id", "codes").collect()
    }
    raw_q = {
        r["query_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in queries.collect()
    }
    got = pq_topk_adc(
        pq_encode(corpus, model), queries, model, k=5
    ).collect()
    c = model.codebooks
    for r in got:
        recon = np.concatenate(
            [c[s, codes[r["cid"]][s]] for s in range(M)]
        )
        qn = _normalize(raw_q[r["qid"]].reshape(1, -1))[0]
        assert r["score"] == pytest.approx(float(qn @ recon), abs=2e-6)


def test_recall_vs_bruteforce(spark, corpus, model):
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {}
    for r in cosine_topk_bruteforce(queries, corpus, k=10).collect():
        exact.setdefault(r["qid"], set()).add(r["cid"])
    codes = pq_encode(corpus, model)

    def recall(df):
        approx = {}
        for r in df.collect():
            approx.setdefault(r["qid"], set()).add(r["cid"])
        return sum(
            len(exact[q] & approx.get(q, set())) / len(exact[q])
            for q in exact
        ) / len(exact)

    # pure-ADC shortlist quality at the 32x operating point (m=8,
    # 16 codewords) — lossy by design, the rerank path is the product
    assert recall(pq_topk_adc(codes, queries, model, k=10)) >= 0.3
    # ADC-shortlist + exact rerank at the registered operating point
    # (m=16, k=32, rerank=50 — queries/similarity.q_knn_pq)
    prod = pq_train(corpus, dim=DIM, m=16, k=32, max_iter=6)
    prod_codes = pq_encode(corpus, prod)
    assert (
        recall(
            pq_topk_adc(
                prod_codes, queries, prod, k=10,
                rerank_with=corpus, rerank=50,
            )
        )
        >= 0.9
    )


def test_ivf_pq_index_prune_and_recall(spark, corpus, tmp_path):
    """Persisted IVF-PQ: probes push a literal cluster partition
    filter, ADC+rerank recall vs brute force holds at nprobe=half the
    clusters, and self-queries return themselves at rank 1 (the
    residual decomposition must not lose the identity match)."""
    from finance_etl_system_spark.operators.pq import (
        build_ivf_pq_index,
        cosine_topk_ivf_pq,
    )
    from finance_etl_system_spark.plans.inspect import partition_filters

    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(
        corpus, path, dim=DIM, k_clusters=4, m=16, k_codes=32,
        id_col="vec_id",
    )
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # verify_consistency=False keeps the frame lazy so the literal
    # partition filter is inspectable in ITS plan (the eager default
    # checkpoints the scan, whose plan then starts at ExistingRDD)
    got = cosine_topk_ivf_pq(
        spark, path, queries, k=10, nprobe=2, rerank_with=corpus,
        rerank=50, verify_consistency=False,
    )
    pf = " ".join(partition_filters(got))
    assert "cluster" in pf and " IN " in pf.upper(), pf
    rows = got.collect()
    top1 = {r["qid"]: r["cid"] for r in rows if r["rnk"] == 1}
    assert top1 == {i: i for i in range(5)}  # self is NN, survives PQ
    exact = {}
    for r in cosine_topk_bruteforce(queries, corpus, k=10).collect():
        exact.setdefault(r["qid"], set()).add(r["cid"])
    approx = {}
    for r in rows:
        approx.setdefault(r["qid"], set()).add(r["cid"])
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    # round-8 floors from the measured curve (tools/ivfpq_curve.py;
    # per-query recalls at this config: nprobe=2 -> [0.6..0.9]).
    # The pipeline is deterministic (content-addressed seeds, rounded
    # scores), so these are exact reproductions, not luck.
    assert sum(recalls) / len(recalls) >= 0.6
    assert min(recalls) >= 0.6  # per-query floor, not just the mean
    # nprobe = all clusters isolates the PQ+rerank ceiling (routing
    # loss removed): measured per-query [0.8..1.0]
    full = {}
    for r in cosine_topk_ivf_pq(
        spark, path, queries, k=10, nprobe=4, rerank_with=corpus,
        rerank=50,
    ).collect():
        full.setdefault(r["qid"], set()).add(r["cid"])
    full_recalls = [
        len(exact[q] & full.get(q, set())) / len(exact[q]) for q in exact
    ]
    assert sum(full_recalls) / len(full_recalls) >= 0.85
    assert min(full_recalls) >= 0.8
    # CEILING PROOF (SCALE.md rerank sweep): with all clusters probed
    # AND the shortlist widened to the whole corpus, the pipeline IS
    # brute force — per-query recall must be exactly 1.0. Any codes/
    # routing/rerank regression breaks this; the "hard fixture" can't.
    n_corpus = corpus.count()
    ceil = {}
    for r in cosine_topk_ivf_pq(
        spark, path, queries, k=10, nprobe=4, rerank_with=corpus,
        rerank=n_corpus,
    ).collect():
        ceil.setdefault(r["qid"], set()).add(r["cid"])
    assert all(
        len(exact[q] & ceil.get(q, set())) == len(exact[q]) for q in exact
    )


def test_ivf_pq_append_frozen_model_and_retry(spark, corpus, tmp_path):
    """Appends route with the build's frozen centroids and encode with
    the frozen codebooks: appended vectors become findable (self at
    rank 1 through the rerank), a retried batch_id rewrites its own
    partitions byte-for-byte, and auto-assign continues from max+1."""
    from finance_etl_system_spark.operators.pq import (
        append_to_ivf_pq_index,
        build_ivf_pq_index,
        cosine_topk_ivf_pq,
    )

    base = corpus.filter(F.col("vec_id") >= 100)
    extra = corpus.filter(F.col("vec_id") < 100)
    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(
        base, path, dim=DIM, k_clusters=4, m=16, k_codes=32,
        id_col="vec_id",
    )
    append_to_ivf_pq_index(extra, path)  # auto-assign -> batch 1
    codes = spark.read.parquet(f"{path}/codes")
    assert {r["batch_id"] for r in codes.select("batch_id").distinct().collect()} == {0, 1}
    assert codes.count() == corpus.count()

    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = cosine_topk_ivf_pq(
        spark, path, queries, k=10, nprobe=4, rerank_with=corpus, rerank=50
    ).collect()
    top1 = {r["qid"]: r["cid"] for r in got if r["rnk"] == 1}
    assert top1 == {i: i for i in range(5)}  # appended vecs findable

    snap = sorted(
        tuple(r)
        for r in codes.select("vec_id", "codes", "batch_id", "cluster")
        .collect()
    )
    append_to_ivf_pq_index(extra, path, batch_id=1)  # retry
    again = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{path}/codes")
        .select("vec_id", "codes", "batch_id", "cluster")
        .collect()
    )
    assert snap == again


def test_ivf_pq_streaming_append_idempotent(spark, corpus, tmp_path):
    """Streaming IVF-PQ maintenance: micro-batches land as their own
    (BASE+id, cluster) code partitions, a replayed micro-batch
    rewrites itself, a manual auto-assigned append stays out of the
    stream namespace, and streamed vectors are findable."""
    import json

    from finance_etl_system_spark.operators.pq import (
        append_to_ivf_pq_index,
        build_ivf_pq_index,
        cosine_topk_ivf_pq,
    )
    from finance_etl_system_spark.operators.similarity import (
        IVF_STREAM_BATCH_BASE,
    )
    from finance_etl_system_spark.streaming.similarity import (
        ivf_pq_append_batch,
        stream_append_ivf_pq,
    )

    base = corpus.filter(F.col("vec_id") >= 100)
    tail = corpus.filter(F.col("vec_id") < 100).select("vec_id", "embedding")
    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(
        base, path, dim=DIM, k_clusters=4, m=16, k_codes=32,
        id_col="vec_id",
    )
    base_n = spark.read.parquet(f"{path}/codes").count()
    rows = [
        (r.vec_id, [float(x) for x in r.embedding]) for r in tail.collect()
    ]
    src = tmp_path / "src"
    src.mkdir()
    half = len(rows) // 2
    for fname, chunk in (("b0.json", rows[:half]), ("b1.json", rows[half:])):
        (src / fname).write_text(
            "\n".join(
                json.dumps({"vec_id": i, "embedding": v}) for i, v in chunk
            )
        )
    q = stream_append_ivf_pq(
        spark, str(src), "vec_id long, embedding array<double>",
        index_path=path, checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    finish(q)
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == base_n + len(rows)
    batches = {
        r["batch_id"] for r in codes.select("batch_id").distinct().collect()
    }
    assert batches == {0, IVF_STREAM_BATCH_BASE, IVF_STREAM_BATCH_BASE + 1}

    # replayed micro-batch rewrites itself
    replay = (
        tail.filter(F.col("vec_id").isin([i for i, _ in rows[:half]]))
        .localCheckpoint(eager=True)
    )
    ivf_pq_append_batch(replay, 0, path=path)
    assert spark.read.parquet(f"{path}/codes").count() == base_n + len(rows)

    # a manual auto-assigned append lands at 1, not in the stream range
    one = corpus.filter(F.col("vec_id") == 100).select("vec_id", "embedding")
    append_to_ivf_pq_index(one, path)
    batches = {
        r["batch_id"]
        for r in spark.read.parquet(f"{path}/codes")
        .select("batch_id").distinct().collect()
    }
    assert 1 in batches and max(b for b in batches if b < IVF_STREAM_BATCH_BASE) == 1

    # streamed vector findable through the rerank
    queries = tail.limit(1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).localCheckpoint(eager=True)
    qid = queries.first()["query_id"]
    got = cosine_topk_ivf_pq(
        spark, path, queries, k=3, nprobe=4, rerank_with=corpus, rerank=20
    ).collect()
    assert got and got[0]["cid"] == qid and got[0]["score"] == 1.0


def test_verify_ivf_pq_index(spark, corpus, tmp_path):
    """Health check: a freshly built+appended index is consistent; a
    duplicate-id injection (replay outside its own batch) is caught."""
    from finance_etl_system_spark.operators.pq import (
        append_to_ivf_pq_index,
        build_ivf_pq_index,
        verify_ivf_pq_index,
    )

    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(
        corpus.filter(F.col("vec_id") >= 50), path, dim=DIM,
        k_clusters=4, m=16, k_codes=32, id_col="vec_id",
    )
    append_to_ivf_pq_index(
        corpus.filter(F.col("vec_id") < 50), path
    )
    rep = verify_ivf_pq_index(spark, path)
    assert rep["consistent"], rep
    assert rep["n_vectors"] == corpus.count()
    # replay the SAME vectors under a different batch_id: duplicates
    append_to_ivf_pq_index(
        corpus.filter(F.col("vec_id") < 50), path, batch_id=7
    )
    rep = verify_ivf_pq_index(spark, path)
    assert not rep["consistent"] and rep["n_duplicate_ids"] == 50


def test_ivf_pq_index_stats(spark, corpus, tmp_path):
    """Reconstruction-error observability: k rows partitioning the
    corpus; errors are small on the training data and the shares sum
    to 1."""
    from finance_etl_system_spark.operators.pq import (
        build_ivf_pq_index,
        ivf_pq_index_stats,
    )

    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(
        corpus, path, dim=DIM, k_clusters=4, m=16, k_codes=32,
        id_col="vec_id",
    )
    rows = ivf_pq_index_stats(spark, path, corpus).collect()
    assert len(rows) == 4
    assert sum(r["n_vectors"] for r in rows) == corpus.count()
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r["n_unmatched"] == 0
        assert 0.0 <= r["mean_recon_err"] <= r["max_recon_err"]
        # residual PQ on unit vectors: reconstruction error well
        # under the unit norm on the training data itself
        assert r["mean_recon_err"] < 0.8
    # ADVICE round-7: index rows ABSENT from the supplied corpus must
    # surface as n_unmatched (left join), not silently vanish — the
    # drifted/forgotten-batch rows a health report exists to expose
    partial = corpus.filter(F.col("vec_id") % 2 == 0)
    rows2 = ivf_pq_index_stats(spark, path, partial).collect()
    assert sum(r["n_vectors"] for r in rows2) == corpus.count()
    assert sum(r["n_unmatched"] for r in rows2) == (
        corpus.count() - partial.count()
    )


def test_subspace_helpers_roundtrip():
    x = np.arange(2 * DIM, dtype=np.float64).reshape(2, DIM)
    assert _subspaces(x, M).shape == (2, M, DIM // M)
    assert np.allclose(_subspaces(x, M).reshape(2, DIM), x)
    z = np.zeros((1, DIM))
    assert np.allclose(_normalize(z), z)  # zero vector stays zero


def test_pq_train_empty_input_friendly_error(spark):
    """ADVICE round-7: an empty/short input must fail with the
    need->=k message, not numpy's opaque vstack error."""
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="need >= "):
        pq_train(empty, vec_col="embedding", id_col="vec_id",
                 dim=DIM, m=M, k=K_CODES)


def test_index_writers_restore_overwrite_mode(spark, corpus, tmp_path):
    """ADVICE round-7: build/append must not leak their
    partitionOverwriteMode override into the caller's session."""
    from finance_etl_system_spark.operators.pq import (
        append_to_ivf_pq_index,
        build_ivf_pq_index,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    spark.conf.set(key, "static")
    path = str(tmp_path / "ivfpq_conf")
    build_ivf_pq_index(
        corpus, path, dim=DIM, k_clusters=2, m=M, k_codes=K_CODES,
        id_col="vec_id",
    )
    assert spark.conf.get(key) == "static"
    append_to_ivf_pq_index(
        corpus.filter(F.col("vec_id") < 20), path, batch_id=3
    )
    # the append sets dynamic internally; caller's static must survive
    assert spark.conf.get(key) == "static"
    spark.conf.set(key, prior)


def test_ivf_pq_compaction_folds_batches_and_deletes(spark, corpus, tmp_path):
    """compact_ivf_pq_index folds every append batch of the codes
    table into batch 0, optionally dropping deleted ids; probe
    results are unchanged for survivors and deleted ids vanish."""
    from finance_etl_system_spark.operators.pq import (
        append_to_ivf_pq_index,
        build_ivf_pq_index,
        compact_ivf_pq_index,
        cosine_topk_ivf_pq,
        verify_ivf_pq_index,
    )

    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(
        corpus.filter(F.col("vec_id") >= 200), path, dim=DIM,
        k_clusters=4, m=16, k_codes=32, id_col="vec_id",
    )
    append_to_ivf_pq_index(
        corpus.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200)),
        path,
    )
    append_to_ivf_pq_index(corpus.filter(F.col("vec_id") < 100), path)
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.select("batch_id").distinct().count() == 3
    n = codes.count()

    queries = corpus.filter(F.col("vec_id").isin(5, 450)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).localCheckpoint(eager=True)
    probe = lambda: [  # noqa: E731
        (r.qid, r.rnk, r.cid, r.score)
        for r in cosine_topk_ivf_pq(
            spark, path, queries, k=5, nprobe=4,
            rerank_with=corpus, rerank=50,
        ).collect()
    ]
    before = probe()
    compact_ivf_pq_index(spark, path)
    after_codes = spark.read.parquet(f"{path}/codes")
    assert after_codes.count() == n
    assert after_codes.select("batch_id").distinct().collect()[0][0] == 0
    assert probe() == before
    assert verify_ivf_pq_index(spark, path)["consistent"]

    # delete one query's vector: it disappears from results but the
    # query itself is still answered
    compact_ivf_pq_index(
        spark, path, spark.createDataFrame([(450,)], "vec_id long")
    )
    assert spark.read.parquet(f"{path}/codes").count() == n - 1
    post = probe()
    assert all(r[2] != 450 for r in post)
    assert any(r[0] == 450 for r in post)


def test_ivf_pq_append_refused_during_compaction(spark, corpus, tmp_path):
    """Two-flag single-writer contract (the compact_ivf_index twin):
    appends raise while _COMPACTING is held; a stale marker also
    blocks further compactions; verify reports the residue; a normal
    compaction takes AND releases the marker."""
    from finance_etl_system_spark.operators.pq import (
        append_to_ivf_pq_index,
        build_ivf_pq_index,
        compact_ivf_pq_index,
        verify_ivf_pq_index,
    )
    from finance_etl_system_spark.operators.ivfstore import (
        _append_lease,
        _compact_marker,
    )

    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(
        corpus.filter(F.col("vec_id") >= 100), path, dim=DIM,
        k_clusters=3, m=M, k_codes=K_CODES, id_col="vec_id",
    )
    fs, HPath = hadoop_fs(spark, path)
    marker = HPath(_compact_marker(path))
    assert fs.createNewFile(marker)  # a compaction is "in flight"
    tail = corpus.filter(F.col("vec_id") < 100)
    with pytest.raises(RuntimeError, match="_COMPACTING"):
        append_to_ivf_pq_index(tail, path)
    with pytest.raises(RuntimeError, match="_COMPACTING"):
        compact_ivf_pq_index(spark, path)
    rep = verify_ivf_pq_index(spark, path)
    assert rep["stale_compact_marker"] and not rep["consistent"]
    fs.delete(marker, False)

    # an in-flight append lease makes compaction back off AND
    # release its own marker (nothing written)
    lease = HPath(_append_lease(path, "deadbeef"))
    assert fs.createNewFile(lease)
    with pytest.raises(RuntimeError, match="_APPENDING"):
        compact_ivf_pq_index(spark, path)
    assert not fs.exists(marker)  # backed off clean
    rep = verify_ivf_pq_index(spark, path)
    assert rep["stale_append_leases"] == ["_APPENDING.deadbeef"]
    fs.delete(lease, False)

    compact_ivf_pq_index(spark, path)  # normal run releases marker
    assert not fs.exists(marker)
    append_to_ivf_pq_index(tail, path)  # append allowed again
    assert (
        spark.read.parquet(f"{path}/codes").count() == corpus.count()
    )
    assert verify_ivf_pq_index(spark, path)["consistent"]


def test_probe_detects_mid_scan_rebuild(spark, corpus, tmp_path):
    """The check-then-read race, closed (advisor r10 / verdict r11
    #3): a rebuild that starts — or starts AND commits — inside a
    probe's read window makes the probe fail LOUDLY instead of
    silently scoring new codes with the old model. The _race_hook
    seam fires in exactly the window the entry fence cannot
    cover."""
    import os

    from finance_etl_system_spark.operators.pq import (
        build_ivf_pq_index,
        cosine_topk_ivf_pq,
    )

    path = str(tmp_path / "ivfpq")
    build_ivf_pq_index(
        corpus, path, dim=DIM, k_clusters=4, m=M, k_codes=K_CODES,
        id_col="vec_id", max_iter=3,
    )
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    # (a) a rebuild takes the fence mid-probe: the post-scan re-check
    # sees the marker and refuses the (possibly mixed) shortlist
    def fence():
        open(os.path.join(path, "_BUILDING"), "w").close()

    with pytest.raises(RuntimeError, match="overlapped a rebuild"):
        cosine_topk_ivf_pq(
            spark, path, queries, k=3, retries=0, _race_hook=fence
        )
    os.remove(os.path.join(path, "_BUILDING"))

    # (b) a WHOLE rebuild (different params) commits inside the
    # window — both markers are long gone by the re-check; the meta
    # compare catches it (or the scan itself dies on the replaced
    # files and is attributed to the race)
    def rebuild_smaller():
        build_ivf_pq_index(
            corpus, path, dim=DIM, k_clusters=2, m=M, k_codes=K_CODES,
            id_col="vec_id", max_iter=3,
        )

    with pytest.raises(RuntimeError, match="overlapped a completed"):
        cosine_topk_ivf_pq(
            spark, path, queries, k=3, retries=0,
            _race_hook=rebuild_smaller,
        )

    # (c) the nastiest case: an IDENTICAL-params rebuild — every meta
    # byte equal except build_id
    def rebuild_same():
        build_ivf_pq_index(
            corpus, path, dim=DIM, k_clusters=2, m=M, k_codes=K_CODES,
            id_col="vec_id", max_iter=3,
        )

    with pytest.raises(RuntimeError, match="overlapped a completed"):
        cosine_topk_ivf_pq(
            spark, path, queries, k=3, retries=0, _race_hook=rebuild_same
        )

    # (d) with the DEFAULT retries the same detected race SELF-HEALS:
    # the retry re-resolves meta/fences and answers from the new
    # index generation (the race hook fires on attempt 0 only)
    def rebuild_again():
        build_ivf_pq_index(
            corpus, path, dim=DIM, k_clusters=2, m=M, k_codes=K_CODES,
            id_col="vec_id", max_iter=3,
        )

    healed = cosine_topk_ivf_pq(
        spark, path, queries, k=3, nprobe=2, rerank_with=corpus,
        rerank=20, _race_hook=rebuild_again,
    ).collect()
    assert {r.qid: r.cid for r in healed if r.rnk == 1} == {0: 0, 1: 1, 2: 2}

    # sanity: an unraced probe over the final index works and returns
    # self-matches at rank 1
    got = cosine_topk_ivf_pq(
        spark, path, queries, k=3, nprobe=2, rerank_with=corpus, rerank=20
    ).collect()
    assert {r.qid: r.cid for r in got if r.rnk == 1} == {0: 0, 1: 1, 2: 2}


# Certification tier (verdict r11 #4; markers registered in
# tests/conftest.py): this module is excluded from the fast tier
# `pytest -m "not certify"` and runs in the full per-round gate.
# Assignment is duration-measured (tools/tier_report.py), not guessed.
import pytest as _pytest_tier

pytestmark = _pytest_tier.mark.certify
