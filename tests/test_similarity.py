"""Similarity-search accuracy tests (SURVEY §2.10 X2): LSH and IVF
recall against the exact brute-force ranking, on the real fixture
embeddings at smoke scale."""

from __future__ import annotations

import pytest

from finance_etl_system_spark.catalog import load_table
from finance_etl_system_spark.functions.generations import hadoop_fs
from finance_etl_system_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
)
from tests.conftest import SF_SMOKE

import pyspark.sql.functions as F
from tests.streamutil import finish


@pytest.fixture(scope="module")
def corpus(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


@pytest.fixture(scope="module")
def queries(spark, corpus):
    return corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _topk_sets(df):
    rows = df.collect()
    out = {}
    for r in rows:
        out.setdefault(r["qid"], set()).add(r["cid"])
    return out


def test_bruteforce_self_is_top1(spark, queries, corpus):
    bf = cosine_topk_bruteforce(queries, corpus, k=10)
    top1 = {r["qid"]: r["cid"] for r in bf.filter("rnk = 1").collect()}
    assert top1 == {i: i for i in range(5)}  # each vector's NN is itself


def test_lsh_recall_vs_bruteforce(spark, queries, corpus):
    exact = _topk_sets(cosine_topk_bruteforce(queries, corpus, k=10))
    approx = _topk_sets(cosine_topk_lsh(queries, corpus, k=10, nbits=16, bands=4))
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.5  # 16-bit/4-band operating point


def test_ivf_routes_to_true_clusters(spark):
    """On genuinely clustered data (labels = true clusters), IVF with
    nprobe=1 must find essentially all true neighbors — this validates
    the centroid routing, which random fixture labels cannot."""
    import numpy as np

    rng = np.random.RandomState(3)
    centers = rng.randn(3, 16) * 5
    rows = []
    for i in range(120):
        lbl = i % 3
        v = centers[lbl] + rng.randn(16) * 0.3
        rows.append((i, [float(x) for x in v], lbl))
    corpus = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )
    queries = corpus.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = _topk_sets(cosine_topk_bruteforce(queries, corpus, k=10))
    approx = _topk_sets(cosine_topk_ivf(queries, corpus, k=10, nprobe=1))
    recalls = [len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.95
    assert all(len(s) == 10 for s in approx.values())


def test_ivf_on_fixture_covers_probed_fraction(spark, queries, corpus):
    """With arbitrary labels, IVF recall ≈ probed fraction of the
    corpus — sanity-check it returns full k and beats zero."""
    approx = _topk_sets(cosine_topk_ivf(queries, corpus, k=10, nprobe=2))
    assert all(len(s) == 10 for s in approx.values())

def test_lsh_query_build_spawns_no_spark_job(spark):
    """dim= is a build-time parameter: constructing the LSH frames
    must not probe the corpus (no extra Spark job before execution —
    at 100 TB the probe is a cold one-row scan on the hot path).
    Tables are pre-loaded so the parquet schema-read job every query
    pays is excluded; the probe fallback (dim omitted) is the
    contrast case."""
    from finance_etl_system_spark.operators.dedup import embedding_cosine_pairs
    from finance_etl_system_spark.operators.similarity import cosine_topk_lsh

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    tracker = spark.sparkContext.statusTracker()

    def n_jobs():
        return len(tracker.getJobIdsForGroup(None))

    before = n_jobs()
    cosine_topk_lsh(q, e, k=5, nbits=16, bands=4, dim=64)
    embedding_cosine_pairs(e, threshold=0.4, lsh_nbits=64, bands=16, dim=64)
    assert n_jobs() == before  # build is plan-only

    # contrast: omitting dim falls back to the one-row probe = a job
    cosine_topk_lsh(q, e, k=5, nbits=16, bands=4)
    assert n_jobs() > before


def test_int8_quantization_roundtrip_bounds(spark):
    """Symmetric int8: codes within [-127, 127], reconstruction error
    bounded by scale/2, cosine fidelity near 1, and codes match a
    numpy recomputation exactly (floor(x/scale + 0.5) semantics)."""
    import numpy as np

    from finance_etl_system_spark.operators.quantize import quantize_int8

    e = load_table(spark, SF_SMOKE, "embeddings").limit(50)
    rows = quantize_int8(e).select("vec_id", "embedding", "q_scale", "qv").collect()
    assert rows
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        scale = np.abs(v).max() / 127
        assert r.q_scale == scale
        want = np.floor(v / scale + 0.5).astype(np.int64) if scale else v * 0
        assert list(want) == list(r.qv)
        q = np.asarray(r.qv, dtype=np.float64)
        assert np.abs(q).max() <= 127
        err = np.abs(v - q * scale)
        assert err.max() <= scale / 2 + 1e-12
        dq = q * scale
        cos = dq @ v / (np.linalg.norm(dq) * np.linalg.norm(v))
        assert cos > 0.999


def test_ivf_index_persist_prune_and_recall(spark, tmp_path):
    """Build-once/query-many IVF: the persisted index answers with the
    corpus partitioned by cluster, the probe pushes the collected
    routed-cluster set as a LITERAL partition filter (static pruning,
    asserted on executed scan metrics), self-queries return themselves
    at rank 1, and recall vs exact brute force is high at nprobe=half
    the clusters."""
    from finance_etl_system_spark.catalog import load_table
    from finance_etl_system_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_bruteforce,
        cosine_topk_ivf_index,
    )
    from finance_etl_system_spark.plans.inspect import (
        partition_filters,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf")
    model = build_ivf_index(e, path, k_clusters=4, id_col="vec_id")
    assert model.centroids.shape[0] == 4

    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # verify_consistency=False keeps the frame lazy: the plan and
    # executed-scan assertions below inspect the probe's OWN scan
    got = cosine_topk_ivf_index(
        spark, path, queries, k=10, nprobe=2, verify_consistency=False
    )
    # static literal pruning: the probed cluster ids are pushed as a
    # partition filter (cluster IN ...), and the executed scan must
    # actually SKIP unprobed partitions' files — the earlier
    # join-driven dynamicpruningexpression planned but never pruned
    pf = " ".join(partition_filters(got))
    assert "cluster" in pf and " IN " in pf.upper(), pf
    from finance_etl_system_spark.plans.metrics import executed_metrics

    one_probe = cosine_topk_ivf_index(
        spark, path, queries.limit(1), k=10, nprobe=1,
        verify_consistency=False,
    )
    total_vecs = e.count()
    vec_scans = [
        s for s in executed_metrics(one_probe, execute=True)["scans"]
        if s["scan_rows"] > model.centroids.shape[0]
    ]
    assert vec_scans and all(
        s["scan_rows"] <= total_vecs / 2 for s in vec_scans
    ), vec_scans

    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rnk)
        assert rs[0].cid == qid and rs[0].cosine == 1.0  # self at rank 1
        assert [r.cosine for r in rs] == sorted(
            (r.cosine for r in rs), reverse=True
        )

    exact = cosine_topk_bruteforce(queries, e, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.qid, set()).add(r.cid)
    hits = sum(
        len({r.cid for r in rs} & exact_sets[qid])
        for qid, rs in by_q.items()
    )
    total = sum(len(v) for v in exact_sets.values())
    assert hits / total >= 0.5  # nprobe=2 of 4 clusters


def test_ivf_append_parity_and_stats(spark, tmp_path):
    """Incremental IVF maintenance: build on half the corpus, append
    the other half — the probe must return EXACTLY what a one-shot
    index written under the SAME frozen centroids returns (append
    changes the data layout, never the routing), pruning must keep
    skipping unprobed partitions, the stats report must account for
    every vector, and a wrong-column append must raise."""
    import numpy as np
    import pytest

    from finance_etl_system_spark.catalog import load_table
    from finance_etl_system_spark.operators.clustering import kmeans_assign
    from finance_etl_system_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        cosine_topk_ivf_index,
        ivf_index_stats,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    mid = 250
    a = e.filter(F.col("vec_id") < mid)
    b = e.filter(F.col("vec_id") >= mid)

    inc = str(tmp_path / "inc")
    model = build_ivf_index(a, inc, k_clusters=4, id_col="vec_id")
    append_to_ivf_index(b, inc)

    # reference: one-shot layout under the SAME frozen centroids
    ref = str(tmp_path / "ref")
    assigned = kmeans_assign(
        e.select("vec_id",
                 F.transform("embedding", lambda x: x.cast("double"))
                 .alias("embedding")),
        model.centroids,
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    assigned.select("vec_id", "embedding", "cluster").write.mode(
        "overwrite"
    ).partitionBy("cluster").parquet(f"{ref}/vectors")
    for t in ("centroids", "meta"):
        spark.read.parquet(f"{inc}/{t}").write.mode("overwrite").parquet(
            f"{ref}/{t}"
        )

    queries = e.filter(F.col("vec_id").isin(0, 7, int(mid) + 3)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).localCheckpoint(eager=True)
    got = [
        (r.qid, r.rnk, r.cid, r.cosine)
        for r in cosine_topk_ivf_index(
            spark, inc, queries, k=10, nprobe=2
        ).collect()
    ]
    want = [
        (r.qid, r.rnk, r.cid, r.cosine)
        for r in cosine_topk_ivf_index(
            spark, ref, queries, k=10, nprobe=2
        ).collect()
    ]
    assert got == want and got
    # an appended-half vector is findable: its self-query ranks itself
    by_q = {}
    for q, rnk, cid, cos in got:
        by_q.setdefault(q, []).append((rnk, cid, cos))
    top = min(by_q[mid + 3])
    assert top[1] == mid + 3 and top[2] == 1.0

    # pruning still skips unprobed partitions after the append
    from finance_etl_system_spark.plans.metrics import executed_metrics

    one = cosine_topk_ivf_index(
        spark, inc, queries.limit(1), k=5, nprobe=1,
        verify_consistency=False,
    )
    n_total = e.count()
    vec_scans = [
        s for s in executed_metrics(one, execute=True)["scans"]
        if s["scan_rows"] > 4
    ]
    assert vec_scans and all(s["scan_rows"] <= n_total / 2 for s in vec_scans)

    # stats: every vector accounted for, shares sum to 1, residuals sane
    stats = ivf_index_stats(spark, inc).collect()
    assert sum(r.n_vectors for r in stats) == n_total
    assert abs(sum(r.share for r in stats) - 1.0) < 1e-4
    assert all(
        0.0 <= r.mean_residual <= r.max_residual <= 2.0 for r in stats
    )

    # wrong-column append fails loudly (meta contract)
    with pytest.raises(ValueError, match="meta names column"):
        append_to_ivf_index(
            b.withColumnRenamed("embedding", "vec"), inc
        )


def test_knn_ivf_index_query_recall_and_health(spark):
    """The registered persistent-IVF queries: recall vs the exact
    brute-force registry query at nprobe=half the clusters, stable
    across repeated calls (process-cached index), and a health report
    that accounts for every vector with sane residuals."""
    from finance_etl_system_spark.queries.similarity import (
        _K,
        q_ivf_index_health,
        q_knn_bruteforce,
        q_knn_ivf_index,
    )

    got = q_knn_ivf_index(spark, SF_SMOKE).collect()
    exact = q_knn_bruteforce(spark, SF_SMOKE).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r.qid, set()).add(r.cid)
    truth: dict = {}
    for r in exact:
        truth.setdefault(r.qid, set()).add(r.cid)
    assert set(by_q) == set(truth)
    hits = sum(len(by_q[q] & truth[q]) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.6, f"recall {hits}/{total}"
    # self at rank 1 with cosine 1.0 for every query
    for r in got:
        if r.rnk == 1:
            assert r.cid == r.qid and r.cosine == 1.0
    # cached index → identical result on a second call
    again = q_knn_ivf_index(spark, SF_SMOKE).collect()
    assert again == got

    from finance_etl_system_spark.catalog import load_table

    n = load_table(spark, SF_SMOKE, "embeddings").count()
    health = q_ivf_index_health(spark, SF_SMOKE).collect()
    assert sum(r.n_vectors for r in health) == n
    assert abs(sum(r.share for r in health) - 1.0) < 1e-4
    assert all(0.0 <= r.mean_residual <= r.max_residual <= 2.0 for r in health)


def test_ivf_streaming_append_idempotent(spark, tmp_path):
    """Streaming IVF maintenance: micro-batches land as their own
    (batch_id, cluster) partitions, a REPLAYED batch_id rewrites
    itself instead of duplicating, pruning still skips unprobed
    clusters, and the streamed vectors are findable."""
    import json

    from finance_etl_system_spark.catalog import load_table
    from finance_etl_system_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_ivf_index,
    )
    from finance_etl_system_spark.streaming.similarity import (
        ivf_append_batch,
        stream_append_ivf,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(
        e.filter(F.col("vec_id") < 400), path, k_clusters=4, id_col="vec_id"
    )
    base_n = spark.read.parquet(f"{path}/vectors").count()

    # two micro-batches of "new" embeddings as JSON files
    tail = e.filter(F.col("vec_id") >= 400).select("vec_id", "embedding")
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
    q = stream_append_ivf(
        spark, str(src), "vec_id long, embedding array<double>",
        index_path=path, checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    finish(q)

    vecs = spark.read.parquet(f"{path}/vectors")
    assert vecs.count() == base_n + len(rows)
    # build batch 0 + one batch partition per streamed file
    assert vecs.select("batch_id").distinct().count() == 3

    # replay micro-batch 0 with ITS OWN content (what a checkpoint
    # retry re-delivers): the dynamic overwrite rewrites that batch's
    # partitions in place — no duplication, nothing else touched
    from finance_etl_system_spark.operators.similarity import (
        IVF_STREAM_BATCH_BASE,
    )

    b1 = spark.read.parquet(f"{path}/vectors").filter(
        F.col("batch_id") == IVF_STREAM_BATCH_BASE
    )
    replay = b1.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).localCheckpoint(eager=True)
    ivf_append_batch(replay, 0, path=path)
    assert spark.read.parquet(f"{path}/vectors").count() == base_n + len(rows)

    # streamed vector findable; pruning still partition-skips
    queries = tail.limit(1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).localCheckpoint(eager=True)
    qid = queries.first()["query_id"]
    got = cosine_topk_ivf_index(spark, path, queries, k=3, nprobe=1).collect()
    assert got and got[0].cid == qid and got[0].cosine == 1.0

    from finance_etl_system_spark.plans.metrics import executed_metrics

    n_total = base_n + len(rows)
    probe = cosine_topk_ivf_index(
        spark, path, queries, k=3, nprobe=1, verify_consistency=False
    )
    vec_scans = [
        s for s in executed_metrics(probe, execute=True)["scans"]
        if s["scan_rows"] > 4
    ]
    assert vec_scans and all(s["scan_rows"] <= n_total / 2 for s in vec_scans)


def test_ivf_compaction_folds_batches_and_deletes(spark, tmp_path):
    """compact_ivf_index folds every append batch into batch 0,
    optionally dropping deleted ids; probe results are unchanged for
    survivors and deleted ids vanish."""
    from finance_etl_system_spark.catalog import load_table
    from finance_etl_system_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        cosine_topk_ivf_index,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(
        e.filter(F.col("vec_id") < 300), path, k_clusters=4, id_col="vec_id"
    )
    append_to_ivf_index(
        e.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)), path
    )
    append_to_ivf_index(e.filter(F.col("vec_id") >= 400), path)
    vecs = spark.read.parquet(f"{path}/vectors")
    assert vecs.select("batch_id").distinct().count() == 3
    n = vecs.count()

    queries = e.filter(F.col("vec_id").isin(5, 450)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).localCheckpoint(eager=True)
    before = [
        (r.qid, r.rnk, r.cid, r.cosine)
        for r in cosine_topk_ivf_index(spark, path, queries, k=5, nprobe=2)
        .collect()
    ]

    compact_ivf_index(spark, path)
    after_vecs = spark.read.parquet(f"{path}/vectors")
    assert after_vecs.count() == n
    assert after_vecs.select("batch_id").distinct().collect()[0][0] == 0
    after = [
        (r.qid, r.rnk, r.cid, r.cosine)
        for r in cosine_topk_ivf_index(spark, path, queries, k=5, nprobe=2)
        .collect()
    ]
    assert after == before

    # delete one query's vector: it disappears from results
    compact_ivf_index(
        spark, path, spark.createDataFrame([(450,)], "vec_id long")
    )
    assert spark.read.parquet(f"{path}/vectors").count() == n - 1
    post = cosine_topk_ivf_index(spark, path, queries, k=5, nprobe=2).collect()
    assert all(r.cid != 450 for r in post)
    assert any(r.qid == 450 for r in post)  # query still answered


def test_ivf_manual_append_never_collides_with_stream_batches(
    spark, tmp_path
):
    """Auto-assigned manual batch ids must skip the streaming
    namespace: after a stream batch lands at IVF_STREAM_BATCH_BASE,
    the next manual append gets batch 1 (not BASE+1), so a resumed
    stream's batch 1 can never dynamic-overwrite it away."""
    from finance_etl_system_spark.catalog import load_table
    from finance_etl_system_spark.operators.similarity import (
        IVF_STREAM_BATCH_BASE,
        append_to_ivf_index,
        build_ivf_index,
    )
    from finance_etl_system_spark.streaming.similarity import ivf_append_batch

    e = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(
        e.filter(F.col("vec_id") < 300), path, k_clusters=3, id_col="vec_id"
    )
    # stream micro-batch 0 lands in its own namespace
    ivf_append_batch(
        e.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 350)),
        0,
        path=path,
    )
    # manual append with auto-assigned id: must be 1, below the base
    append_to_ivf_index(
        e.filter((F.col("vec_id") >= 350) & (F.col("vec_id") < 400)), path
    )
    batches = sorted(
        r[0]
        for r in spark.read.parquet(f"{path}/vectors")
        .select("batch_id")
        .distinct()
        .collect()
    )
    assert batches == [0, 1, IVF_STREAM_BATCH_BASE]
    # resumed-stream micro-batch 1 overwrites nothing but itself
    n_before = (
        spark.read.parquet(f"{path}/vectors")
        .filter(F.col("batch_id") <= 1)
        .count()
    )
    ivf_append_batch(e.filter(F.col("vec_id") >= 400), 1, path=path)
    assert (
        spark.read.parquet(f"{path}/vectors")
        .filter(F.col("batch_id") <= 1)
        .count()
        == n_before
    )


def test_ivf_append_refused_during_compaction(spark, tmp_path):
    """Single-writer contract: an append racing a compaction's
    directory swap would be silently dropped, so append raises while
    the _COMPACTING marker is held, and compaction releases the
    marker when done (even having taken the lock itself)."""
    import pytest as _pytest

    from finance_etl_system_spark.catalog import load_table
    from finance_etl_system_spark.operators.ivfstore import _compact_marker
    from finance_etl_system_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(
        e.filter(F.col("vec_id") < 300), path, k_clusters=3, id_col="vec_id"
    )
    fs, HPath = hadoop_fs(spark, path)
    marker = HPath(_compact_marker(path))
    assert fs.createNewFile(marker)  # a compaction is "in flight"
    tail = e.filter(F.col("vec_id") >= 300)
    with _pytest.raises(RuntimeError, match="_COMPACTING"):
        append_to_ivf_index(tail, path)
    # a second compaction refuses too (stale-marker healing message)
    with _pytest.raises(RuntimeError, match="_COMPACTING"):
        compact_ivf_index(spark, path)
    fs.delete(marker, False)
    # normal compaction takes and RELEASES the marker
    compact_ivf_index(spark, path)
    assert not fs.exists(marker)
    append_to_ivf_index(tail, path)  # append allowed again
    assert (
        spark.read.parquet(f"{path}/vectors").count() == e.count()
    )


def test_round_half_away_matches_duckdb_round():
    """The SQ8 coarse pass rounds with half-AWAY semantics (F.round /
    DuckDB ROUND); np.round is half-to-even and diverges on the half
    boundary — pin the helper against DuckDB on a boundary grid."""
    import duckdb
    import numpy as np

    from finance_etl_system_spark.operators.quantize import _round_half_away

    vals = [k / 2e6 for k in range(-9, 10)]  # ±k.5e-6 half boundaries
    vals += list(np.random.RandomState(1).uniform(-1, 1, 200))
    got = _round_half_away(np.array(vals), 6)
    want = [
        duckdb.sql(f"SELECT ROUND(CAST({v!r} AS DOUBLE), 6)").fetchone()[0]
        for v in vals
    ]
    assert list(got) == want
    # the divergence the fix closes: np.round is half-even here
    assert float(np.round(2.5e-6, 6)) == 2e-6
    assert float(_round_half_away(np.array([2.5e-6]))[0]) == 3e-6


def test_sq8_zero_norm_vectors_score_null_and_rank_last(spark):
    """An all-zero corpus vector must emit coarse = NULL (the JVM
    division-by-zero semantics), never NaN — NaN sorts ABOVE every
    real double in a desc window and would steal a rerank slot for
    every query."""
    import numpy as np

    from finance_etl_system_spark.operators.quantize import cosine_topk_sq8

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(20)]
    rows.append((99, [0.0] * 8))  # the zero-norm vector
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = cosine_topk_sq8(queries, corpus, k=5, rerank=10).collect()
    assert got and all(r.cid != 99 for r in got)
    # and the zero vector's coarse is NULL wherever it survives a
    # tiny-rerank run (rerank > corpus forces it into the output)
    allr = cosine_topk_sq8(queries, corpus, k=30, rerank=30).collect()
    zero_rows = [r for r in allr if r.cid == 99]
    assert zero_rows and all(r.coarse is None for r in zero_rows)
    # NULL coarse ranks LAST under the desc coarse window
    assert all(r.rnk == max(x.rnk for x in allr if x.qid == r.qid)
               for r in zero_rows)


@pytest.mark.parametrize("ansi", [True, False], ids=["ansi", "no_ansi"])
@pytest.mark.parametrize(
    "method",
    ["brute", "lsh", "ivf", "sq8", "pq", "ivf_index", "ivf_pq_index"],
)
def test_zero_norm_vector_scores_null_and_ranks_last(
    spark, tmp_path, method, ansi
):
    """Every ANN method gives an all-zero corpus vector a NULL score
    and ranks it last for each query that meets it, whatever the ANSI
    setting: the shared cosine is ``try_divide``, so ANSI mode's
    DIVIDE_BY_ZERO never fires and a NULL sorts last in the desc
    rank."""
    import numpy as np

    from finance_etl_system_spark.operators.ann import similarity_search
    from finance_etl_system_spark.operators.pq import build_ivf_pq_index
    from finance_etl_system_spark.operators.similarity import build_ivf_index

    rng = np.random.RandomState(7)
    rows = [(i, i % 2, [float(x) for x in rng.randn(8)]) for i in range(20)]
    rows.append((99, 1, [0.0] * 8))  # the zero-norm vector
    corpus = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    queries = corpus.filter("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    opts = {
        "brute": {},
        "lsh": {"nbits": 4, "bands": 4},
        "ivf": {"nprobe": 2},
        "sq8": {"rerank": 30},
        "pq": {"m": 2, "k_codes": 4, "max_iter": 2, "rerank": 30},
        "ivf_index": {"nprobe": 2},
        "ivf_pq_index": {"nprobe": 2, "rerank": 30},
    }[method]
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", str(ansi).lower())
    try:
        path = str(tmp_path / method)
        if method == "ivf_index":
            build_ivf_index(corpus, path, k_clusters=2, max_iter=2)
        elif method == "ivf_pq_index":
            build_ivf_pq_index(
                corpus, path, dim=8, k_clusters=2, m=2, k_codes=4, max_iter=2
            )
        got = similarity_search(
            queries,
            method=method,
            corpus=corpus,
            index_path=path,
            k=30,
            dim=8,
            **opts,
        ).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    zero_rows = [r for r in got if r.cid == 99]
    assert zero_rows, got
    assert all(r.score is None for r in zero_rows)
    assert all(r.score is not None for r in got if r.cid != 99)
    assert all(
        r.rnk == max(x.rnk for x in got if x.qid == r.qid) for r in zero_rows
    )


def test_verify_ivf_index_detects_crash_and_replay_residue(
    spark, tmp_path
):
    """verify_ivf_index is the observability side of the compaction/
    replay contracts: green on a healthy index; flags duplicate ids
    (the replay-after-compaction signature), out-of-range cluster
    rows (probe-invisible partitions), a stale _COMPACTING marker,
    and a leftover staging tree."""
    from finance_etl_system_spark.catalog import load_table
    from finance_etl_system_spark.operators.ivfstore import _compact_marker
    from finance_etl_system_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        verify_ivf_index,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(
        e.filter(F.col("vec_id") < 300), path, k_clusters=4, id_col="vec_id"
    )
    append_to_ivf_index(
        e.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 350)), path
    )
    rep = verify_ivf_index(spark, path)
    assert rep["consistent"], rep
    assert rep["n_vectors"] == 350 and rep["k_clusters"] == 4

    # replay-after-compaction signature: the same ids land twice
    # under two batch ids -> duplicate ids, index inconsistent
    append_to_ivf_index(
        e.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 350)),
        path,
        batch_id=9,
    )
    rep = verify_ivf_index(spark, path)
    assert not rep["consistent"] and rep["n_duplicate_ids"] == 50

    # heal: compact with the duplicated ids deleted, re-append once
    from finance_etl_system_spark.operators.similarity import (
        compact_ivf_index,
    )

    dupes = spark.createDataFrame(
        [(i,) for i in range(300, 350)], "vec_id long"
    )
    compact_ivf_index(spark, path, deleted_ids=dupes)
    append_to_ivf_index(
        e.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 350)), path
    )
    assert verify_ivf_index(spark, path)["consistent"]

    # probe-invisible partition: rows under an out-of-range cluster
    spark.read.parquet(f"{path}/vectors").limit(3).withColumn(
        "cluster", F.lit(99)
    ).withColumn("batch_id", F.lit(77)).write.mode("append").partitionBy(
        "batch_id", "cluster"
    ).parquet(f"{path}/vectors")
    rep = verify_ivf_index(spark, path)
    assert rep["bad_cluster_rows"] == 3 and not rep["consistent"]

    # stale compaction residue
    fs, HPath = hadoop_fs(spark, path)
    fs.createNewFile(HPath(_compact_marker(path)))
    fs.mkdirs(HPath(f"{path}/vectors.staging"))
    rep = verify_ivf_index(spark, path)
    assert rep["stale_compact_marker"] and rep["stale_staging_dir"]

def test_ivf_two_flag_protocol_append_lease_vs_compaction(
    spark, tmp_path, monkeypatch
):
    """The other direction of the single-writer fence: a compaction
    that STARTS while an append is in flight must back off (the
    append's _APPENDING lease is visible because the append stores it
    BEFORE loading the marker), and a compaction that FAILS mid-run
    must leave the index fenced (_COMPACTING kept on failure, not
    released in a finally)."""
    import pytest as _pytest

    from finance_etl_system_spark.catalog import load_table
    from finance_etl_system_spark.operators import textindex
    from finance_etl_system_spark.operators.ivfstore import (
        _append_lease,
        _compact_marker,
    )
    from finance_etl_system_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        verify_ivf_index,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(
        e.filter(F.col("vec_id") < 300), path, k_clusters=3, id_col="vec_id"
    )
    fs, HPath = hadoop_fs(spark, path)

    # 1) in-flight append (its lease is on disk) -> compaction backs
    #    off AND releases its own marker so the append can finish
    lease = HPath(_append_lease(path, "deadbeef"))
    assert fs.createNewFile(lease)
    with _pytest.raises(RuntimeError, match="_APPENDING"):
        compact_ivf_index(spark, path)
    assert not fs.exists(HPath(_compact_marker(path)))
    rep = verify_ivf_index(spark, path)
    assert rep["stale_append_leases"] == ["_APPENDING.deadbeef"]
    assert not rep["consistent"]
    fs.delete(lease, False)

    # 2) a successful append leaves no lease behind
    append_to_ivf_index(e.filter(F.col("vec_id") >= 300), path)
    assert verify_ivf_index(spark, path)["stale_append_leases"] == []

    # 3) a compaction that raises mid-swap keeps the index FENCED
    def boom(*a, **k):
        raise RuntimeError("executor lost mid-swap")

    monkeypatch.setattr(textindex, "_swap_dir", boom)
    with _pytest.raises(RuntimeError, match="mid-swap"):
        compact_ivf_index(spark, path)
    assert fs.exists(HPath(_compact_marker(path)))  # still fenced
    with _pytest.raises(RuntimeError, match="_COMPACTING"):
        append_to_ivf_index(e.limit(1), path)
    monkeypatch.undo()

    # heal: inspect, drop staging + marker, and the index works again
    rep = verify_ivf_index(spark, path)
    assert rep["stale_compact_marker"] and rep["stale_staging_dir"]
    fs.delete(HPath(f"{path}/vectors.staging"), True)
    fs.delete(HPath(_compact_marker(path)), False)
    compact_ivf_index(spark, path)
    assert verify_ivf_index(spark, path)["consistent"]


def test_embedding_centroids_dirty_fallback(spark):
    """Round-8: the fast path (per-label vector count as the
    denominator) must yield to exact per-dim counts when arrays are
    ragged or contain null elements — per-dim denominators then
    genuinely differ. Reference computed in Python."""
    from finance_etl_system_spark.queries.similarity import (
        _DIM,
        embedding_centroids_frame,
    )

    full = [float((i % 7) - 3) / 10.0 for i in range(_DIM)]
    ragged = full[: _DIM - 2]  # short array -> dims 63,64 missing
    holey = list(full)
    holey[4] = None  # null element at dim 5
    rows = [
        ("a", full), ("a", ragged), ("a", holey),
        ("b", full), ("b", None),
    ]
    df = spark.createDataFrame(rows, "label string, embedding array<double>")
    got = {
        (r["label"], r["dim"]): (r["centroid"], r["n_vectors"])
        for r in embedding_centroids_frame(df).collect()
    }
    assert len(got) == 2 * _DIM

    def tick(x):
        import decimal
        return int(
            decimal.Decimal(x * 1e8).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )

    # label a, dim 5: holey's null excluded -> denominator 2
    want_a5 = round((tick(full[4]) + tick(ragged[4])) / (1e8 * 2), 6)
    assert got[("a", 5)] == (want_a5, 3)
    # label a, dim 64: only `full` has it -> denominator 1
    assert got[("a", _DIM)] == (round(tick(full[-1]) / 1e8, 6), 3)
    # label a, dim 1: all three present -> denominator 3
    want_a1 = round(3 * tick(full[0]) / (1e8 * 3), 6)
    assert got[("a", 1)] == (want_a1, 3)
    # label b: null VECTOR is excluded from every dim, n_vectors counts it
    assert got[("b", 1)] == (round(tick(full[0]) / 1e8, 6), 2)


def test_ivf_probe_detects_mid_scan_rebuild_or_compaction(
    spark, corpus, tmp_path
):
    """The check-then-read race, closed for the plain-IVF probe too
    (the operators/pq.py r12 twin): a compaction fencing the index —
    or a whole rebuild committing — inside a probe's read window
    makes the probe fail LOUDLY instead of returning a half-swapped
    scan. build_id makes even an identical-params rebuild visible."""
    import os

    from finance_etl_system_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_ivf_index,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(corpus, path, k_clusters=4, id_col="vec_id")
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    # (a) a compaction takes the fence mid-probe
    def fence():
        open(os.path.join(path, "_COMPACTING"), "w").close()

    with pytest.raises(RuntimeError, match="overlapped a compaction"):
        cosine_topk_ivf_index(
            spark, path, queries, k=3, retries=0, _race_hook=fence
        )
    # the fence is STANDING state: with retries allowed, the next
    # attempt refuses at entry with the manual-heal message instead
    # of spinning on re-scans
    with pytest.raises(RuntimeError, match="_COMPACTING marker"):
        cosine_topk_ivf_index(spark, path, queries, k=3, _race_hook=fence)
    os.remove(os.path.join(path, "_COMPACTING"))

    # (b) an IDENTICAL-params rebuild commits inside the window —
    # every meta byte equal except build_id
    def rebuild_same():
        build_ivf_index(corpus, path, k_clusters=4, id_col="vec_id")

    with pytest.raises(RuntimeError, match="overlapped a completed"):
        cosine_topk_ivf_index(
            spark, path, queries, k=3, retries=0, _race_hook=rebuild_same
        )

    # with the DEFAULT retries the detected rebuild SELF-HEALS: the
    # retry answers from the new generation
    healed = cosine_topk_ivf_index(
        spark, path, queries, k=3, _race_hook=rebuild_same
    ).collect()
    assert {r.qid: r.cid for r in healed if r.rnk == 1} == {0: 0, 1: 1, 2: 2}

    # sanity: an unraced probe over the final index still self-matches
    got = cosine_topk_ivf_index(spark, path, queries, k=3).collect()
    assert {r.qid: r.cid for r in got if r.rnk == 1} == {0: 0, 1: 1, 2: 2}


# Certification tier (verdict r11 #4; markers registered in
# tests/conftest.py): this module is excluded from the fast tier
# `pytest -m "not certify"` and runs in the full per-round gate.
# Assignment is duration-measured (tools/tier_report.py), not guessed.
import pytest as _pytest_tier

pytestmark = _pytest_tier.mark.certify
