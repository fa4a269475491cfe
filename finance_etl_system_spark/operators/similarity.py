"""Similarity search over embedding columns (SURVEY §2.10 X2).

Three tiers, as a real 100 TB pipeline would deploy them:
- ``cosine_topk_bruteforce``: exact. The query set is broadcast (it is
  small by construction); the corpus streams — one scan, no shuffle of
  the corpus, per-partition heaps via window top-k. The JVM computes
  the dot products (``zip_with``/``aggregate``), no Python.
- ``cosine_topk_lsh``: random-hyperplane signatures; candidates only
  meet on matching signature bands, then exact rerank. Sub-linear
  candidate volume, tunable recall.
- ``cosine_topk_ivf``: inverted-file — corpus pre-bucketed by coarse
  centroid (here: per-label mean, standing in for k-means), queries
  probe the ``nprobe`` nearest centroids only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.confs import partition_overwrite
from ..functions.errors import error_condition
from ..functions.generations import hadoop_fs, read_state
from ..functions.sqltext import sql_ident, sql_literal


# The vector building blocks as Spark SQL text: each Column lambda
# registration costs py4j round trips (the bruteforce construction
# measured ~250 ms of pure driver time as a Column chain). The
# sequential (acc, v) -> acc + v fold keeps scores bit-stable.
def _as_double_sql(col: str) -> str:
    return f"transform({sql_ident(col)}, x -> CAST(x AS DOUBLE))"


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
        f" (acc, v) -> acc + v)"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def _cosine_sql(a: str, b: str, *, safe: bool = False) -> str:
    """cos(a, b); ``safe`` (``try_divide``) gives NULL for a zero
    vector instead of ANSI mode's DIVIDE_BY_ZERO error."""
    den = f"{_norm_sql(a)} * {_norm_sql(b)}"
    if safe:
        return f"try_divide({_dot_sql(a, b)}, {den})"
    return f"{_dot_sql(a, b)} / ({den})"


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus.

    Scale shape: broadcast(queries) ⋈ corpus is a map-side nested loop
    over a small broadcast side — the corpus is scanned once, never
    shuffled; the final top-k window shuffles only (n_queries × corpus
    partition heads). Cosine is rounded BEFORE ranking so ordering is
    deterministic across engines/plans.
    """
    q = queries.selectExpr(
        f"{sql_ident(query_id)} AS qid", f"{_as_double_sql(vec_col)} AS qv"
    )
    c = corpus.selectExpr(
        f"{sql_ident(corpus_id)} AS cid", f"{_as_double_sql(vec_col)} AS cv"
    )
    scored = c.crossJoin(F.broadcast(q)).selectExpr(
        "qid",
        "cid",
        f"round({_cosine_sql('qv', 'cv')}, {int(round_dp)}) AS cosine",
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "rnk", "cid", "cosine")
    )


def _planes(nbits: int, dim: int, seed: int = 7) -> np.ndarray:
    return np.random.RandomState(seed).randn(nbits, dim)


def signature_col(vec_sql: str, planes: np.ndarray):
    """Random-hyperplane signature of the double-array SQL expression
    ``vec_sql``: bit i = sign(v · plane_i) — as an array of nbits
    ints, computed JVM-side from literal plane arrays. Plan size grows
    as nbits × dim literals: fine to ~16 bits; beyond that use
    :func:`signature_udf` (Arrow-batched matmul)."""
    bits = []
    for row in planes:
        plane = "array(" + ", ".join(sql_literal(float(x)) for x in row) + ")"
        bits.append(
            f"CASE WHEN {_dot_sql(vec_sql, plane)} >= 0 THEN 1 ELSE 0 END"
        )
    return F.expr("array(" + ", ".join(bits) + ")")


def signature_udf(planes: np.ndarray):
    """Wide-signature variant of :func:`signature_col`: one vectorized
    pandas UDF doing the whole (batch × dim) @ (dim × nbits) matmul in
    BLAS per Arrow batch. Constant plan size regardless of nbits, and
    the per-row cost is a fused matmul — the right shape when nbits ≥
    32 or dim is large (plan compilation dominates the JVM-literal
    form there)."""
    from pyspark.sql import types as T

    pt = planes.T.copy()

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _sig(vecs: pd.Series) -> pd.Series:
        out = []
        if len(vecs):
            m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
            bits = (m @ pt >= 0).astype(np.int32)
            out = [row for row in bits]
        return pd.Series(out)

    return _sig


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 10,
    nbits: int = 16,
    bands: int = 4,
    seed: int = 7,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 signature band, then
    exact cosine rerank. Recall rises with bands; cost falls with
    rows-per-band.

    Signature path is chosen by plan size: nbits × dim literal
    expressions up to ~512 compile fine; above that the JVM-literal
    form spends more time in Catalyst than in execution (measured
    ~2.5× on 16×64) and the Arrow-batched matmul UDF wins despite the
    Python hop — it's one BLAS call per batch.

    Pass ``dim`` (the embedding dimensionality) explicitly — array
    columns don't carry their length in the schema, so when omitted
    the operator falls back to probing one row, which is an extra
    Spark job (a cold one-row scan of the corpus at 100 TB) on the
    query-BUILD path.
    """
    assert nbits % bands == 0
    rpb = nbits // bands
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = _planes(nbits, dim, seed)
    use_udf = nbits * dim > 512
    sig_udf = signature_udf(planes) if use_udf else None

    def with_bands(df, id_alias):
        v_sql = _as_double_sql(vec_col)
        v = F.expr(v_sql)
        sig = sig_udf(v) if use_udf else signature_col(v_sql, planes)
        rows = df.select(
            F.col(id_alias[0]).alias(id_alias[1]),
            v.alias(f"{id_alias[1]}_v"),
            sig.alias("sig"),
        )
        return rows.select(
            id_alias[1],
            f"{id_alias[1]}_v",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bi).alias("band"),
                            F.concat_ws(
                                "",
                                *[
                                    F.col("sig")[bi * rpb + j].cast("string")
                                    for j in range(rpb)
                                ],
                            ).alias("sigb"),
                        )
                        for bi in range(bands)
                    ]
                )
            ).alias("b"),
        ).select(
            id_alias[1],
            f"{id_alias[1]}_v",
            F.col("b.band").alias("band"),
            F.col("b.sigb").alias("sigb"),
        )

    qb = with_bands(queries, (query_id, "qid"))
    cb = with_bands(corpus, (corpus_id, "cid"))
    cands = (
        cb.join(F.broadcast(qb), ["band", "sigb"])
        .dropDuplicates(["qid", "cid"])
        .select(
            "qid",
            "cid",
            F.expr(f"round({_cosine_sql('qid_v', 'cid_v')}, 6)").alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid").asc())
    return (
        cands.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "rnk", "cid", "cosine")
    )


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 2,
    cluster_col: str = "label",
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF: coarse-quantize the corpus (here by ``cluster_col``, the
    stand-in for a k-means assignment), compute per-cluster centroids,
    route each query to its ``nprobe`` nearest centroids, and search
    only those buckets. The bucket routing join is a broadcast of
    (query × centroid) distances — tiny; the corpus is scanned with a
    cluster-membership semi-filter, which at scale is a partition-
    pruned read when the table is partitioned by cluster."""
    c = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col(cluster_col).alias("cluster"),
        F.expr(_as_double_sql(vec_col)).alias("cv"),
    )
    centroids = (
        c.select("cluster", F.posexplode("cv").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cluster", F.transform("pm", lambda s: s["m"]).alias("centroid"))
    )
    q = queries.select(
        F.col(query_id).alias("qid"), F.expr(_as_double_sql(vec_col)).alias("qv")
    )
    routed = _route_queries(q, centroids, nprobe)
    scored = c.join(F.broadcast(routed), "cluster").select(
        "qid",
        "cid",
        F.expr(f"round({_cosine_sql('qv', 'cv')}, 6)").alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "rnk", "cid", "cosine")
    )


def _route_queries(q: DataFrame, centroids: DataFrame, nprobe: int) -> DataFrame:
    """(qid, qv) × broadcast centroid table → the nprobe nearest
    clusters per query (cosine routing, deterministic tiebreak)."""
    return (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "qid",
            "qv",
            "cluster",
            F.expr(_cosine_sql("qv", "centroid")).alias("c_cos"),
        )
        .withColumn(
            "crnk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("c_cos").desc(), F.col("cluster").asc()
                )
            ),
        )
        .filter(F.col("crnk") <= nprobe)
        .select("qid", "qv", "cluster")
    )


# batch_id namespace split: manual/auto appends allocate upward from
# 1 (batch 0 is the build), streaming appends (streaming/similarity)
# write IVF_STREAM_BATCH_BASE + micro_batch_id. Auto-assign ignores
# the stream namespace when computing max+1, so a manual append can
# never collide with — and dynamic-overwrite-DELETE — a future or
# replayed stream batch's partitions (the two counters are otherwise
# racing for the same integers).
IVF_STREAM_BATCH_BASE = 1_000_000_000


_IVF_META_SCHEMA = "id_col string, vec_col string, k_clusters int, build_id long"


def _compact_marker(path: str) -> str:
    return f"{path}/_COMPACTING"


def _build_marker(path: str) -> str:
    return f"{path}/_BUILDING"


def _append_lease(path: str, token: str) -> str:
    return f"{path}/_APPENDING.{token}"


def _live_append_leases(fs, HPath, path: str) -> list[str]:
    """Names of _APPENDING.* lease files under the index root."""
    root = HPath(path)
    if not fs.exists(root):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(root)
        if st.getPath().getName().startswith("_APPENDING.")
    ]


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    k_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
):
    """Build-once/query-many ANN index — the FAISS-IVF pattern as a
    table LAYOUT: train k-means (operators/clustering.py), then write

    - ``{path}/vectors``   vectors parquet PARTITIONED BY cluster
    - ``{path}/centroids`` the k×d centroid table (k rows)

    Partitioning by cluster is what turns a probe into data skipping:
    querying joins the routed (query, cluster) pairs against the
    partition COLUMN, so Spark's dynamic partition pruning reads only
    the probed clusters' files — at 100 TB an nprobe/k fraction of the
    index, no full scan (plan-asserted in tests/test_similarity.py).
    The vectors table is partitioned (batch_id, cluster): the build is
    batch 0, and each append lands as its own batch partition — which
    is what makes appends RETRY-IDEMPOTENT (a replayed batch
    dynamic-overwrites its own partitions instead of duplicating).
    Cluster pruning is unaffected: partition pruning applies to any
    level of the directory layout.
    Returns the fitted KMeansModel (k×d driver state)."""
    from .clustering import kmeans_assign, kmeans_fit

    model = kmeans_fit(
        corpus, vec_col=vec_col, id_col=id_col, k=k_clusters,
        max_iter=max_iter, compute_inertia=False,
    )
    assigned = kmeans_assign(corpus, model.centroids, vec_col=vec_col)
    # full rewrite — pin static overwrite so a rebuild over an
    # existing index never leaves stale cluster partitions behind
    # (a prior streaming sink may have set the dynamic mode)
    with partition_overwrite(corpus.sparkSession, "static"):
        (
            assigned.select(
                id_col, vec_col, F.lit(0).alias("batch_id"), "cluster"
            )
            .write.mode("overwrite")
            .partitionBy("batch_id", "cluster")
            .parquet(f"{path}/vectors")
        )
    rows = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(model.centroids)
    ]
    corpus.sparkSession.createDataFrame(
        rows, "cluster int, centroid array<double>"
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    # persist the column contract: probes must not have to GUESS which
    # column is the id (silent wrong-column pick if the vectors table
    # ever gains a column). ``build_id`` (wall-clock ns — uniqueness
    # is all that matters) lets a probe's post-scan re-check detect a
    # whole rebuild committing inside its read window even when every
    # parameter is identical (the operators/pq.py precedent, r12).
    import time as _time

    corpus.sparkSession.createDataFrame(
        [(id_col, vec_col, int(k_clusters), int(_time.time_ns()))],
        _IVF_META_SCHEMA,
    ).write.mode("overwrite").parquet(f"{path}/meta")
    return model


def append_to_ivf_index(
    new_vectors: DataFrame,
    path: str,
    *,
    batch_id: int | None = None,
) -> None:
    """Incremental ANN index maintenance — the FAISS add-with-frozen-
    centroids pattern: new vectors route to their nearest EXISTING
    centroid (the k-row centroid table broadcasts into one pandas-UDF
    pass, no shuffle) and append into that cluster's partition. The
    centroids are deliberately NOT retrained per batch: probe routing
    must stay stable between retrains or cached/query-side routing
    would disagree with the data layout. Quantization quality decays
    as the distribution drifts — watch ``ivf_index_stats`` and rebuild
    (cluster-grain rewrite) when imbalance or mean residual crosses
    budget, exactly the ES segment-merge / FAISS retrain cadence.

    Column names come from the index's meta table (never guessed).
    Every append writes its own ``batch_id`` partition level
    (auto-assigned max+1 when not given) with DYNAMIC partition
    overwrite, so a RETRIED append with the same explicit batch_id
    replaces its own (batch, cluster) partitions instead of
    duplicating — effectively-once maintenance, batch or streaming
    (streaming/similarity.py wires foreachBatch to this with the
    micro-batch id). Routing is deterministic (frozen centroids), so
    a retry touches exactly the same partitions. After an append,
    ``cosine_topk_ivf_index`` answers over the union with UNCHANGED
    probe pruning — cluster stays a partition column. Parity with a
    same-centroid one-shot build is pinned in
    tests/test_similarity.py.

    Auto-assignment EXCLUDES the streaming namespace (batch_id >=
    IVF_STREAM_BATCH_BASE): a stream's ids are a function of its
    checkpointed micro-batch counter, so if max+1 could land inside
    that range, a later (or replayed) stream batch would dynamic-
    overwrite the manual batch's (batch, cluster) partitions and
    silently delete its vectors.

    MUTUAL EXCLUSION with compaction is two-flag (Peterson-style
    store-then-load on both sides): the append creates a unique
    ``_APPENDING.<token>`` lease under the index root BEFORE checking
    for ``_COMPACTING``, and compact_ivf_index creates its marker
    BEFORE checking for leases — so whichever order the two racers
    interleave in, at least one of them observes the other's flag and
    refuses (both refusing is possible and safe; neither writes). A
    one-directional check (append looks for the marker, nothing looks
    for the append) would let a compaction that STARTS mid-append
    swap the directory and silently drop the in-flight append's
    vectors. The lease is removed in a ``finally`` — an append that
    raises leaves nothing held (its partial batch partition is
    repaired by the retry's dynamic overwrite); only a hard process
    kill leaves a stale lease, which blocks compaction until the
    operator deletes it (surfaced by verify_ivf_index)."""
    import uuid

    spark = new_vectors.sparkSession
    fs, HPath = hadoop_fs(spark, path)
    lease = HPath(_append_lease(path, uuid.uuid4().hex))
    if not fs.createNewFile(lease):  # pragma: no cover - uuid collision
        raise RuntimeError(f"could not take append lease {lease}")
    try:
        if fs.exists(HPath(_compact_marker(path))):
            raise RuntimeError(
                f"IVF index at {path} is being compacted (_COMPACTING "
                "marker present); retry the append after the "
                "compaction finishes — a write racing the directory "
                "swap would be silently lost"
            )
        _append_to_ivf_index_locked(
            new_vectors, path, batch_id=batch_id
        )
    finally:
        fs.delete(lease, False)


def _append_to_ivf_index_locked(
    new_vectors: DataFrame,
    path: str,
    *,
    batch_id: int | None = None,
) -> None:
    """Body of append_to_ivf_index, running under its append lease."""
    from .clustering import kmeans_assign

    spark = new_vectors.sparkSession
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    for col in (id_col, vec_col):
        if col not in new_vectors.columns:
            raise ValueError(
                f"index meta names column {col!r} but the append batch "
                f"has {new_vectors.columns}"
            )
    cents = spark.read.parquet(f"{path}/centroids").orderBy("cluster").collect()
    centroids = np.array([r["centroid"] for r in cents], dtype=np.float64)
    # append with the INDEX's stored vector type: a batch arriving as
    # array<double> into an array<float> index (or vice versa) would
    # write mixed parquet schemas and fail every later probe read
    stored_type = spark.read.parquet(f"{path}/vectors").schema[
        vec_col
    ].dataType
    if batch_id is None:
        # next free batch: a directory-listing-sized max over the
        # partition column (no data read — answered from partitions),
        # EXCLUDING the streaming namespace (see docstring)
        top = (
            spark.read.parquet(f"{path}/vectors")
            .filter(F.col("batch_id") < IVF_STREAM_BATCH_BASE)
            .agg(F.max("batch_id"))
            .first()[0]
        )
        batch_id = int(top) + 1 if top is not None else 1
    assigned = kmeans_assign(
        new_vectors.select(
            F.col(id_col),
            F.col(vec_col).cast(stored_type).alias(vec_col),
        ),
        centroids,
        vec_col=vec_col,
    )
    # dynamic overwrite of THIS batch's partitions only: a replayed
    # batch_id rewrites itself; other batches' partitions untouched
    with partition_overwrite(spark, "dynamic"):
        (
            assigned.select(
                id_col, vec_col, F.lit(int(batch_id)).alias("batch_id"),
                "cluster",
            )
            .write.mode("overwrite")
            .partitionBy("batch_id", "cluster")
            .parquet(f"{path}/vectors")
        )


def compact_ivf_index(
    spark, path: str, deleted_ids: DataFrame | None = None
) -> None:
    """Fold the accumulated append batches back into batch 0 (and
    optionally drop deleted ids) — the segment-merge step between
    retrains: many small (batch_id, cluster) partitions from
    streaming appends become one file set per cluster, restoring
    scan efficiency without touching the centroids (routing stays
    valid; a RETRAIN is build_ivf_index again). Same staging +
    directory-swap discipline as compact_text_index: the live index
    is never half-written — a crash leaves the old index or the new
    one. Cost is the vectors table once per compaction window.

    SINGLE-WRITER CONTRACT (asserted, not just documented): the
    compaction takes a ``_COMPACTING`` marker under the index root
    for its whole run; ``append_to_ivf_index`` (and therefore every
    streaming micro-batch) raises while it is held, because an
    append racing the swap writes into the pre-swap directory tree
    and is silently dropped when staging is promoted. After taking
    the marker, compaction checks for in-flight ``_APPENDING.*``
    leases and backs off (releasing the marker) if any exist — the
    other half of the two-flag protocol documented on
    append_to_ivf_index, which closes the race where a compaction
    STARTS after an append passed its marker check but before its
    write landed. The marker is released only on SUCCESS: a failed
    compaction (exception — e.g. a mid-swap executor loss — or a
    crash) leaves it behind ON PURPOSE, keeping the index fenced in
    exactly the states where its tree may be half-swapped; run
    verify_ivf_index, repair (promote or remove ``vectors.staging``),
    then delete ``{path}/_COMPACTING`` to heal.
    Additionally, compact ONLY while the index's stream (if any) is
    stopped with a fully committed checkpoint: a stream batch that
    wrote its partitions but did not commit will be REPLAYED on
    restart, and if the compaction already folded that batch into
    batch 0 the replay re-adds its vectors as duplicates. Committed
    batches are never replayed, so a graceful availableNow drain (or
    offsets==commits in the checkpoint) makes compaction safe."""
    from .textindex import _swap_dir

    fs, HPath = hadoop_fs(spark, path)
    marker = HPath(_compact_marker(path))
    if not fs.createNewFile(marker):
        raise RuntimeError(
            f"IVF index at {path} already has a _COMPACTING marker: "
            "another compaction is running, or a previous one "
            "failed — verify_ivf_index, repair, then delete the "
            "marker to heal"
        )
    leases = _live_append_leases(fs, HPath, path)
    if leases:
        # back off cleanly: nothing was written, so un-fence
        fs.delete(marker, False)
        raise RuntimeError(
            f"IVF index at {path} has in-flight append lease(s) "
            f"{leases}; retry the compaction after they finish (a "
            "stale lease from a killed append must be deleted by the "
            "operator — see verify_ivf_index)"
        )
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    id_col = meta["id_col"]
    v = spark.read.parquet(f"{path}/vectors")
    if deleted_ids is not None:
        ids = F.broadcast(
            deleted_ids.select(
                F.col(deleted_ids.columns[0]).alias(id_col)
            ).distinct()
        )
        v = v.join(ids, id_col, "left_anti")
    with partition_overwrite(spark, "static"):
        (
            v.drop("batch_id")
            .select("*", F.lit(0).alias("batch_id"))
            .select(id_col, meta["vec_col"], "batch_id", "cluster")
            .write.mode("overwrite")
            .partitionBy("batch_id", "cluster")
            .parquet(f"{path}/vectors.staging")
        )
    _swap_dir(spark, f"{path}/vectors")
    # released on SUCCESS only — a raise above leaves the index fenced
    # (see docstring's heal path)
    fs.delete(marker, False)


def verify_ivf_index(spark, path: str) -> dict:
    """Consistency check for the IVF index's crash/replay windows —
    the textindex verify_text_index twin. Detects, without repairing:

    - ``bad_cluster_rows``: vectors routed to a cluster id outside
      the centroid table (a partial write or a probe-invisible
      partition — those rows can never be probed);
    - ``missing_centroids``: centroid ids absent from the 0..k-1
      contiguous range the meta table promises;
    - ``n_duplicate_ids``: ids stored more than once — the signature
      of a stream batch replayed AFTER a compaction folded its
      vectors into batch 0 (compact_ivf_index's documented unsafe
      interleaving); heal by re-running compaction, which rewrites
      one row per id only if the caller dedups, so the honest heal is
      delete+re-append or a compaction with deleted_ids = the dupes;
    - ``stale_compact_marker`` / ``stale_staging_dir``: residue of a
      failed compaction (marker deliberately kept on failure — see
      compact_ivf_index; staging dir means the swap never ran — the
      live index is the OLD one, delete the staging tree after
      inspection);
    - ``stale_append_leases``: ``_APPENDING.*`` files left by a
      hard-killed append (a raising append cleans up after itself);
      they block compaction until the operator deletes them.

    All aggregates are id- or k-sized; one scan of the vectors table.
    """
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    id_col, k = meta["id_col"], int(meta["k_clusters"])
    cents = spark.read.parquet(f"{path}/centroids")
    cent_ids = sorted(r["cluster"] for r in cents.select("cluster").collect())
    missing_centroids = sorted(set(range(k)) - set(cent_ids))
    v = spark.read.parquet(f"{path}/vectors")
    agg = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(id_col)).alias("n_ids"),
        F.sum(
            ((F.col("cluster") < 0) | (F.col("cluster") >= k)).cast("long")
        ).alias("bad"),
    ).collect()[0]
    fs, HPath = hadoop_fs(spark, path)
    stale_marker = bool(fs.exists(HPath(_compact_marker(path))))
    stale_staging = bool(fs.exists(HPath(f"{path}/vectors.staging")))
    leases = _live_append_leases(fs, HPath, path)
    out = {
        "k_clusters": k,
        "n_vectors": int(agg["n"]),
        "bad_cluster_rows": int(agg["bad"] or 0),
        "missing_centroids": missing_centroids,
        "n_duplicate_ids": int(agg["n"]) - int(agg["n_ids"]),
        "stale_compact_marker": stale_marker,
        "stale_staging_dir": stale_staging,
        "stale_append_leases": leases,
    }
    out["consistent"] = (
        out["bad_cluster_rows"] == 0
        and not missing_centroids
        and out["n_duplicate_ids"] == 0
        and not stale_marker
        and not stale_staging
        and not leases
    )
    return out


def ivf_index_stats(spark, path: str) -> DataFrame:
    """Retrain-trigger observability for a (possibly appended) IVF
    index: per cluster — vector count, share of the corpus, and the
    mean/max cosine RESIDUAL (1 − cos(vector, its centroid)). Appends
    under frozen centroids grow residuals as the distribution drifts;
    a rebuild is due when max share breaches the balance budget
    (probe cost is proportional to the largest probed cluster) or the
    residual trend breaks. One scan of the vectors table, k-row
    broadcast, k-row output."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    vec_col = meta["vec_col"]
    vectors = spark.read.parquet(f"{path}/vectors")
    cent = spark.read.parquet(f"{path}/centroids")
    v = vectors.select(
        "cluster", F.expr(_as_double_sql(vec_col)).alias("v")
    ).join(F.broadcast(cent), "cluster")
    resid = F.expr(f"1.0D - ({_cosine_sql('v', 'centroid')})")
    per = v.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg(resid), 6).alias("mean_residual"),
        F.round(F.max(resid), 6).alias("max_residual"),
    )
    total = per.agg(F.sum("n_vectors").alias("n_total"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "cluster",
            "n_vectors",
            F.round(F.col("n_vectors") / F.col("n_total"), 6).alias("share"),
            "mean_residual",
            "max_residual",
        )
        .orderBy("cluster")
    )


class ProbeRaceError(RuntimeError):
    """A probe's post-scan consistency guard detected an overlapping
    rebuild/compaction. Retryable by construction: re-entering the
    probe re-resolves meta and fences against the new generation.
    A dedicated type (advisor r12) so the retry dispatch cannot
    false-positive on unrelated RuntimeErrors whose text happens to
    contain 'overlapped', and message rewording cannot silently
    disable self-heal."""


def _retry_on_probe_race(once, retries: int, race_hook):
    """Bounded self-heal for the post-scan consistency guards (r12):
    a probe that DETECTED an overlapping rebuild/compaction re-runs
    from scratch — entry re-resolves meta and fences, so the retry
    reads the new index generation as one consistent snapshot. Only
    the 'overlapped' detection retries; a standing fence (a marker
    left by a crashed rebuild/compaction) raises its manual-heal
    error without spinning. The test race hook fires on the FIRST
    attempt only — it exists to inject the race, not to re-inject it
    forever."""
    attempt = 0
    while True:
        try:
            return once(race_hook if attempt == 0 else None)
        except ProbeRaceError:
            if attempt >= retries:
                raise
            attempt += 1


def cosine_topk_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 2,
    query_id: str = "query_id",
    vec_col: str = "embedding",
    verify_consistency: bool = True,
    retries: int = 2,
    _race_hook=None,
) -> DataFrame:
    """Query a persisted IVF index with the same bounded self-heal as
    cosine_topk_ivf_pq: an 'overlapped rebuild/compaction' detection
    re-runs the probe (up to ``retries``) against the new
    generation; a standing ``_COMPACTING`` fence raises the
    manual-heal error at entry instead of spinning."""
    return _retry_on_probe_race(
        lambda hook: _cosine_topk_ivf_index_once(
            spark, path, queries, k=k, nprobe=nprobe,
            query_id=query_id, vec_col=vec_col,
            verify_consistency=verify_consistency, _race_hook=hook,
        ),
        retries,
        _race_hook,
    )


def _cosine_topk_ivf_index_once(
    spark,
    path: str,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 2,
    query_id: str = "query_id",
    vec_col: str = "embedding",
    verify_consistency: bool = True,
    _race_hook=None,
) -> DataFrame:
    """Query a persisted IVF index (build_ivf_index): route each query
    to its nprobe nearest centroids (broadcast k-row table), then scan
    ONLY those clusters' partitions.

    The routed cluster ids are COLLECTED (≤ |queries|·nprobe values —
    the query-sized collect class, same as bm25_search_index's bucket
    list) and pushed as a LITERAL ``cluster IN (...)`` partition
    filter, so the pruning is static and guaranteed at plan time:
    unprobed partitions are never even listed. (The earlier
    join-driven formulation planned a dynamicpruningexpression that
    Spark did not honor at runtime — measured 8/8 partition files read
    for a 1-cluster probe; the literal filter measurably reads only
    the probed partitions, see tools/index_probe_check.py and the
    plan+metrics assert in tests/test_similarity.py.) Exact cosine
    within the probed buckets, deterministic top-k."""
    # entry fence: a held (or crash-stale) _COMPACTING marker means
    # the vectors tree may be mid-swap — refuse fast with the
    # manual-heal message rather than scanning a possibly
    # half-promoted directory (the r12 retry wrapper deliberately
    # does NOT retry this: the marker is standing state, not a race)
    fs, HPath = hadoop_fs(spark, path)
    if fs.exists(HPath(_compact_marker(path))):
        raise RuntimeError(
            f"IVF index at {path} has a _COMPACTING marker: a"
            " compaction is running or failed mid-swap — probe"
            " refused; verify_ivf_index, repair, then delete the"
            " marker to heal"
        )
    centroids = spark.read.parquet(f"{path}/centroids")
    vectors = spark.read.parquet(f"{path}/vectors")
    # the meta table names the INDEX's columns; the caller's vec_col
    # keeps naming the QUERY frame's vector column — conflating the
    # two would silently score with the wrong query column whenever
    # the names differ. Only a pre-meta index layout (no meta yet)
    # falls back to inference.
    meta = read_state(spark, f"{path}/meta", _IVF_META_SCHEMA).head()
    if meta is not None:
        id_col, index_vec_col = meta["id_col"], meta["vec_col"]
    else:  # pre-meta index layout: infer, but FAIL loudly
        index_vec_col = vec_col
        cands = [c for c in vectors.columns if c not in (vec_col, "cluster")]
        if len(cands) != 1:
            raise ValueError(
                f"index at {path} has no meta table and an ambiguous "
                f"id column (candidates {cands}); rebuild with "
                "build_ivf_index"
            )
        id_col = cands[0]
    for col, what in ((id_col, "id"), (index_vec_col, "vector")):
        if col not in vectors.columns:
            raise ValueError(
                f"index meta names {what} column {col!r} but the vectors "
                f"table has {vectors.columns}"
            )
    q = queries.select(
        F.col(query_id).alias("qid"), F.expr(_as_double_sql(vec_col)).alias("qv")
    )
    # routing is centroid-table-sized work; checkpoint so the collect
    # below and the scoring join don't recompute it
    routed = _route_queries(q, centroids, nprobe).localCheckpoint(eager=True)
    probed = sorted(
        r["cluster"] for r in routed.select("cluster").distinct().collect()
    )
    vectors = vectors.filter(F.col("cluster").isin(probed))
    c = vectors.select(
        F.col(id_col).alias("cid"),
        "cluster",
        F.expr(_as_double_sql(index_vec_col)).alias("cv"),
    )
    scored = c.join(F.broadcast(routed), "cluster").select(
        "qid",
        "cid",
        F.expr(f"round({_cosine_sql('qv', 'cv')}, 6)").alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("cid").asc()
    )
    out = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "rnk", "cid", "cosine")
    )
    if _race_hook is not None:
        _race_hook()  # test seam: the check-then-read window
    if verify_consistency:
        # the operators/pq.py r12 pattern: materialize the nq×k
        # result (the only lazy read of index tables), then re-check
        # that no compaction fenced the index and the meta row —
        # build_id included — is unchanged, so a rebuild or
        # compaction overlapping this probe fails loudly instead of
        # returning a half-swapped scan.
        # verify_consistency=False keeps the frame lazy for the
        # partition-pruning plan/metrics tests.
        try:
            out = out.localCheckpoint(eager=True)
        except Exception:
            _verify_ivf_probe_consistency(spark, path, meta)
            raise
        _verify_ivf_probe_consistency(spark, path, meta)
    return out


def _verify_ivf_probe_consistency(spark, path: str, meta_entry) -> None:
    """Post-scan re-validation for IVF probes (the operators/pq.py
    ``_verify_probe_consistency`` twin): raises if a compaction is in
    flight now, or the meta row changed — ``build_id`` changes every
    build_ivf_index run, so even an identical-params rebuild that
    fully committed inside the probe window is detected."""
    from pyspark.errors import AnalysisException

    fs, HPath = hadoop_fs(spark, path)
    if fs.exists(HPath(_compact_marker(path))):
        raise ProbeRaceError(
            f"IVF probe at {path} overlapped a compaction"
            " (_COMPACTING appeared during the scan); retry the"
            " probe after the compaction finishes"
        )
    now = None
    try:
        rows = spark.read.parquet(f"{path}/meta").collect()
        now = rows[0] if rows else None
    except AnalysisException as e:
        if error_condition(e) not in (
            "PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"
        ):
            raise
    entry_d = meta_entry.asDict() if meta_entry is not None else None
    now_d = now.asDict() if now is not None else None
    if entry_d != now_d:
        raise ProbeRaceError(
            f"IVF probe at {path} overlapped a completed rebuild"
            f" (meta changed during the scan: {entry_d!r} →"
            f" {now_d!r}); retry the probe against the new index"
        )
