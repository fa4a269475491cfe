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

Every ANN kernel here and in operators/{quantize,pq}.py ends in one
shared tail: ``cosine_score_sql`` (the safe cosine, rounded before
ranking), ``rank_per_query`` (score desc, ``cid`` tiebreak, first k)
and, for the compressed tiers, ``exact_rerank`` over the shortlist.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqltext import sql_ident, sql_literal
from . import ivfstore
from .ivfstore import IVF_STREAM_BATCH_BASE, ProbeRaceError  # noqa: F401 — public names


# The vector building blocks as Spark SQL text: each Column lambda
# registration costs py4j round trips (the bruteforce construction
# measured ~250 ms of pure driver time as a Column chain). The
# sequential (acc, v) -> acc + v fold keeps scores bit-stable.
def as_double_sql(col: str) -> str:
    return f"transform({sql_ident(col)}, x -> CAST(x AS DOUBLE))"


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
        f" (acc, v) -> acc + v)"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def _cosine_sql(a: str, b: str) -> str:
    """cos(a, b). ``try_divide`` gives a zero-norm vector a NULL
    cosine, which ranks last, under either ANSI setting (a plain
    division raises DIVIDE_BY_ZERO with ANSI on, Spark 4's default)."""
    return f"try_divide({_dot_sql(a, b)}, {_norm_sql(a)} * {_norm_sql(b)})"


def unit_vector_sql(vec: str, norm: str) -> str:
    """``vec`` divided by its precomputed ``norm`` column. A zero-norm
    vector becomes all NULL under either ANSI setting, so every cosine
    it enters is NULL, like :func:`_cosine_sql`'s."""
    return f"transform({vec}, x -> try_divide(x, {norm}))"


def cosine_score_sql(a: str, b: str, round_dp: int = 6) -> str:
    """The score every ANN path ranks by: the safe cosine, rounded
    BEFORE ranking so ordering is deterministic across engines/plans."""
    return f"round({_cosine_sql(a, b)}, {int(round_dp)})"


def query_vectors(queries: DataFrame, query_id: str, vec_col: str) -> DataFrame:
    """(qid, qv): the query set as double arrays."""
    return queries.selectExpr(
        f"{sql_ident(query_id)} AS qid", f"{as_double_sql(vec_col)} AS qv"
    )


def corpus_vectors(
    corpus: DataFrame, corpus_id: str, vec_col: str, *keep: str
) -> DataFrame:
    """(cid, *keep, cv): the corpus as double arrays."""
    return corpus.selectExpr(
        f"{sql_ident(corpus_id)} AS cid",
        *keep,
        f"{as_double_sql(vec_col)} AS cv",
    )


def rank_per_query(scored: DataFrame, score: str, k: int, *cols: str) -> DataFrame:
    """The per-query top-k every ANN kernel ends in: rank each qid's
    rows by ``score`` descending (NULL last) with ``cid`` ascending as
    the tiebreak, keep the first ``k``, and return (qid, rnk, cid,
    score, *cols)."""
    w = Window.partitionBy("qid").orderBy(F.col(score).desc(), F.col("cid").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "rnk", "cid", score, *cols)
    )


def exact_rerank(
    shortlist: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int,
    score: str,
    query_id: str,
    query_vec_col: str,
    corpus_id: str,
    corpus_vec_col: str,
) -> DataFrame:
    """Exact cosine over a coarse shortlist (a :func:`rank_per_query`
    frame): float vectors are fetched ONLY for the ≤ n_queries×rerank
    survivors (the survivor set broadcasts into the corpus scan, a
    semi-join-shaped broadcast hash join, so the corpus never
    shuffles), the queries broadcast by qid, and the safe cosine
    re-ranks the top ``k``. Returns (qid, rnk, cid, score, *coarse),
    where *coarse are the shortlist's own score columns."""
    coarse = [c for c in shortlist.columns if c not in ("qid", "rnk", "cid")]
    exact = (
        corpus_vectors(corpus, corpus_id, corpus_vec_col)
        .join(F.broadcast(shortlist.select("qid", "cid", *coarse)), "cid")
        .join(F.broadcast(query_vectors(queries, query_id, query_vec_col)), "qid")
        .selectExpr(
            "qid",
            "cid",
            *map(sql_ident, coarse),
            f"{cosine_score_sql('qv', 'cv')} AS {sql_ident(score)}",
        )
    )
    return rank_per_query(exact, score, k, *coarse)


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
    scored = (
        corpus_vectors(corpus, corpus_id, vec_col)
        .crossJoin(F.broadcast(query_vectors(queries, query_id, vec_col)))
        .selectExpr(
            "qid", "cid", f"{cosine_score_sql('qv', 'cv', round_dp)} AS cosine"
        )
    )
    return rank_per_query(scored, "cosine", k)


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
    if nbits % bands:
        raise ValueError(f"nbits={nbits} must divide into bands={bands}")
    rpb = nbits // bands
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = _planes(nbits, dim, seed)
    use_udf = nbits * dim > 512
    sig_udf = signature_udf(planes) if use_udf else None

    def with_bands(df, id_alias):
        v_sql = as_double_sql(vec_col)
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
        .selectExpr(
            "qid", "cid", f"{cosine_score_sql('qid_v', 'cid_v')} AS cosine"
        )
    )
    return rank_per_query(cands, "cosine", k)


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
    c = corpus_vectors(
        corpus, corpus_id, vec_col, f"{sql_ident(cluster_col)} AS cluster"
    )
    centroids = (
        c.select("cluster", F.posexplode("cv").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cluster", F.transform("pm", lambda s: s["m"]).alias("centroid"))
    )
    routed = route_queries(
        query_vectors(queries, query_id, vec_col), centroids, nprobe
    )
    return _score_routed(c, routed, k)


def _score_routed(c: DataFrame, routed: DataFrame, k: int) -> DataFrame:
    """Exact cosine of each routed (qid, qv, cluster) against the
    (cid, cluster, cv) rows of its probed clusters, then the top-k."""
    scored = c.join(F.broadcast(routed), "cluster").selectExpr(
        "qid", "cid", f"{cosine_score_sql('qv', 'cv')} AS cosine"
    )
    return rank_per_query(scored, "cosine", k)


def route_queries(q: DataFrame, centroids: DataFrame, nprobe: int) -> DataFrame:
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


IVF = ivfstore.Layout(
    "ivf", "vectors", "id_col string, vec_col string, k_clusters int"
)


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
    - ``{path}/meta``      the column contract, so probes never guess
      which column is the id

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
    level of the directory layout. The writes run under the store's
    build fence (operators/ivfstore.py).
    Returns the fitted KMeansModel (k×d driver state)."""
    from .clustering import kmeans_assign, kmeans_fit

    spark = corpus.sparkSession
    model = kmeans_fit(
        corpus, vec_col=vec_col, id_col=id_col, k=k_clusters,
        max_iter=max_iter, compute_inertia=False,
    )
    assigned = kmeans_assign(corpus, model.centroids, vec_col=vec_col)
    centroids = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(model.centroids)],
        "cluster int, centroid array<double>",
    )
    ivfstore.build(
        spark, path, IVF,
        payload=assigned.select(id_col, vec_col, "cluster"),
        tables={"centroids": centroids},
        meta=(id_col, vec_col, int(k_clusters)),
    )
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
    (auto-assigned max+1 below IVF_STREAM_BATCH_BASE when not given)
    with DYNAMIC partition overwrite, so a RETRIED append with the
    same explicit batch_id replaces its own (batch, cluster)
    partitions instead of duplicating — effectively-once maintenance,
    batch or streaming (streaming/similarity.py wires foreachBatch to
    this with the micro-batch id). Routing is deterministic (frozen
    centroids), so a retry touches exactly the same partitions. After
    an append, ``cosine_topk_ivf_index`` answers over the union with
    UNCHANGED probe pruning — cluster stays a partition column.
    Parity with a same-centroid one-shot build is pinned in
    tests/test_similarity.py. The append holds a store lease
    (operators/ivfstore.py), so it and a compaction or rebuild never
    both proceed."""
    from .clustering import kmeans_assign

    spark = new_vectors.sparkSession

    def encode(meta):
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
        return kmeans_assign(
            new_vectors.select(
                F.col(id_col),
                F.col(vec_col).cast(stored_type).alias(vec_col),
            ),
            centroids,
            vec_col=vec_col,
        ).select(id_col, vec_col, "cluster")

    ivfstore.append(spark, path, IVF, encode, batch_id)


def compact_ivf_index(
    spark, path: str, deleted_ids: DataFrame | None = None
) -> None:
    """Fold the accumulated append batches back into batch 0 (and
    optionally drop deleted ids) — the segment-merge step between
    retrains: many small (batch_id, cluster) partitions from
    streaming appends become one file set per cluster, restoring
    scan efficiency without touching the centroids (routing stays
    valid; a RETRAIN is build_ivf_index again). Staging + directory
    swap under the store's compaction fence (operators/ivfstore.py):
    appends refuse while it runs, and a failed compaction leaves the
    index fenced — run verify_ivf_index, repair (promote or remove
    ``vectors.staging``), then delete the marker to heal. Cost is the
    vectors table once per compaction window."""
    ivfstore.compact(spark, path, IVF, deleted_ids)


def verify_ivf_index(spark, path: str) -> dict:
    """Consistency check for the IVF index's crash/replay windows —
    the textindex verify_text_index twin: the store's report
    (operators/ivfstore.verify: out-of-range cluster rows, missing
    centroids, duplicate ids, fence residue). The honest heal for
    duplicates is a compaction with ``deleted_ids`` = the dupes, then
    one re-append."""
    return ivfstore.verify(spark, path, IVF, lambda meta: ({}, {}))


def ivf_index_stats(spark, path: str) -> DataFrame:
    """Retrain-trigger observability for a (possibly appended) IVF
    index: per cluster — vector count, share of the corpus, and the
    mean/max cosine RESIDUAL (1 − cos(vector, its centroid)). Appends
    under frozen centroids grow residuals as the distribution drifts;
    a rebuild is due when max share breaches the balance budget
    (probe cost is proportional to the largest probed cluster) or the
    residual trend breaks. One scan of the vectors table, k-row
    broadcast, k-row output."""

    def per_cluster(meta):
        v = spark.read.parquet(f"{path}/vectors").select(
            "cluster", F.expr(as_double_sql(meta["vec_col"])).alias("v")
        ).join(F.broadcast(spark.read.parquet(f"{path}/centroids")), "cluster")
        resid = F.expr(f"1.0D - ({_cosine_sql('v', 'centroid')})")
        return v.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg(resid), 6).alias("mean_residual"),
            F.round(F.max(resid), 6).alias("max_residual"),
        )

    return ivfstore.stats(spark, path, IVF, per_cluster)


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
    within the probed buckets, deterministic top-k.

    The probe runs under the store's fences (operators/ivfstore.probe):
    a standing build or compaction fence refuses at entry; the nq×k
    result is materialised and re-checked, and an overlapping rebuild
    or compaction re-runs the probe (up to ``retries``) against the
    new generation. ``verify_consistency=False`` keeps the frame lazy
    for the partition-pruning plan/metrics tests."""
    q = query_vectors(queries, query_id, vec_col)

    def scan(meta):
        vectors = spark.read.parquet(f"{path}/vectors")
        # the meta table names the INDEX's columns; the caller's vec_col
        # keeps naming the QUERY frame's vector column — conflating the
        # two would silently score with the wrong query column whenever
        # the names differ
        id_col, index_vec_col = meta["id_col"], meta["vec_col"]
        for col, what in ((id_col, "id"), (index_vec_col, "vector")):
            if col not in vectors.columns:
                raise ValueError(
                    f"index meta names {what} column {col!r} but the vectors "
                    f"table has {vectors.columns}"
                )
        # routing is centroid-table-sized work; checkpoint so the collect
        # below and the scoring join don't recompute it
        routed = route_queries(
            q, spark.read.parquet(f"{path}/centroids"), nprobe
        ).localCheckpoint(eager=True)
        probed = sorted(
            r["cluster"] for r in routed.select("cluster").distinct().collect()
        )
        c = corpus_vectors(
            vectors.filter(F.col("cluster").isin(probed)),
            id_col, index_vec_col, "cluster",
        )
        return _score_routed(c, routed, k)

    _, out = ivfstore.probe(
        spark, path, IVF, scan, verify_consistency=verify_consistency,
        retries=retries, race_hook=_race_hook,
    )
    return out
