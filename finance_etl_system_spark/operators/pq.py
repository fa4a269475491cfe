"""Product quantization (PQ) for embedding compression + ANN search —
the FAISS-style codebook tier (Jégou et al. 2011, public method) that
completes the engine's quantization family (SQ8 scalar quantization in
operators/quantize.py, IVF routing in operators/similarity.py).

Spark-first shapes:

- **Train** (``pq_train``): all m sub-codebooks learn TOGETHER — each
  Lloyd iteration is ONE shuffle-free mapInArrow pass that assigns
  every subvector to its nearest codeword (m vectorized argmins per
  Arrow batch) and folds per-(subspace, codeword) partial sums inside
  the partition; at most m×k rows per partition reach the driver, which
  holds only the (m, k, d/m) codebook tensor (the fused-kmeans contract
  of operators/clustering.py, multiplied across subspaces — never m
  separate training jobs).
- **Encode** (``pq_encode``): one Arrow-batched pandas UDF → m small
  codes per vector (array<int>); 64-dim float vectors compress 32× at
  m=8 (8 bytes of codes vs 256 bytes of floats) — the difference
  between an in-memory and an on-disk corpus at 100 TB.
- **Search** (``pq_topk_adc``): asymmetric distance computation —
  per query ONE (m, k) lookup table of subspace inner products, score =
  Σ_s LUT[s, code_s]; corpus vectors are never reconstructed. The
  mapInArrow kernel emits only each partition's top-k per query
  (np.argpartition), so the global rank runs over k×partitions rows —
  rank-after-limit, same hygiene as functions/frames.ranked_topk.

- **OPQ pretransform** (``opq_rotation`` / ``rotate_vectors``,
  Ge et al. 2013 CVPR, the parametric eigenvalue-allocation variant):
  one covariance pass (d×d partial per partition), driver-side
  eigendecomposition, greedy per-subspace eigenvalue-product
  balancing. Compose as FAISS does (``OPQ<m>,IVF<k>,PQ<m>``):
  ``build_ivf_pq_index(opq=True)`` trains and stores the whole index
  in the rotated space and probes/appends rotate transparently; flat
  PQ callers apply ``rotate_vectors`` to corpus AND queries
  themselves. Lifts the ADC ceiling on anisotropic (real-embedding)
  corpora; provably a no-op in expectation on isotropic fixtures.

Determinism: seeds are the k rows with the smallest (xxhash64(id), id)
— content-addressed, replay-stable, no rand(); ADC scores round to 6dp
with cid tiebreak before ranking; OPQ eigenvector signs are
canonicalized and covariance partials sum in sorted-partition order.

Exactness property pinned by tests: the ADC score of a corpus vector
IS the inner product of the query with the vector's reconstruction
(Σ_s q_s · codeword_s) — bit-for-bit, not approximately.

The reference has no vector tier at all (`/root/reference/spark-job/
etl_job.py` stops at OHLCV rows); this is the X2 extension path.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.generations import hadoop_fs
from . import ivfstore
from .quantize import _round_half_away
from .similarity import exact_rerank, query_vectors, rank_per_query, route_queries


@dataclass
class PQModel:
    codebooks: np.ndarray  # (m, k, dsub) float64
    dim: int

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def k(self) -> int:
        return self.codebooks.shape[1]


def _as_matrix(pdf_col) -> np.ndarray:
    return np.vstack(pdf_col.to_numpy()).astype(np.float64)


def _arrow_matrix(col, d: int, n: int) -> np.ndarray:
    """(n, d) float64 matrix from an Arrow list<double> column — ONE
    flatten over the contiguous values buffer (r13, guide §4.2)
    instead of a per-row ``np.vstack`` over a pandas object column.
    Identical float64 bits to :func:`_as_matrix`. ``n`` must be the
    batch row count: ``flatten()`` silently DROPS null list entries,
    so a ``reshape(-1, d)`` could still succeed with row-shifted data
    (r13 advisor finding); pinning both dims makes any null/ragged
    row fail loudly instead."""
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return np.ascontiguousarray(flat, dtype=np.float64).reshape(n, d)


def _normalize(x: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(x, axis=1, keepdims=True)
    n[n == 0.0] = 1.0  # zero vectors stay zero (cosine 0 vs anything)
    return x / n


def _subspaces(x: np.ndarray, m: int) -> np.ndarray:
    n, d = x.shape
    return x.reshape(n, m, d // m)


def _pq_stats_fn(
    codebooks: np.ndarray, residual_centroids: np.ndarray | None = None
):
    """One fused Lloyd iteration across ALL subspaces: per partition,
    assign each subvector to its nearest codeword and fold
    per-(subspace, codeword) (Σx, n) partials. ≤ m×k output rows per
    partition. Runs as ``mapInArrow`` (r13, guide §4.2): same batch
    boundaries as the mapInPandas form it replaces, so the per-batch
    float64 accumulation order — and therefore every partial — is
    bit-identical; only the object-column vstack conversion is gone."""
    import pyarrow as pa

    c = np.ascontiguousarray(codebooks)  # (m, k, dsub)
    m, k, dsub = c.shape
    c_norm2 = (c * c).sum(axis=2)  # (m, k)

    def stats(batches):
        sums = np.zeros((m, k, dsub))
        counts = np.zeros((m, k), dtype=np.int64)
        for b in batches:
            if not b.num_rows:
                continue
            x = _normalize(_arrow_matrix(b.column("_v"), m * dsub, b.num_rows))
            if residual_centroids is not None:
                cl = b.column("_cl").to_numpy(zero_copy_only=False)
                x = x - residual_centroids[cl]
            x = _subspaces(x, m)
            for s in range(m):
                scores = -2.0 * (x[:, s, :] @ c[s].T) + c_norm2[s]
                idx = np.argmin(scores, axis=1)
                onehot = (idx == np.arange(k)[:, None]).astype(np.float64)
                sums[s] += onehot @ x[:, s, :]
                counts[s] += np.bincount(idx, minlength=k)
        nz = counts > 0
        if not nz.any():  # empty partition: emit nothing
            return
        ss, cc = np.nonzero(nz)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ss.astype(np.int32), pa.int32()),
                pa.array(cc.astype(np.int32), pa.int32()),
                pa.array(list(sums[ss, cc]), pa.list_(pa.float64())),
                pa.array(counts[nz], pa.int64()),
            ],
            names=["sub", "cluster", "s", "n"],
        )

    return stats


def reduce_vector_partials(partials: DataFrame, length: int):
    """Deterministic tree reduce of (pid, float-vector partial, n)
    rows: a 16-lane groupBy/applyInPandas sums each lane in
    sorted-pid order, then the driver sums the ≤16 lane rows in lane
    order — the driver never holds O(scan partitions) state, and the
    summation order is fixed for a fixed input layout (replay-stable
    floats). THE single implementation of this contract — OPQ's
    covariance/Procrustes passes and the quality classifier's
    gradient pass all fold through it (a second hand-kept copy would
    let a lane/order fix silently miss one path)."""

    def lane_sum(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pid", kind="mergesort")
        s = np.zeros(length)
        for row in pdf["s"]:
            s += np.asarray(row, dtype=np.float64)
        return pd.DataFrame(
            {
                "lane": [int(pdf["lane"].iloc[0])],
                "s": [s],
                "n": [int(pdf["n"].sum())],
            }
        )

    rows = (
        partials.withColumn("lane", F.pmod("pid", F.lit(16)))
        .groupBy("lane")
        .applyInPandas(lane_sum, schema="lane int, s array<double>, n long")
        .collect()
    )
    if not rows:
        raise ValueError("partial reduce: empty input")
    S = np.zeros(length)
    n = 0
    for r in sorted(rows, key=lambda r: r["lane"]):
        S += np.asarray(r["s"], dtype=np.float64)
        n += int(r["n"])
    return S, n


def _reduce_matrix_partials(partials: DataFrame, dim: int):
    """d×d specialization of :func:`reduce_vector_partials`."""
    S, n = reduce_vector_partials(partials, dim * dim)
    return S.reshape(dim, dim), n


def opq_rotation(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    m: int = 8,
    sample_fraction: float | None = None,
) -> np.ndarray:
    """Learn the OPQ-P (parametric) rotation of Ge et al. 2013
    ("Optimized Product Quantization", CVPR): eigendecompose the
    corpus second-moment matrix, then allocate principal directions
    to the m subspaces balancing the per-subspace eigenvalue PRODUCT
    (greedy: next-largest eigenvalue goes to the non-full bucket with
    the smallest log-product). PQ then quantizes independent-ish,
    variance-balanced subspaces instead of arbitrary contiguous
    coordinate blocks — the classic pretransform that lifts the ADC
    ceiling on ANISOTROPIC embedding corpora (isotropic corpora, like
    the synthetic near-orthogonal test fixture, are rotation-
    invariant: expect parity there, not a win — measured in
    tests/test_opq.py both ways).

    Returns R with shape (dim, dim), rows orthonormal; apply as
    ``y = x @ R.T``. Rotation of a raw vector commutes with
    normalization, so it can be applied before or after unit-norm.

    Scale: ONE mapInArrow pass emits a single (pid, d*d partial
    second moment, n) row per partition (d=64 → 32 KB), and a
    16-lane tree reduce (groupBy pmod(pid, 16) → applyInPandas, each
    lane summing its partials in sorted-pid order) folds those to
    ≤16 rows before the collect — the driver never holds
    O(partitions) state, only the d×d matrix (a 100-TB corpus is
    ~10⁶ scan partitions; collecting raw partials would be tens of
    GB). The partial itself grows QUADRATICALLY in the embedding dim
    — at d=4096 each partition row is ~128 MB — so for high-dim
    models pass ``sample_fraction`` (the rotation is a model
    artifact; a seeded row sample estimates the second moment as
    well as the full pass, the standard FAISS practice of training
    the OPQ transform on a subset). Partials are summed in sorted
    (lane, pid) order at both levels and eigenvector signs are
    canonicalized (largest-|component| positive), so the rotation is
    replay-stable for a fixed input layout."""
    if dim % m:
        raise ValueError(f"dim={dim} must divide into m={m} equal subspaces")
    if sample_fraction is not None:
        df = df.sample(fraction=sample_fraction, seed=7)

    def moments(batches):
        import pyarrow as pa

        s = np.zeros((dim, dim))
        n = 0
        pid = -1
        for b in batches:
            if not b.num_rows:
                continue
            pid = int(b.column("_pid")[0].as_py())
            x = _normalize(_arrow_matrix(b.column("_v"), dim, b.num_rows))
            s += x.T @ x
            n += len(x)
        if n:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([pid], pa.int32()),
                    pa.array([s.ravel()], pa.list_(pa.float64())),
                    pa.array([n], pa.int64()),
                ],
                names=["pid", "s", "n"],
            )

    partials = df.select(
        F.spark_partition_id().alias("_pid"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).mapInArrow(moments, schema="pid int, s array<double>, n long")
    S, _n = _reduce_matrix_partials(partials, dim)
    evals, evecs = np.linalg.eigh(S)  # ascending
    order = np.argsort(-evals, kind="stable")
    evals, evecs = evals[order], evecs[:, order]
    # canonical sign: the largest-|component| entry of each vector > 0
    for j in range(dim):
        i = int(np.argmax(np.abs(evecs[:, j])))
        if evecs[i, j] < 0:
            evecs[:, j] = -evecs[:, j]
    dsub = dim // m
    buckets: list[list[int]] = [[] for _ in range(m)]
    logprod = np.zeros(m)
    eps = 1e-12
    for j in range(dim):  # eigenvalues descending
        open_b = [b for b in range(m) if len(buckets[b]) < dsub]
        b = min(open_b, key=lambda b: (logprod[b], b))
        buckets[b].append(j)
        logprod[b] += float(np.log(max(evals[j], eps)))
    perm = [j for b in buckets for j in b]
    return evecs[:, perm].T.copy()  # (dim, dim), rows = axes


def rotate_vectors(
    df: DataFrame, rotation: np.ndarray, *, vec_col: str = "embedding"
) -> DataFrame:
    """Replace ``vec_col`` with its OPQ-rotated form (Arrow-batched
    matmul; the one hot-path Python stage, same class as pq_encode)."""
    R_T = np.ascontiguousarray(rotation.T)

    @F.pandas_udf("array<double>")
    def rot(vecs: pd.Series) -> pd.Series:
        x = _as_matrix(vecs) @ R_T
        return pd.Series(list(x))

    return df.withColumn(vec_col, rot(F.col(vec_col)))


def opq_train_np(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int,
    m: int = 8,
    k: int = 16,
    opq_iters: int = 3,
    inner_pq_iters: int = 4,
    final_pq_iters: int = 8,
    sample_fraction: float | None = None,
) -> tuple[np.ndarray, PQModel | None]:
    """OPQ-NP (Ge et al. 2013, the non-parametric alternating
    variant): initialize R with the parametric eigen-allocation
    rotation, then alternate (a) refresh the PQ codebooks in the
    rotated space, (b) fix the codes and solve the orthogonal
    Procrustes problem min_R Σ‖R·x̂ − recon‖² whose closed form is
    R = V·Uᵀ from the SVD of A = Σ x̂·reconᵀ. Handles data the
    Gaussian-shaped parametric rotation can't (mixtures, sparse or
    heavy-tailed embeddings); each half-step does not increase the
    joint quantization objective, so MSE(NP) ≤ MSE(P) up to k-means
    reseeding noise (pinned in tests/test_opq.py).

    Scale: per iteration ONE extra corpus pass emitting a d×d
    partial per partition (the ADC-assign kernel fused with the
    Procrustes accumulation), tree-reduced like the covariance pass —
    driver state is d×d + the codebook tensor, never O(rows) or
    O(partitions). ``sample_fraction`` trains the transform on a
    seeded subset (the FAISS practice); the FINAL codebooks always
    train on the full ``df`` in the final rotated space.

    Returns ``(R, model)`` — apply ``rotate_vectors(df, R)`` before
    ``pq_encode``; or persist through ``build_ivf_pq_index(opq="np")``.
    ``final_pq_iters=0`` skips the final full-corpus codebook train
    and returns ``(R, None)`` — for callers that only need the
    rotation (build_ivf_pq_index retrains RESIDUAL codebooks in the
    rotated space anyway, so the flat final train would be
    ``final_pq_iters`` pure-waste corpus passes at scale).
    """
    R = opq_rotation(
        df, vec_col=vec_col, dim=dim, m=m, sample_fraction=sample_fraction
    )
    train = (
        df.sample(fraction=sample_fraction, seed=7)
        if sample_fraction is not None
        else df
    )
    # LAZY checkpoint (r13): pq_train's first job on this frame is a
    # global TakeOrdered (its seeds collect), which computes every
    # partition — it doubles as the materialization job, so the
    # separate eager pass was pure overhead. Iterations after the
    # first read the persisted blocks exactly as before.
    train = train.localCheckpoint(eager=False)  # reused every iteration
    for _ in range(opq_iters):
        model = pq_train(
            rotate_vectors(train, R, vec_col=vec_col),
            vec_col=vec_col,
            id_col=id_col,
            dim=dim,
            m=m,
            k=k,
            max_iter=inner_pq_iters,
        )
        c = model.codebooks
        m_, k_, dsub = c.shape
        c_norm2 = (c * c).sum(axis=2)
        R_T = np.ascontiguousarray(R.T)

        def procrustes(batches):
            import pyarrow as pa

            A = np.zeros((dim, dim))
            n = 0
            pid = -1
            for b in batches:
                if not b.num_rows:
                    continue
                pid = int(b.column("_pid")[0].as_py())
                x = _normalize(_arrow_matrix(b.column("_v"), dim, b.num_rows))
                y = _subspaces(x @ R_T, m_)
                recon = np.empty((len(x), dim))
                for s in range(m_):
                    idx = np.argmin(
                        -2.0 * (y[:, s, :] @ c[s].T) + c_norm2[s], axis=1
                    )
                    recon[:, s * dsub : (s + 1) * dsub] = c[s][idx]
                A += x.T @ recon
                n += len(x)
            if n:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([pid], pa.int32()),
                        pa.array([A.ravel()], pa.list_(pa.float64())),
                        pa.array([n], pa.int64()),
                    ],
                    names=["pid", "s", "n"],
                )

        partials = train.select(
            F.spark_partition_id().alias("_pid"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        ).mapInArrow(procrustes, schema="pid int, s array<double>, n long")
        A, _n = _reduce_matrix_partials(partials, dim)
        # max_R tr(R·A): A = U·S·Vᵀ ⇒ R = V·Uᵀ (unique a.e.; sign
        # flips pair between U and V columns so the product is stable)
        U, _s, Vt = np.linalg.svd(A)
        R = Vt.T @ U.T
    if final_pq_iters <= 0:
        return R, None
    model = pq_train(
        rotate_vectors(df, R, vec_col=vec_col),
        vec_col=vec_col,
        id_col=id_col,
        dim=dim,
        m=m,
        k=k,
        max_iter=final_pq_iters,
    )
    return R, model


def pq_train(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int,
    m: int = 8,
    k: int = 16,
    max_iter: int = 8,
    tol: float = 1e-6,
    cluster_col: str | None = None,
    residual_centroids: np.ndarray | None = None,
) -> PQModel:
    """Learn m sub-codebooks of k codewords over unit-normalized
    vectors (PQ for cosine/IP search). ``dim`` must divide by ``m``.
    Passing ``cluster_col`` + ``residual_centroids`` (the normalized
    coarse-centroid matrix) trains on IVF residuals instead — the
    classic IVF-PQ refinement."""
    if dim % m:
        raise ValueError(f"dim={dim} must divide into m={m} equal subspaces")
    cols = [
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.col(id_col).alias("_id"),
    ]
    if cluster_col is not None:
        cols.append(F.col(cluster_col).alias("_cl"))
    src = df.select(*cols)
    seeds = src.orderBy(F.xxhash64("_id"), "_id").limit(k).collect()
    # guard BEFORE vstack: an empty/short input must fail with this
    # message, not numpy's opaque "need at least one array" error
    if len(seeds) < k:
        raise ValueError(f"need >= {k} vectors to seed {k} codewords")
    seed_x = _normalize(
        np.vstack([np.asarray(r["_v"], dtype=np.float64) for r in seeds])
    )
    if residual_centroids is not None:
        seed_x = seed_x - residual_centroids[
            np.asarray([r["_cl"] for r in seeds])
        ]
    codebooks = np.stack(
        [_subspaces(seed_x, m)[:, s, :].copy() for s in range(m)]
    )  # (m, k, dsub)
    data = src.drop("_id")
    for _ in range(max_iter):
        stats = data.mapInArrow(
            _pq_stats_fn(codebooks, residual_centroids),
            schema="sub int, cluster int, s array<double>, n long",
        ).collect()
        new_c = codebooks.copy()
        sums = np.zeros_like(codebooks)
        counts = np.zeros((m, k), dtype=np.int64)
        for r in stats:
            sums[r["sub"], r["cluster"]] += np.asarray(r["s"])
            counts[r["sub"], r["cluster"]] += r["n"]
        nz = counts > 0
        new_c[nz] = sums[nz] / counts[nz][:, None]
        shift = float(np.sqrt(((new_c - codebooks) ** 2).sum(axis=2)).max())
        codebooks = new_c
        if shift < tol:
            break
    return PQModel(codebooks=codebooks, dim=dim)


def pq_encode(
    df: DataFrame,
    model: PQModel,
    *,
    vec_col: str = "embedding",
    cluster_col: str | None = None,
    residual_centroids: np.ndarray | None = None,
) -> DataFrame:
    """Add ``codes``: the m nearest-codeword indices of the
    unit-normalized vector (or of its coarse residual, when
    ``cluster_col`` + ``residual_centroids`` are given) — the
    compressed corpus representation."""
    c = model.codebooks
    m = model.m
    c_norm2 = (c * c).sum(axis=2)
    residual = residual_centroids is not None

    @F.pandas_udf("array<int>")
    def enc(vecs: pd.Series, clusters: pd.Series) -> pd.Series:
        x = _normalize(_as_matrix(vecs))
        if residual:
            x = x - residual_centroids[clusters.to_numpy()]
        x = _subspaces(x, m)
        codes = np.empty((len(x), m), dtype=np.int32)
        for s in range(m):
            codes[:, s] = np.argmin(
                -2.0 * (x[:, s, :] @ c[s].T) + c_norm2[s], axis=1
            )
        return pd.Series(list(codes))

    cl = F.col(cluster_col) if cluster_col is not None else F.lit(0)
    # two-arg pandas UDF + withColumn: only the vector and cluster
    # columns cross the Arrow boundary, everything else stays JVM-side
    return df.withColumn("codes", enc(F.col(vec_col), cl.cast("int")))


def pq_topk_adc(
    codes_df: DataFrame,
    queries: DataFrame,
    model: PQModel,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    rerank_with: DataFrame | None = None,
    rerank: int = 50,
    corpus_vec_col: str = "embedding",
    rerank_queries: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: queries (driver-sized, same contract
    as the brute-force/LSH paths) become (m, k_codes) inner-product
    LUTs; each corpus partition scores its codes with m table lookups
    per vector and emits only its local top candidates per query
    (np.argpartition), so the global rank runs over candidates ×
    partitions rows. Pure-ADC output: (qid, rnk, cid, score), score =
    q · reconstruction rounded 6dp, cid tiebreak.

    ``rerank_with`` (the original-vector frame) switches to the
    IVF-PQ production pattern: ADC shortlists ``rerank`` candidates
    per query, float vectors are fetched ONLY for the ≤ nq×rerank
    survivors (broadcast semi-join shape — the corpus never
    shuffles), and exact cosine re-ranks the top-``k``. Output gains
    the ``adc`` coarse score next to the exact ``score``.

    ``rerank_queries`` (same (query_id, vec) contract as ``queries``)
    feeds ONLY the exact-rerank side: pass the ORIGINAL-space query
    frame when ``queries`` is OPQ-rotated but ``rerank_with`` is the
    unrotated corpus — cosine is rotation-invariant, so the rerank
    scores match the rotated-space ones while the corpus skips a
    per-probe rotation pass. Defaults to ``queries``."""
    qids, luts, offsets = _query_luts(
        queries, query_id_col, query_vec_col, model, np.zeros((1, model.dim))
    )
    shortlist = _adc_shortlist(
        codes_df.select(
            F.col(id_col).alias("_cid"), F.lit(0).alias("cluster"), "codes"
        ),
        qids, luts, offsets, [[0]] * len(qids),
        rerank if rerank_with is not None else k,
    )
    return _adc_topk(
        shortlist, k=k, rerank=rerank, rerank_with=rerank_with,
        queries=rerank_queries if rerank_queries is not None else queries,
        query_id=query_id_col, query_vec_col=query_vec_col,
        corpus_id=id_col, corpus_vec_col=corpus_vec_col,
    )


def _query_luts(
    queries: DataFrame,
    query_id: str,
    vec_col: str,
    model: PQModel,
    cents: np.ndarray,
    rotation: np.ndarray | None = None,
):
    """The ADC query side: collect the (driver-sized) query set,
    normalize it (and rotate it into an OPQ index's space), and build
    per query the (m, k_codes) LUT of subspace inner products,
    LUT[q, s, j] = q_s · codeword_{s,j}, plus the q̂·ĉ offset to each
    coarse centroid in ``cents``. Returns (qids, luts, offsets)."""
    rows = queries.select(
        F.col(query_id).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).collect()
    qx = _normalize(
        np.vstack([np.asarray(r["qv"], dtype=np.float64) for r in rows])
    )
    if rotation is not None:
        qx = qx @ rotation.T
    luts = np.einsum("qsd,skd->qsk", _subspaces(qx, model.m), model.codebooks)
    return [int(r["qid"]) for r in rows], luts, qx @ cents.T


def _adc_shortlist(
    codes: DataFrame, qids, luts: np.ndarray, offsets: np.ndarray, probes,
    n_local: int,
) -> DataFrame:
    """The ADC scorer over a (_cid, cluster, codes) frame: per Arrow
    batch and query, score = offset[q, cluster] + Σ_s LUT[q, s,
    code_s] over the rows of the query's ``probes`` clusters, and emit
    only the batch's top ``n_local`` (np.argpartition) as (qid, cid,
    score 6dp), so the global rank runs over candidates × batches
    rows. Plain PQ is one cluster (0) with offset 0."""
    m = luts.shape[1]
    cols = np.arange(m)

    def score(batches):
        import pyarrow as pa

        for b in batches:
            if not b.num_rows:
                continue
            codes = (
                b.column("codes")
                .flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(b.num_rows, m)
            )  # pin both dims: flatten() drops null entries, so -1
            # could silently misalign codes with cids (r13 advisor)
            cids = b.column("_cid").to_numpy(zero_copy_only=False)
            cls = b.column("cluster").to_numpy(zero_copy_only=False)
            out_q, out_c, out_s = [], [], []
            for qi, qid in enumerate(qids):
                mask = np.isin(cls, probes[qi])
                if not mask.any():
                    continue
                sc = offsets[qi, cls[mask]] + luts[qi][cols, codes[mask]].sum(
                    axis=1
                )
                top = min(n_local, len(sc))
                idx = np.argpartition(-sc, top - 1)[:top]
                out_q.append(np.full(top, qid, dtype=np.int64))
                out_c.append(cids[mask][idx].astype(np.int64))
                out_s.append(_round_half_away(sc[idx], 6))
            if out_q:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_q), pa.int64()),
                        pa.array(np.concatenate(out_c), pa.int64()),
                        pa.array(np.concatenate(out_s), pa.float64()),
                    ],
                    names=["qid", "cid", "score"],
                )

    return codes.mapInArrow(score, schema="qid long, cid long, score double")


def _adc_topk(
    shortlist: DataFrame,
    *,
    k: int,
    rerank: int,
    rerank_with: DataFrame | None,
    queries: DataFrame,
    query_id: str,
    query_vec_col: str,
    corpus_id: str,
    corpus_vec_col: str,
) -> DataFrame:
    """Both ADC kernels' tail: the per-query top-``k`` of the ADC
    scores, or, with ``rerank_with``, the top-``rerank`` ADC survivors
    (as ``adc``) reranked by exact cosine (as ``score``)."""
    if rerank_with is None:
        return rank_per_query(shortlist, "score", k)
    return exact_rerank(
        rank_per_query(shortlist, "score", rerank).withColumnRenamed(
            "score", "adc"
        ),
        queries,
        rerank_with,
        k=k,
        score="score",
        query_id=query_id,
        query_vec_col=query_vec_col,
        corpus_id=corpus_id,
        corpus_vec_col=corpus_vec_col,
    )


IVF_PQ = ivfstore.Layout(
    "ivf_pq",
    "codes",
    "id_col string, vec_col string, k_clusters int, m int, k_codes int,"
    " dim int, space string",
)


def build_ivf_pq_index(
    corpus: DataFrame,
    path: str,
    *,
    dim: int,
    k_clusters: int = 8,
    m: int = 16,
    k_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 8,
    opq: bool | str = False,
) -> PQModel:
    """The full FAISS-IVF-PQ composition as a table LAYOUT: coarse
    k-means routing (operators/clustering.py) + residual PQ codes,
    persisted as

    - ``{path}/codes``     (id, codes) parquet PARTITIONED BY
      (batch_id, cluster) — the build is batch 0, appends land as
      their own batch partitions (the IVF vectors-table layout)
    - ``{path}/centroids`` the coarse k×d table (k rows, RAW k-means
      centroids — appends must assign with exactly the build's
      centroids; the query side normalizes at load)
    - ``{path}/codebooks`` the m×k_codes residual codeword table
    - ``{path}/meta``      column/shape contract
    - ``{path}/rotation``  (only with ``opq=True``) the d×d OPQ
      pretransform, one (row, vec) row per output axis; probes and
      appends rotate with it and a compaction never touches it
      (codes-only fold). The AUTHORITATIVE space flag is the meta
      table's ``space`` column ("opq"/"plain"), written LAST as the
      commit; a plain rebuild removes a stale rotation after it

    ``opq=True`` (or ``"p"``) runs the FAISS ``OPQ<m>,IVF<k>,PQ<m>``
    composition with the parametric eigen-allocation rotation;
    ``opq="np"`` refines that rotation with the alternating
    Procrustes iterations (``opq_train_np`` — the flat codebooks it
    trains are discarded; the index retrains RESIDUAL codebooks in
    the final rotated space). Either way the whole index (coarse
    k-means, residuals, codebooks) trains and lives in the rotated
    space; queries rotate at probe time; the exact rerank stays in
    the ORIGINAL space (cosine is rotation-invariant) so callers
    pass their unrotated corpus as always.

    A probe reads an nprobe/k_clusters fraction of a corpus that is
    ALSO 16–32× smaller than the float table (codes, not vectors) —
    the two compressions multiply, which is the whole point of
    IVF-PQ at 100 TB. Float vectors never enter the index; the exact
    rerank joins the caller's corpus table for shortlist survivors
    only."""
    from .clustering import kmeans_assign, kmeans_fit

    spark = corpus.sparkSession
    # NOTHING under ``path`` is touched until every training phase
    # has finished: a failure during the (long) OPQ / k-means / PQ
    # train over an existing index leaves the OLD index fully intact.
    # The writes then run under the store's build fence
    # (operators/ivfstore.build): old meta over partly-new tables can
    # MIX SPACES (e.g. plain meta over freshly rotated codes), which no
    # flag consistency check can see.
    if opq:
        if opq == "np":
            # final_pq_iters=0: only R is needed — the index retrains
            # RESIDUAL codebooks below; flat final codebooks would be
            # discarded corpus passes (advisor finding r9)
            R, _none = opq_train_np(
                corpus, vec_col=vec_col, id_col=id_col, dim=dim, m=m,
                k=k_codes, final_pq_iters=0,
            )
        else:
            R = opq_rotation(corpus, vec_col=vec_col, dim=dim, m=m)
        corpus = rotate_vectors(corpus, R, vec_col=vec_col)
    else:
        R = None
    coarse = kmeans_fit(
        corpus, vec_col=vec_col, id_col=id_col, k=k_clusters,
        max_iter=max_iter, compute_inertia=False,
    )
    raw_cents = np.asarray(coarse.centroids, dtype=np.float64)
    cents_hat = _normalize(raw_cents)
    assigned = kmeans_assign(corpus, coarse.centroids, vec_col=vec_col)
    model = pq_train(
        assigned,
        vec_col=vec_col,
        id_col=id_col,
        dim=dim,
        m=m,
        k=k_codes,
        max_iter=max_iter,
        cluster_col="cluster",
        residual_centroids=cents_hat,
    )
    codes = pq_encode(
        assigned,
        model,
        vec_col=vec_col,
        cluster_col="cluster",
        residual_centroids=cents_hat,
    )
    cb = model.codebooks
    tables = {
        "centroids": spark.createDataFrame(
            [(int(i), [float(x) for x in c]) for i, c in enumerate(raw_cents)],
            "cluster int, centroid array<double>",
        ),
        "codebooks": spark.createDataFrame(
            [
                (s, j, [float(x) for x in cb[s, j]])
                for s in range(m)
                for j in range(k_codes)
            ],
            "sub int, code int, vec array<double>",
        ),
        # a plain rebuild over an OPQ index: the stale rotation is
        # inert once meta says plain, and removed after the commit
        "rotation": None if R is None else spark.createDataFrame(
            [(int(i), [float(x) for x in row]) for i, row in enumerate(R)],
            "row int, vec array<double>",
        ),
    }
    ivfstore.build(
        spark, path, IVF_PQ,
        payload=codes.select(id_col, "codes", "cluster"),
        tables=tables,
        meta=(
            id_col, vec_col, int(k_clusters), int(m), int(k_codes),
            int(dim), "opq" if R is not None else "plain",
        ),
    )
    return model


def _load_model(spark, path: str, meta) -> tuple:
    """The frozen model every probe, append and health report uses:
    (rotation or None, RAW coarse centroids (k, d), PQModel). The meta
    row's ``space`` is authoritative: "opq" REQUIRES the rotation
    table (missing ⇒ half-built index, fail loudly rather than serve
    unrotated queries against rotated codes); "plain" ignores any
    stale rotation."""
    R = None
    if meta["space"] == "opq":
        fs, HPath = hadoop_fs(spark, path)
        if not fs.exists(HPath(f"{path}/rotation")):
            raise RuntimeError(
                f"IVF-PQ index at {path} is half-built: meta declares"
                " space='opq' but the rotation table is missing —"
                " rebuild with build_ivf_pq_index(opq=...)"
            )
        rows = spark.read.parquet(f"{path}/rotation").orderBy("row").collect()
        R = np.vstack([np.asarray(r["vec"], dtype=np.float64) for r in rows])
    cent_rows = (
        spark.read.parquet(f"{path}/centroids").orderBy("cluster").collect()
    )
    raw_cents = np.vstack(
        [np.asarray(r["centroid"], dtype=np.float64) for r in cent_rows]
    )
    m, dim = int(meta["m"]), int(meta["dim"])
    cb = np.zeros((m, int(meta["k_codes"]), dim // m))
    for r in spark.read.parquet(f"{path}/codebooks").collect():
        cb[r["sub"], r["code"]] = np.asarray(r["vec"], dtype=np.float64)
    return R, raw_cents, PQModel(codebooks=cb, dim=dim)


def cosine_topk_ivf_pq(
    spark,
    path: str,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 2,
    rerank_with: DataFrame | None = None,
    rerank: int = 50,
    query_id: str = "query_id",
    query_vec_col: str = "embedding",
    corpus_vec_col: str = "embedding",
    verify_consistency: bool = True,
    retries: int = 2,
    _race_hook=None,
) -> DataFrame:
    """Query a persisted IVF-PQ index: route each query to its nprobe
    nearest coarse centroids (broadcast k-row table), push the routed
    cluster ids as a LITERAL partition filter (static pruning — the
    cosine_topk_ivf_index precedent), ADC-score ONLY the probed
    clusters' codes (score = q̂·ĉ_cluster + Σ_s LUT[s, code_s], the
    residual decomposition), shortlist per partition, exact-cosine
    rerank against ``rerank_with`` survivors.

    OPQ indexes (meta ``space`` = "opq"): queries rotate into the
    index's space for routing and ADC; the exact rerank keeps the
    caller's ORIGINAL vectors — cosine is rotation-invariant, so the
    two spaces agree on the final scores.

    The shortlist scan runs under the store's fences
    (operators/ivfstore.probe): a standing build or compaction fence
    refuses at entry; the scan is materialised and re-checked, and an
    overlapping rebuild or compaction re-runs it (up to ``retries``)
    against the new generation. After that check the returned frame
    touches no index table (the exact rerank joins the caller's own
    corpus). ``verify_consistency=False`` keeps the frame lazy for
    plan inspection."""
    def scan(meta):
        R, raw_cents, model = _load_model(spark, path, meta)
        # persisted centroids are the RAW k-means means (the append path
        # assigns with them); score offsets and routing want the
        # normalized form — cosine routing is norm-invariant anyway
        cents = _normalize(raw_cents)
        qids, luts, offsets = _query_luts(
            queries, query_id, query_vec_col, model, cents, R
        )
        centroids_df = spark.createDataFrame(
            [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)],
            "cluster int, centroid array<double>",
        )
        q = query_vectors(queries, query_id, query_vec_col)
        if R is not None:
            q = rotate_vectors(q, R, vec_col="qv")
        routed = route_queries(q, centroids_df, nprobe)
        probed = sorted(
            r["cluster"] for r in routed.select("cluster").distinct().collect()
        )
        qprobes = {qid: [] for qid in qids}
        for r in routed.select("qid", "cluster").collect():
            qprobes[int(r["qid"])].append(int(r["cluster"]))
        codes = spark.read.parquet(f"{path}/codes").filter(
            F.col("cluster").isin(probed)
        )
        return _adc_shortlist(
            codes.select(
                F.col(meta["id_col"]).alias("_cid"), "cluster", "codes"
            ),
            qids, luts, offsets, [qprobes[qid] for qid in qids],
            rerank if rerank_with is not None else k,
        )

    meta, shortlist = ivfstore.probe(
        spark, path, IVF_PQ, scan, verify_consistency=verify_consistency,
        retries=retries, race_hook=_race_hook,
    )
    return _adc_topk(
        shortlist, k=k, rerank=rerank, rerank_with=rerank_with,
        queries=queries, query_id=query_id, query_vec_col=query_vec_col,
        corpus_id=meta["id_col"], corpus_vec_col=corpus_vec_col,
    )


def append_to_ivf_pq_index(
    new_vectors: DataFrame,
    path: str,
    *,
    batch_id: int | None = None,
) -> None:
    """Incremental IVF-PQ maintenance — the FAISS add-with-frozen-
    model pattern: new vectors route to their nearest EXISTING coarse
    centroid (same L2 assignment the build used, on the persisted RAW
    centroids) and their residuals encode with the EXISTING codebooks,
    appending as their own ``batch_id`` partition with DYNAMIC
    overwrite — a retried append with the same explicit batch_id
    replaces its own (batch, cluster) partitions instead of
    duplicating (the append_to_ivf_index contract, one store:
    operators/ivfstore.append). Centroids and codebooks are
    deliberately NOT retrained per batch: probe routing and ADC LUTs
    must stay stable between retrains. Quantization quality decays
    as the distribution drifts — rebuild on budget, the FAISS retrain
    cadence."""
    from .clustering import kmeans_assign

    spark = new_vectors.sparkSession

    def encode(meta):
        vec_col = meta["vec_col"]
        R, raw_cents, model = _load_model(spark, path, meta)
        batch = new_vectors
        if R is not None:  # OPQ index: append in the index's space
            batch = rotate_vectors(batch, R, vec_col=vec_col)
        assigned = kmeans_assign(batch, raw_cents, vec_col=vec_col)
        return pq_encode(
            assigned,
            model,
            vec_col=vec_col,
            cluster_col="cluster",
            residual_centroids=_normalize(raw_cents),
        ).select(meta["id_col"], "codes", "cluster")

    ivfstore.append(spark, path, IVF_PQ, encode, batch_id)


def compact_ivf_pq_index(
    spark, path: str, deleted_ids: DataFrame | None = None
) -> None:
    """Fold the accumulated append batches of the CODES table back
    into batch 0 (and optionally drop deleted ids) — the segment-
    merge step between retrains, mirroring compact_ivf_index: many
    small (batch_id, cluster) partitions from appends become one
    file set per cluster, restoring scan efficiency without touching
    centroids or codebooks (routing and ADC LUTs stay valid; a
    RETRAIN is build_ivf_pq_index again). Staging + directory swap
    under the store's compaction fence (operators/ivfstore.compact);
    a failed compaction keeps the index fenced — run
    verify_ivf_pq_index, repair (promote or remove ``codes.staging``),
    then delete the marker to heal."""
    ivfstore.compact(spark, path, IVF_PQ, deleted_ids)


def verify_ivf_pq_index(spark, path: str) -> dict:
    """Consistency check for the IVF-PQ layout: the store's report
    (operators/ivfstore.verify: out-of-range cluster rows, missing
    centroids, duplicate ids, fence residue), plus

    - ``bad_code_rows``: code vectors whose length ≠ m or whose
      entries fall outside [0, k_codes) — a codebook/table mismatch
      (e.g. codes written against a different model than the
      persisted codebooks);
    - ``missing_codewords``: gaps in the m×k_codes range the meta
      table promises."""

    def audit(meta):
        m, k_codes = int(meta["m"]), int(meta["k_codes"])
        have = {
            (r["sub"], r["code"])
            for r in spark.read.parquet(f"{path}/codebooks")
            .select("sub", "code").collect()
        }
        missing = sorted(
            {(s, j) for s in range(m) for j in range(k_codes)} - have
        )
        bad_code = (F.size("codes") != m) | F.exists(
            "codes", lambda x: (x < 0) | (x >= k_codes)
        )
        return (
            {"m": m, "k_codes": k_codes, "missing_codewords": missing},
            {"bad_code_rows": bad_code},
        )

    return ivfstore.verify(spark, path, IVF_PQ, audit)


def ivf_pq_index_stats(
    spark, path: str, corpus: DataFrame, *, vec_col: str = "embedding"
) -> DataFrame:
    """Retrain-trigger observability for a (possibly appended) IVF-PQ
    index — the ivf_index_stats twin plus QUANTIZATION error: per
    cluster, the vector count, corpus share, and the mean/max L2
    reconstruction error ‖x̂ − (ĉ_cluster + recon(codes))‖ measured
    against the caller's float corpus (the index holds no floats).
    Appends under a frozen model grow reconstruction error as the
    distribution drifts — rebuild when the trend breaks, the FAISS
    retrain cadence. One broadcast-join scan of the codes table; the
    error kernel is a two-column Arrow UDF; output is k rows.

    The join is LEFT from the codes table: index rows whose ids are
    absent from the supplied corpus (an appended batch the caller
    forgot to include) surface as ``n_unmatched`` per cluster with
    null recon errors — exactly the drifted/orphaned rows a health
    report exists to expose, not rows to silently drop.

    OPQ indexes: the caller's float corpus rotates into the index's
    space before the error kernel (the stored centroids/codebooks
    live there)."""

    def per_cluster(meta):
        id_col, m = meta["id_col"], int(meta["m"])
        R, raw_cents, model = _load_model(spark, path, meta)
        cents_hat, cb = _normalize(raw_cents), model.codebooks
        floats = corpus
        if R is not None:
            floats = rotate_vectors(
                corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>")),
                R,
                vec_col=vec_col,
            )

        @F.pandas_udf("double")
        def recon_err(
            vecs: pd.Series, codes: pd.Series, clusters: pd.Series
        ) -> pd.Series:
            # unmatched index rows carry a null vector — keep their error
            # null (they count in n_unmatched, not in the means)
            matched = vecs.notna().to_numpy()
            out = np.full(len(vecs), np.nan)
            if matched.any():
                x = _normalize(_as_matrix(vecs[matched]))
                cd = np.vstack(codes[matched].to_numpy())  # (n, m)
                cl = clusters.to_numpy()[matched]
                recon = cents_hat[cl] + np.concatenate(
                    [cb[s][cd[:, s]] for s in range(m)], axis=1
                )
                out[matched] = np.sqrt(((x - recon) ** 2).sum(axis=1))
            return pd.Series(out)

        joined = spark.read.parquet(f"{path}/codes").join(
            floats.select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
            ),
            id_col,
            "left",
        ).select(
            "cluster",
            F.col("_v").isNull().alias("_unmatched"),
            recon_err(F.col("_v"), F.col("codes"), F.col("cluster")).alias("err"),
        )
        return joined.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.col("_unmatched").cast("long")).alias("n_unmatched"),
            F.round(F.avg("err"), 6).alias("mean_recon_err"),
            F.round(F.max("err"), 6).alias("max_recon_err"),
        )

    return ivfstore.stats(spark, path, IVF_PQ, per_cluster)
