"""Hard-negative triplet mining for embedding-model training
(anchor, positive, hard-negative) — the contrastive-learning data
prep step (public technique, e.g. Sentence-BERT/SimCSE training
recipes): positives are near-duplicates of the anchor, hard negatives
are the MOST similar vectors still outside the positive band — the
pairs a model learns the most from.

Why this shape scales (the SemDeDup lesson applied from the start):
candidate generation never crosses a k-means cluster boundary — the
quadratic cosine pass is (anchors_in_cluster × members_in_cluster),
blockwise over anchors so peak memory is O(block × members + n × d),
never n². Oversized clusters are truncated to ``max_cluster`` members
chosen by content hash (deterministic, partition-independent) and the
truncation is surfaced in the output's ``truncated`` flag — plus, for
clusters that emit no triplets at all (a pure boilerplate family has
an empty in-cluster negative band), in the ``with_report`` per-cluster
frame, so no truncation is ever silent. The only shuffle is the
groupBy(cluster) the k-means
assignment already requires; anchors are a content-hash sample, so
membership is a pure function of the row (operators/sampling.py
discipline).

Determinism: anchors/members sort by id inside the kernel (the
group's input order is partition-dependent); positives take the highest
cosine ≥ pos_threshold, hard negatives the highest cosine inside
[neg_lo, neg_hi), both tiebroken by candidate id; cosines round to
6dp before selection so float-sum jitter is inert.

The reference has no embedding tier (spark-job/etl_job.py stops at
OHLCV rows); this extends the SURVEY §2.10 X2 training-data path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .clustering import kmeans_assign, kmeans_fit
from .quantize import _round_half_away


def mine_triplets(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_clusters: int = 8,
    anchor_mod: int = 5,
    pos_threshold: float = 0.25,
    neg_lo: float = 0.10,
    neg_hi: float = 0.25,
    per_anchor: int = 1,
    max_cluster: int = 20_000,
    max_iter: int = 6,
    block: int = 256,
    with_report: bool = False,
):
    """Emit up to ``per_anchor`` (anchor, positive, hard_negative)
    triplets per anchor. Anchors are rows with xxhash64(id) % and
    ``anchor_mod`` == 0 (≈ 1/anchor_mod of the corpus, content-
    addressed). Returns (anchor_id, pos_id, neg_id, pos_cos, neg_cos,
    truncated).

    ``with_report=True`` additionally returns a per-cluster frame
    (cluster, n_members, n_anchors, truncated) as the second element.
    The per-triplet ``truncated`` flag alone is NOT sufficient
    observability: a truncated cluster that emits zero triplets —
    e.g. a pure boilerplate family, where every member is a positive
    and the in-cluster negative band is empty — would otherwise
    truncate SILENTLY (found by the round-8 skewed-cluster
    rehearsal, tools/skew_cluster_check.py). The report is one
    map-combinable aggregate over the assigned frame (k rows out);
    it re-traverses the scan lineage rather than caching a
    corpus-sized frame."""
    assert neg_lo < neg_hi <= pos_threshold
    model = kmeans_fit(
        df, vec_col=vec_col, id_col=id_col, k=k_clusters,
        max_iter=max_iter, compute_inertia=False,
    )
    # the hash is its own projection: spelled twice in one select, it
    # is a common subexpression, and Spark orders those by expression
    # ids, so the generated code would differ from run to run
    assigned = (
        kmeans_assign(df, model.centroids, vec_col=vec_col)
        .withColumn("_h", F.xxhash64(F.col(id_col)))
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
            "cluster",
            (F.pmod(F.col("_h"), F.lit(anchor_mod)) == 0).alias("_is_anchor"),
            "_h",
        )
    )

    out_schema = (
        "anchor_id long, pos_id long, neg_id long,"
        " pos_cos double, neg_cos double, truncated boolean"
    )

    def mine_one(table):
        """One cluster as a pyarrow Table (r13, guide §4.2 — the
        applyInPandas form spent the pass converting the embedding
        column to a pandas object Series and vstacking it back; the
        (n, d) matrix is now ONE zero-copy flatten+reshape). The
        truncation/sort semantics are the pandas ones re-expressed as
        the same lexsort permutations (unique _id makes every order
        total), and the blockwise cosine selection is untouched —
        outputs verified byte-identical against the pandas kernel."""
        import pyarrow as pa

        n_all = table.num_rows
        ids = table.column("_id").to_numpy(zero_copy_only=False)
        hashes = table.column("_h").to_numpy(zero_copy_only=False)
        anchors = table.column("_is_anchor").to_numpy(zero_copy_only=False)
        emb = table.column("_v")
        if isinstance(emb, pa.ChunkedArray):
            emb = emb.combine_chunks()
        flat = emb.flatten().to_numpy(zero_copy_only=False)
        x = np.ascontiguousarray(flat, dtype=np.float64).reshape(n_all, -1)
        truncated = n_all > max_cluster
        if truncated:  # deterministic content-hash truncation
            keep = np.lexsort((ids, hashes))[:max_cluster]
            ids, anchors, x = ids[keep], anchors[keep], x[keep]
        order = np.argsort(ids, kind="mergesort")
        ids, anchors, x = ids[order], anchors[order], x[order]
        nrm = np.linalg.norm(x, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        x = x / nrm
        a_idx = np.flatnonzero(anchors)
        rows = {
            "anchor_id": [], "pos_id": [], "neg_id": [],
            "pos_cos": [], "neg_cos": [], "truncated": [],
        }
        for start in range(0, len(a_idx), block):
            ab = a_idx[start : start + block]
            panel = _round_half_away(x[ab] @ x.T, 6)  # (b, n)
            for j, ai in enumerate(ab):
                sims = panel[j].copy()
                sims[ai] = -2.0  # exclude self
                # positives: highest cosine >= threshold, id tiebreak
                pos = np.flatnonzero(sims >= pos_threshold)
                neg = np.flatnonzero((sims >= neg_lo) & (sims < neg_hi))
                if not len(pos) or not len(neg):
                    continue
                pos = pos[np.lexsort((ids[pos], -sims[pos]))][:per_anchor]
                neg = neg[np.lexsort((ids[neg], -sims[neg]))][:per_anchor]
                for t in range(min(len(pos), len(neg))):
                    rows["anchor_id"].append(int(ids[ai]))
                    rows["pos_id"].append(int(ids[pos[t]]))
                    rows["neg_id"].append(int(ids[neg[t]]))
                    rows["pos_cos"].append(float(sims[pos[t]]))
                    rows["neg_cos"].append(float(sims[neg[t]]))
                    rows["truncated"].append(bool(truncated))
        return pa.table(
            {
                "anchor_id": pa.array(rows["anchor_id"], pa.int64()),
                "pos_id": pa.array(rows["pos_id"], pa.int64()),
                "neg_id": pa.array(rows["neg_id"], pa.int64()),
                "pos_cos": pa.array(rows["pos_cos"], pa.float64()),
                "neg_cos": pa.array(rows["neg_cos"], pa.float64()),
                "truncated": pa.array(rows["truncated"], pa.bool_()),
            }
        )

    triplets = assigned.groupBy("cluster").applyInArrow(
        mine_one, schema=out_schema
    )
    if not with_report:
        return triplets
    report = (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.col("_is_anchor").cast("long")).alias("n_anchors"),
        )
        .withColumn("truncated", F.col("n_members") > max_cluster)
    )
    return triplets, report
