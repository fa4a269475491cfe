"""Deduplication queries over ``documents`` (SURVEY §2.10 X1).

Exact + n-gram Jaccard are oracle-checked; MinHash-LSH and SimHash are
the scale paths (probabilistic signatures are engine-specific →
rows-only driver check, accuracy pinned by tests/test_dedup.py against
exact Jaccard ground truth).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.dedup import (
    embedding_cosine_pairs,
    exact_dedup,
    exact_dedup_by_priority,
    minhash_dedup_incremental,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from ..operators.text import normalized_sql

_NORM_SQL = normalized_sql("text")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 exact: survivors of content-hash dedup (lowest doc_id wins)."""
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d).select("doc_id", "lang", "source", "n_chars")


_DEDUP_EXACT_SQL = f"""
SELECT doc_id, lang, source, n_chars
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY sha256({_NORM_SQL})
    ORDER BY doc_id
  ) AS rn
  FROM documents
) t
WHERE rn = 1
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 fuzzy ground truth: word-3-gram Jaccard pairs ≥ 0.2, via
    inverted-index self-join (no crossJoin)."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, n=3, threshold=0.2).orderBy("id_a", "id_b")


_DEDUP_NGRAM_JACCARD_SQL = f"""
WITH tok AS (
  SELECT doc_id AS id,
         string_split({_NORM_SQL}, ' ') AS toks
  FROM documents
),
sh AS (
  SELECT id,
         list_distinct(
           list_transform(
             range(1, greatest(len(toks) - 2, 1) + 1),
             i -> array_to_string(list_slice(toks, i, i + 2), ' ')
           )
         ) AS shset
  FROM tok
),
sizes AS (SELECT id, len(shset) AS n_sh FROM sh),
inv AS (SELECT id, unnest(shset) AS shingle FROM sh),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2
ORDER BY id_a, id_b
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 scale path: MinHash(32 perms, 3-gram shingles) + 8-band LSH
    candidate pairs with estimated Jaccard. Probabilistic → rows-only
    driver check; accuracy asserted in tests against exact Jaccard."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, n=3, num_perm=32, bands=8).orderBy("id_a", "id_b")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 scale path #2: 64-bit SimHash near-dup pairs within Hamming
    distance 3 (pigeonhole banding). Rows-only driver check."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(d, max_hamming=3).orderBy("id_a", "id_b")


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 embedding tier, exact ground truth: near-dup vector pairs
    with cosine >= 0.4 over ``embeddings`` (all-pairs broadcast
    self-join; quadratic — oracle anchor for the LSH variant below)."""
    e = load_table(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(e, threshold=0.4).orderBy("id_a", "id_b")


_DEDUP_EMBEDDING_COSINE_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(
         CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM embeddings a
JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(
        CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
ORDER BY id_a, id_b
"""


def q_dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 embedding tier, scale path: random-hyperplane LSH banding
    prefilter + the same exact-cosine verify (output ⊆ exact variant).
    Probabilistic candidate set → rows-only driver check; recall vs
    the exact query pinned in tests/test_dedup.py. 16 bands × 4 bits
    tuned for the fixtures' near-orthogonal vectors at threshold 0.4
    (recall ≈ 0.94); production near-dup thresholds (cosine ≥ 0.8)
    prune orders of magnitude harder at the same band shape."""
    e = load_table(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(
        e, threshold=0.4, lsh_nbits=64, bands=16, dim=64
    ).orderBy("id_a", "id_b")


_PRIORITY = ["src7", "src3"]  # trusted feeds first; rest by name


def q_dedup_exact_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 provenance-aware exact dedup: identical contents keep the
    copy from the most trusted source (priority list, then source
    name, then lowest id) — the multi-feed crawl case where min-id is
    the wrong survivor."""
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup_by_priority(d, _PRIORITY).select(
        "doc_id", "lang", "source", "n_chars"
    )


_PRIORITY_CASE = (
    "CASE source "
    + " ".join(f"WHEN '{s}' THEN {i}" for i, s in enumerate(_PRIORITY))
    + f" ELSE {len(_PRIORITY)} END"
)

_DEDUP_EXACT_PRIORITY_SQL = f"""
SELECT doc_id, lang, source, n_chars
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY sha256({_NORM_SQL})
    ORDER BY {_PRIORITY_CASE},
             source, doc_id
  ) AS rn
  FROM documents
) t
WHERE rn = 1
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 pair→cluster: connected components over the n-gram-Jaccard
    near-dup pairs. Each clustered doc gets (cluster_id = min doc id
    of its component, cluster size, canonical flag). The canonical doc
    is what a dedup pipeline keeps; the rest are drops."""
    from pyspark.sql import Window

    from ..operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.2)
    cc = connected_components(pairs, "id_a", "id_b")
    return (
        cc.select(
            F.col("id").alias("doc_id"),
            F.col("label").alias("cluster_id"),
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
        .orderBy("cluster_id", "doc_id")
    )


# transitive closure via recursive CTE: tiny here (the near-dup pair
# set), and UNION (not UNION ALL) dedups rows so cycles terminate
_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE tok AS (
  SELECT doc_id AS id,
         string_split({_NORM_SQL}, ' ') AS toks
  FROM documents
),
sh AS (
  SELECT id,
         list_distinct(
           list_transform(
             range(1, greatest(len(toks) - 2, 1) + 1),
             i -> array_to_string(list_slice(toks, i, i + 2), ' ')
           )
         ) AS shset
  FROM tok
),
sizes AS (SELECT id, len(shset) AS n_sh FROM sh),
inv AS (SELECT id, unnest(shset) AS shingle FROM sh),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
),
pairs AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT src AS node, src AS root FROM edges
  UNION
  SELECT e.dst AS node, r.root FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM labels
ORDER BY cluster_id, doc_id
"""


def q_dedup_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/test split: hash-split documents 25/75 by
    their dedup CLUSTER id (singletons by their own id), so two
    near-duplicates can never land on opposite sides — the leakage
    mode a plain per-doc split has. Composition of
    connected_components + the deterministic md5 split
    (operators/sampling.py); output is the per-side summary."""
    from ..operators.graph import connected_components
    from ..operators.sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.2)
    cc = connected_components(pairs, "id_a", "id_b").select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    docs = (
        d.select("doc_id")
        # un-hinted: cc has a row per doc in ANY near-dup pair — a
        # duplicate-heavy web crawl makes that corpus-scale (the
        # round-8 vocab-broadcast lesson); AQE broadcasts when small
        .join(cc, "doc_id", "left")
        .withColumn(
            "eff_key", F.coalesce("cluster_id", "doc_id").cast("string")
        )
    )
    # 0.25 * 16^4 = 16384 = 0x4000
    side = F.when(hash_bucket("eff_key") < F.lit("4000"), "test").otherwise("train")
    return (
        docs.withColumn("split_side", side)
        .groupBy("split_side")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("cluster_id").isNotNull(), 1).otherwise(0)
            ).alias("n_clustered_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
        .orderBy("split_side")
    )


_DEDUP_SAFE_SPLIT_SQL = f"""
WITH RECURSIVE tok AS (
  SELECT doc_id AS id,
         string_split({_NORM_SQL}, ' ') AS toks
  FROM documents
),
sh AS (
  SELECT id,
         list_distinct(
           list_transform(
             range(1, greatest(len(toks) - 2, 1) + 1),
             i -> array_to_string(list_slice(toks, i, i + 2), ' ')
           )
         ) AS shset
  FROM tok
),
sizes AS (SELECT id, len(shset) AS n_sh FROM sh),
inv AS (SELECT id, unnest(shset) AS shingle FROM sh),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
),
pairs AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT src AS node, src AS root FROM edges
  UNION
  SELECT e.dst AS node, r.root FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (SELECT node AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY node),
docs AS (
  SELECT d.doc_id, l.cluster_id,
         CAST(COALESCE(l.cluster_id, d.doc_id) AS VARCHAR) AS eff_key
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
),
sided AS (
  SELECT *,
         CASE WHEN substr(md5(eff_key), 1, 4) < '4000'
              THEN 'test' ELSE 'train' END AS split_side
  FROM docs
)
SELECT split_side,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered_docs,
       COUNT(DISTINCT cluster_id) AS n_clusters
FROM sided
GROUP BY split_side
ORDER BY split_side
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 incremental tier: the daily-batch dedup pattern — docs with
    doc_id < median form the stored corpus (signature table only; the
    history text is never re-read), the rest arrive as the new batch
    and are flagged against history + each other. Rows-only driver
    check (stateful two-frame operator); cross-batch semantics pinned
    in tests/test_dedup.py::test_incremental_minhash_dedup_across_batches."""
    d = load_table(spark, sf_dir, "documents")
    half = 250  # doc_id < 250 exists at every sf (sf0.001 has 500 docs)
    history = minhash_signatures(
        d.filter(F.col("doc_id") < half)
    ).localCheckpoint(eager=False)
    batch = d.filter(F.col("doc_id") >= half)
    verdicts, _updated = minhash_dedup_incremental(batch, history)
    return verdicts.orderBy("id")


def q_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 rolling-hash tier: content-defined chunking (gear hash,
    FastCDC-style) + per-document shared-byte accounting — the
    sub-document dedup metric that catches byte-identical REGIONS
    across documents regardless of token alignment (the
    rsync/LBFS/borg trick; operators/chunking.py). Chunking is one
    row-local Arrow pass; dup detection is a map-combinable
    chunk-hash groupBy — O(chunks), never docs².

    Rows-only: the gear rolling-hash boundary loop is not
    SQL-expressible; boundary stability (prefix-edit
    resynchronization), exact local-vs-Spark chunk parity, and
    shared-byte accounting are pinned in tests/test_chunking.py."""
    from ..operators.chunking import chunk_dedup_stats

    d = load_table(spark, sf_dir, "documents")
    return chunk_dedup_stats(d, min_size=16, avg_size=64, max_size=256)


QUERIES = {
    "chunk_dedup_stats": q_chunk_dedup_stats,
    "dedup_exact": q_dedup_exact,
    "dedup_exact_priority": q_dedup_exact_priority,
    "dedup_incremental": q_dedup_incremental,
    "dedup_clusters": q_dedup_clusters,
    "dedup_safe_split": q_dedup_safe_split,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_embedding_cosine_lsh": q_dedup_embedding_cosine_lsh,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
}

ORACLE = {
    "dedup_exact": _DEDUP_EXACT_SQL,
    "dedup_exact_priority": _DEDUP_EXACT_PRIORITY_SQL,
    "dedup_clusters": _DEDUP_CLUSTERS_SQL,
    "dedup_safe_split": _DEDUP_SAFE_SPLIT_SQL,
    "dedup_embedding_cosine": _DEDUP_EMBEDDING_COSINE_SQL,
    "dedup_ngram_jaccard": _DEDUP_NGRAM_JACCARD_SQL,
}
