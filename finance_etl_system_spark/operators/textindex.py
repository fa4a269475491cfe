"""Persistent inverted text index: build-once/query-many BM25 — the
search-index LAYOUT twin of the per-query ranker in
queries/retrieval.py (which re-derives postings from raw text on every
query). The reference ships documents to an external Elasticsearch
index (reference spark-job/etl_job.py ES sink); here the index is two
parquet tables the engine owns:

- ``{path}/postings``  (term, doc_id, tf) PARTITIONED BY bucket,
  where bucket = pmod(xxhash64(term), n_buckets). A query joins its
  (bucket, term) pairs against the partition column, so dynamic
  partition pruning reads only the buckets containing query terms —
  at 100 TB, |terms|/n_buckets of the index, never a corpus scan.
- ``{path}/doclen``    (doc_id, dl) — per-doc token counts; corpus
  stats (N, avgdl) re-aggregate from this doc-count-sized table at
  query time, so they are never stored stale.

Both tables are APPEND-ONLY: ``append_to_text_index`` adds a new
batch's postings/doclens and every BM25 statistic (tf, df, dl, N,
avgdl) is recomputed from the union at query time — incremental
index maintenance with zero rewrite, the property ES gets from
segment merging. (Deletes = anti-join compaction, same as any
append-log table here.)

Scoring is the same Lucene-style BM25 as queries/retrieval.py, and
the indexed path is pinned result-identical to the scan path in
tests/test_retrieval_anomaly.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.retrieval import B, K1, token_array
from ..functions.frames import ranked_topk
from ..functions.confs import partition_overwrite
from ..functions.generations import (
    hadoop_fs,
    list_names,
    path_exists,
    read_state,
)

N_BUCKETS = 16

# empty-index read fallbacks: a corpus with zero tokens writes only
# partition metadata (no parquet files), which cannot be
# schema-inferred on read — an empty index must answer queries with
# empty results, not UNABLE_TO_INFER_SCHEMA
_POSTINGS_SCHEMA = "term string, doc_id bigint, tf bigint, bucket bigint"
_POSTINGS_POS_SCHEMA = _POSTINGS_SCHEMA + ", pos array<int>"
_DOCLEN_SCHEMA = "doc_id bigint, dl bigint"


_META_SCHEMA = "positions boolean, analyzed boolean, n_buckets int"


def _write_meta(
    spark: SparkSession, path: str, *, positions: bool, analyzed: bool
) -> None:
    spark.createDataFrame(
        [(positions, analyzed, N_BUCKETS)], _META_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def _read_meta(spark: SparkSession, path: str) -> dict | None:
    """Index build flags, or None for a pre-meta index."""
    row = read_state(spark, f"{path}/meta", _META_SCHEMA).head()
    return row.asDict() if row is not None else None


def _read_index_table(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read an index table. build_text_index always creates the dir
    (an empty corpus leaves only _SUCCESS, read as an empty frame),
    and a streaming index whose batches held no token yet is an empty
    index dir (streaming/sinks.write_batch leaves no empty table dir),
    so any other missing table is a typo'd or never-built index — that
    raises rather than answering zero hits. The read is
    generation-resolved: a streaming-built index may be compacted
    concurrently (streaming/compaction.py::compact_stream_index)."""
    if not path_exists(spark, path):
        index_dir = path.rsplit("/", 1)[0]
        if not path_exists(spark, index_dir) or list_names(spark, index_dir):
            raise FileNotFoundError(f"no text index table at {path}")
    return read_state(spark, path, schema)


def _postings(
    docs: DataFrame,
    *,
    text_col: str,
    id_col: str,
    analyzed: bool,
    positions: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """``positions=True`` makes the index POSITIONAL: each posting
    carries the sorted token positions (Lucene's term-positions
    payload), enabling indexed phrase queries. Payload cost is one
    int per token occurrence — the standard IR trade."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(token_array(text_col, analyzed=analyzed)).alias(
            "pos", "term"
        ),
    )
    aggs = [F.count(F.lit(1)).alias("tf")]
    if positions:
        aggs.append(F.sort_array(F.collect_list("pos")).alias("pos"))
    post = (
        toks.groupBy("term", "doc_id")
        .agg(*aggs)
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(N_BUCKETS)))
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    return post, dl


def build_text_index(
    docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzed: bool = False,
    positions: bool = False,
    parquet_block_bytes: int | None = None,
) -> None:
    """Materialize the inverted index (overwrite).

    The write pins partitionOverwriteMode=static: this is a FULL
    rewrite, and a session that previously ran a streaming sink has
    the conf set to dynamic — which would silently leave stale bucket
    partitions behind.

    ``parquet_block_bytes`` caps the postings row-group size. The
    term-level skipping below only bites when a bucket spans MANY row
    groups; at production scale the default 128 MB groups give that
    for free, while fixture-scale probes (tools/index_probe_check.py)
    pass a small value so the skipping is measurable at 100k rows."""
    post, dl = _postings(
        docs, text_col=text_col, id_col=id_col, analyzed=analyzed,
        positions=positions,
    )
    with partition_overwrite(docs.sparkSession, "static"):
        # term-sorted within each bucket file: probe-time term
        # predicates skip whole row groups off the min/max footer
        # stats. The sort MUST lead with the write's partition column
        # — FileFormatWriter requires bucket ordering and would inject
        # its own sort over a term-only order, fragmenting the term
        # runs when it spills
        writer = post.sortWithinPartitions("bucket", "term").write.mode(
            "overwrite"
        )
        if parquet_block_bytes is not None:
            writer = writer.option(
                "parquet.block.size", int(parquet_block_bytes)
            )
        writer.partitionBy("bucket").parquet(f"{path}/postings")
        dl.write.mode("overwrite").parquet(f"{path}/doclen")
    # persist the build flags: append_to_text_index validates against
    # this so a wrong-flag append cannot write mixed-schema postings
    _write_meta(
        docs.sparkSession, path, positions=positions, analyzed=analyzed
    )


def append_to_text_index(
    new_docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzed: bool = False,
    positions: bool = False,
) -> None:
    """Incremental maintenance: append the new batch's postings and
    doc lengths. Doc ids must be new (replays: dedup upstream or
    compact). All BM25 stats re-derive from the union at query time,
    so no stored statistic goes stale.

    ``positions``/``analyzed`` are VALIDATED against the meta table
    the build wrote: a mismatched append would otherwise write
    mixed-schema postings files (phrase_search_index then reads
    ``pos`` as NULL for the tf-only files and silently drops
    occurrences) or mix analyzer token streams (silently wrong df/tf).
    Pre-meta indexes fall back to probing the existing postings schema
    for the positions flag (analyzed is unprobable there — trusted)."""
    spark = new_docs.sparkSession
    meta = _read_meta(spark, path)
    if meta is not None:
        for flag, want in (("positions", positions), ("analyzed", analyzed)):
            if bool(meta[flag]) != bool(want):
                raise ValueError(
                    f"append {flag}={want} to an index built with "
                    f"{flag}={bool(meta[flag])} at {path} — mixed-schema "
                    "postings would silently corrupt query results; "
                    "rebuild with build_text_index or match the flag"
                )
    else:
        existing = _read_index_table(
            spark, f"{path}/postings",
            _POSTINGS_POS_SCHEMA if positions else _POSTINGS_SCHEMA,
        )
        if positions != ("pos" in existing.columns):
            raise ValueError(
                f"append positions={positions} to an index whose postings "
                f"{'lack' if positions else 'carry'} a pos column at {path}"
            )
        # heal forward: give the legacy index a meta table
        _write_meta(spark, path, positions=positions, analyzed=analyzed)
    post, dl = _postings(
        new_docs, text_col=text_col, id_col=id_col, analyzed=analyzed,
        positions=positions,
    )
    post.sortWithinPartitions("bucket", "term").write.mode(
        "append"
    ).partitionBy("bucket").parquet(f"{path}/postings")
    dl.write.mode("append").parquet(f"{path}/doclen")


def bm25_search_index(
    spark: SparkSession,
    path: str,
    terms: list[str],
    *,
    k: int = 20,
    require_all_terms: bool = False,
) -> DataFrame:
    """Query the persisted index: the (bucket, term) pairs of the
    query — computed with the SAME Spark hash expression the writer
    used — become a LITERAL partition filter: the |terms|-row frame is
    collected (query-sized, the one permissible collect class) and
    pushed as ``bucket IN (...)``, so the pruning happens statically
    at plan time — every bucket holding no query term is never even
    listed. df/N/avgdl re-aggregate from the matched postings / the
    doclen table. Output schema and ranking are identical to the
    scan-path ranker (rnk, doc_id, bm25, n_terms_hit)."""
    postings = _read_index_table(spark, f"{path}/postings", _POSTINGS_SCHEMA)
    doclen = _read_index_table(spark, f"{path}/doclen", _DOCLEN_SCHEMA)
    # set semantics like the scan path's term.isin(terms): a repeated
    # query term must not double df/tf contributions
    terms = list(dict.fromkeys(terms))
    qterms = (
        spark.createDataFrame([(t,) for t in terms], "term string")
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(N_BUCKETS)))
    )
    buckets = sorted({r["bucket"] for r in qterms.collect()})  # |terms| rows
    hits = (
        postings.filter(F.col("bucket").isin(buckets))
        # literal term filter INSIDE the probed buckets: pushed to the
        # parquet scan (PushedFilters: In(term, ...)), so row groups
        # holding none of the query terms are stat-skipped — the
        # writer sorts postings by term within each bucket file to
        # make those stats selective
        .filter(F.col("term").isin(terms))
        .join(F.broadcast(qterms), ["bucket", "term"])
        .select("term", "doc_id", "tf")
    )
    corpus = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    # df via a window over the matched postings: ONE probe scan total
    # (the aggregate-and-join-back formulation scanned the probed
    # buckets twice); |terms| partitions, each df(term)-sized
    wdf = Window.partitionBy("term")
    scored = (
        hits.withColumn("df", F.count(F.lit(1)).over(wdf))
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn("avgdl", F.col("total_dl") / F.col("n_docs"))
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf")
            * F.lit(K1 + 1.0)
            / (
                F.col("tf")
                + F.lit(K1)
                * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("contrib"), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    if require_all_terms:
        # boolean-AND retrieval: conjunctive predicate on the per-doc
        # aggregate, same as the scan path's q_search_boolean_and —
        # costs nothing beyond the ranker
        scored = scored.filter(F.col("n_terms_hit") == len(terms))
    key = [F.col("bm25").desc(), F.col("doc_id").asc()]
    return ranked_topk(scored, key, k).select(
        "rnk", "doc_id", "bm25", "n_terms_hit"
    )


def phrase_search_index(
    spark: SparkSession,
    path: str,
    phrase_terms: list[str],
    *,
    k: int = 20,
) -> DataFrame:
    """Exact-phrase retrieval FROM the positional index (built with
    ``positions=True``): the Lucene phrase-query plan. Each phrase
    term's postings are read bucket-pruned + term-filtered (same
    static pruning as bm25_search_index), the ≤|terms| per-term
    frames equi-join on doc_id (every leg is
    |matching postings|-sized, never the corpus), and an occurrence
    is a position p in term 0's list with p+i present in term i's
    list for every i — evaluated as a row-local array filter, no
    explode. Output (rnk, doc_id, n_occurrences) is pinned identical
    to the scan-path q_search_phrase ranker.

    A tf-only (positions=False) index refuses phrase queries with a
    ValueError once it holds any postings; an index that is still
    EMPTY cannot reveal its build flag and answers with an empty
    result either way (correct for both flags)."""
    if len(phrase_terms) < 2:
        raise ValueError("phrase needs >= 2 terms")
    postings = _read_index_table(
        spark, f"{path}/postings", _POSTINGS_POS_SCHEMA
    )
    if "pos" not in postings.columns:
        raise ValueError(
            f"index at {path} has no positions — rebuild with "
            "build_text_index(..., positions=True)"
        )
    qterms = (
        spark.createDataFrame([(t,) for t in set(phrase_terms)], "term string")
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(N_BUCKETS)))
    )
    buckets = sorted({r["bucket"] for r in qterms.collect()})
    pruned = postings.filter(
        F.col("bucket").isin(buckets)
        & F.col("term").isin(list(set(phrase_terms)))
    )
    joined = None
    for i, t in enumerate(phrase_terms):
        leg = pruned.filter(F.col("term") == t).select(
            "doc_id", F.col("pos").alias(f"pos_{i}")
        )
        joined = leg if joined is None else joined.join(leg, "doc_id")

    def chain(p):
        cond = F.lit(True)
        for i in range(1, len(phrase_terms)):
            cond = cond & F.array_contains(F.col(f"pos_{i}"), p + i)
        return cond

    scored = joined.select(
        "doc_id",
        F.size(F.filter(F.col("pos_0"), chain)).alias("n_occurrences"),
    ).filter(F.col("n_occurrences") > 0)
    key = [F.col("n_occurrences").desc(), F.col("doc_id").asc()]
    return ranked_topk(scored, key, k).select(
        "rnk", "doc_id", "n_occurrences"
    )


def compact_text_index(
    spark: SparkSession, path: str, deleted_doc_ids: DataFrame
) -> None:
    """Delete lifecycle (the GDPR-erasure composition for the search
    index): anti-join the postings and doclen tables against the
    request-sized deletion list, write the compacted tables to a
    STAGING path, then directory-swap — the source files are never
    deleted until the replacement is fully durable, so losing an
    executor (or the driver) mid-compaction can only leave the old
    index or the new one, never neither. The swap itself is two
    renames; a crash between them leaves the live dir absent with
    both ``.old`` and the data intact — recoverable by hand, never
    data loss. Cost is the full index ONCE per compaction window,
    amortized over the appends between windows; partition layout
    (bucket) is preserved.

    The two tables swap in DOCLEN-FIRST order: a crash between the
    swaps leaves compacted doclen with stale postings — deleted docs
    then drop out of results anyway (scoring inner-joins doclen), with
    only df mildly inflated until the next compaction; the reverse
    order would have n_docs/avgdl silently INCLUDE deleted docs in
    every score. Either half-state is detected by
    ``verify_text_index``."""
    from ..functions.generations import read_live_state

    ids = F.broadcast(deleted_doc_ids.select("doc_id").distinct())
    # read_live_state, not a naive read (advisor r12): a
    # streaming-built index keeps its already-folded batch_id
    # partitions on disk until the NEXT compaction's deferred GC, so
    # a naive read in that window sees the consolidated partition AND
    # its folded inputs — duplicated postings this rewrite would
    # materialize as doubled term frequencies. The generation filter
    # selects exactly the live rows (no-op for batch-built indexes);
    # batch_id is dropped so the swapped-in replacement is a plain
    # batch-shaped index (its markers stay behind in the swapped-out
    # dir and die with it).
    post = read_live_state(spark, f"{path}/postings").join(
        ids, "doc_id", "left_anti"
    )
    dl = read_live_state(spark, f"{path}/doclen").join(
        ids, "doc_id", "left_anti"
    )
    if "batch_id" in post.columns:
        post = post.drop("batch_id")
    if "batch_id" in dl.columns:
        dl = dl.drop("batch_id")
    # static overwrite: a bucket whose every posting was deleted must
    # be TRUNCATED — under the dynamic mode a streaming sink may have
    # left on this session, its old files would silently survive
    with partition_overwrite(spark, "static"):
        # preserve the term-sorted file layout the probes' row-group
        # skipping relies on — a compaction must not degrade the index
        post.sortWithinPartitions("bucket", "term").write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(f"{path}/postings.staging")
        dl.write.mode("overwrite").parquet(f"{path}/doclen.staging")
    _swap_dir(spark, f"{path}/doclen")
    _swap_dir(spark, f"{path}/postings")


def verify_text_index(spark: SparkSession, path: str) -> dict:
    """Consistency check for the cross-table crash window: every
    posting's doc_id must have a doclen row (doclen ids ⊇ postings
    doc_ids). Returns {"consistent": bool, "orphan_postings_docs": n,
    "doclen_only_docs": n}; orphans (posting without doclen) mean a
    compaction died after the doclen swap — re-run compaction to heal.
    doclen-only docs are legal mid-window states only in the reverse
    (never-used) order, so they are reported too. Both sides reduce to
    doc-count-sized distinct sets before the anti-joins."""
    from ..functions.generations import read_live_state

    post_docs = (
        read_live_state(spark, f"{path}/postings")
        .select("doc_id")
        .distinct()
    )
    dl_docs = (
        read_live_state(spark, f"{path}/doclen").select("doc_id").distinct()
    )
    orphans = post_docs.join(dl_docs, "doc_id", "left_anti").count()
    dl_only = dl_docs.join(post_docs, "doc_id", "left_anti").count()
    return {
        "consistent": orphans == 0,
        "orphan_postings_docs": orphans,
        "doclen_only_docs": dl_only,
    }


def _swap_dir(spark: SparkSession, live: str) -> None:
    """Promote ``{live}.staging`` to ``live`` via the Hadoop FS API
    (works for local FS and HDFS alike): live → .old, staging → live,
    drop .old."""
    fs, Path = hadoop_fs(spark, live)
    old = Path(live + ".old")
    if fs.exists(old):
        fs.delete(old, True)
    if not fs.rename(Path(live), old):
        raise IOError(f"could not stage out {live}")
    if not fs.rename(Path(live + ".staging"), Path(live)):
        raise IOError(
            f"could not promote {live}.staging (old index at {live}.old)"
        )
    fs.delete(old, True)
