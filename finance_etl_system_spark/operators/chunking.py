"""Content-defined chunking (CDC) — the rolling-hash tier of document
fingerprinting: split each document at positions where a gear rolling
hash hits a boundary mask, so chunk boundaries are decided by CONTENT,
not offsets. An insertion near the head re-synchronizes at the next
content boundary and every later chunk hash is unchanged — the
property that makes chunk-level dedup, delta storage, and incremental
corpus sync work (rsync/LBFS/borg lineage; gear hash per Xia et al.
2016 FastCDC, public method).

Complements the existing sub-document tiers: exact dedup hashes the
WHOLE normalized doc (operators/text.fingerprint), repeated-substring
spans find corpus-hot token windows (operators/substring.py); CDC
finds byte-identical REGIONS shared across documents regardless of
token alignment, with O(bytes) work per document and no corpus-wide
gram state.

Spark shape: chunking is row-local (one Arrow pandas UDF pass —
per-partition work, no shuffle); the chunk table then behaves like
any fact table — chunk-hash groupBys are map-side combinable, and
the dup-rate report is one join back onto doc-keyed aggregates.
Determinism: the gear table derives from a fixed seeded PRNG
(process-independent), boundaries and hashes are pure functions of
the UTF-8 bytes.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# fixed 256-entry gear table, derived from sha256 of the entry index:
# stable across processes, hosts, AND library versions (numpy's
# Generator streams are explicitly allowed to change between releases
# — NEP 19 — which would silently re-chunk a persisted corpus; the
# same reason quality_classifier rolls its own token hash instead of
# Python's salted hash()).
_GEAR = [
    int.from_bytes(
        hashlib.sha256(b"spark-graft-cdc-gear-%d" % i).digest()[:8],
        "big",
    )
    for i in range(256)
]
_U64 = (1 << 64) - 1


def _chunk_bounds(
    data: bytes, *, min_size: int, avg_size: int, max_size: int
) -> list[tuple[int, int]]:
    """Boundary positions via gear rolling hash: cut after byte i when
    the masked bits are zero (mask width = log2(avg_size)), never
    before min_size or after max_size. Returns [(start, length)].
    Pure masked-int arithmetic — the wrap is the modular hash, not an
    accident."""
    mask = (avg_size - 1) << 16  # high-ish bits, FastCDC-style
    out: list[tuple[int, int]] = []
    n = len(data)
    start = 0
    h = 0
    gear = _GEAR
    for i in range(n):
        h = ((h << 1) + gear[data[i]]) & _U64
        length = i - start + 1
        if (length >= min_size and (h & mask) == 0) or length >= max_size:
            out.append((start, length))
            start = i + 1
            h = 0
    if start < n:
        out.append((start, n - start))
    return out


def content_defined_chunks(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_size: int = 16,
    avg_size: int = 64,
    max_size: int = 256,
) -> DataFrame:
    """Explode each document into CDC chunks:
    (id, chunk_idx, chunk_start, chunk_len, chunk_hash) — offsets in
    UTF-8 bytes, hash = sha256 hex of the chunk bytes. ``avg_size``
    must be a power of two (it defines the boundary mask)."""
    if avg_size & (avg_size - 1):
        raise ValueError(f"avg_size={avg_size} must be a power of 2")
    if not min_size <= avg_size <= max_size:
        raise ValueError(
            f"need min_size <= avg_size <= max_size, got {min_size},"
            f" {avg_size}, {max_size}"
        )

    @F.pandas_udf(
        "array<struct<chunk_idx:int,chunk_start:long,"
        "chunk_len:long,chunk_hash:string>>"
    )
    def chunks(texts: pd.Series) -> pd.Series:
        def one(t):
            data = (t or "").encode("utf-8")
            out = []
            for idx, (s, ln) in enumerate(
                _chunk_bounds(
                    data,
                    min_size=min_size,
                    avg_size=avg_size,
                    max_size=max_size,
                )
            ):
                out.append(
                    {
                        "chunk_idx": idx,
                        "chunk_start": s,
                        "chunk_len": ln,
                        "chunk_hash": hashlib.sha256(
                            data[s : s + ln]
                        ).hexdigest(),
                    }
                )
            return out

        return texts.map(one)

    return (
        df.select(id_col, chunks(F.col(text_col)).alias("_c"))
        .select(id_col, F.explode("_c").alias("c"))
        .select(
            id_col,
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk_start").alias("chunk_start"),
            F.col("c.chunk_len").alias("chunk_len"),
            F.col("c.chunk_hash").alias("chunk_hash"),
        )
    )


def chunk_dedup_stats(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_size: int = 16,
    avg_size: int = 64,
    max_size: int = 256,
) -> DataFrame:
    """Per-document chunk-level duplication report: how many of the
    doc's bytes live in chunks whose hash also appears in ANOTHER
    document — the sub-document dup metric CDC exists for. Returns
    (id, n_chunks, n_bytes, shared_chunks, shared_bytes,
    shared_frac 6dp), ordered by id.

    Plan: chunking is row-local; one map-combinable groupBy sizes
    each hash's distinct-doc count; the join back is chunk-keyed.
    No all-pairs anywhere — dup detection cost is O(chunks), not
    O(docs^2)."""
    chunks = content_defined_chunks(
        df,
        text_col=text_col,
        id_col=id_col,
        min_size=min_size,
        avg_size=avg_size,
        max_size=max_size,
    )
    owners = chunks.groupBy("chunk_hash").agg(
        F.count_distinct(id_col).alias("_n_docs")
    )
    per_doc = (
        chunks.join(owners, "chunk_hash")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_len").alias("n_bytes"),
            F.sum((F.col("_n_docs") > 1).cast("long")).alias(
                "shared_chunks"
            ),
            F.sum(
                F.when(F.col("_n_docs") > 1, F.col("chunk_len")).otherwise(
                    0
                )
            ).alias("shared_bytes"),
        )
    )
    # left-join back onto the input: empty/NULL-text docs have no
    # chunks but must still appear (n_chunks=0, shared_frac NULL) —
    # the _scrub_with_spans every-document convention; silently
    # dropped rows would skew corpus-level dup coverage
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("n_bytes", F.lit(0)).cast("long").alias("n_bytes"),
            F.coalesce("shared_chunks", F.lit(0))
            .cast("long")
            .alias("shared_chunks"),
            F.coalesce("shared_bytes", F.lit(0))
            .cast("long")
            .alias("shared_bytes"),
            F.when(
                F.coalesce("n_bytes", F.lit(0)) > 0,
                F.round(F.col("shared_bytes") / F.col("n_bytes"), 6),
            ).alias("shared_frac"),
        )
        .orderBy(id_col)
    )


def chunk_dup_doc_ids(
    d: DataFrame,
    *,
    text_col: str,
    id_col: str,
    threshold: float,
    history_chunks: DataFrame | None = None,
    chunks: DataFrame | None = None,
) -> DataFrame:
    """ids of docs whose byte share in DUPLICATED chunks ≥ threshold.

    A chunk counts as duplicated for doc x when its hash was first
    seen in a SMALLER-id exact-dedup survivor (min-id ownership) or in
    ``history_chunks`` (earlier increments — monotone ids make every
    history doc smaller). Ownership is computed over ALL exact
    survivors, independent of whether the owner itself gets dropped —
    that keeps the rule order-independent, so increments reproduce the
    rebuild exactly (no chain dependency through drop decisions).

    One chunking pass + one min-groupBy + one chunk-keyed join:
    O(chunks), never docs². Pass a pre-materialized ``chunks`` frame
    (content_defined_chunks output, ideally checkpointed) when the
    caller also needs the chunk table — the frame feeds both the
    owners groupBy and the per-doc join, so an unmaterialized lineage
    re-runs the per-byte rolling-hash UDF per consumer (r10 review
    finding)."""
    if chunks is None:
        chunks = content_defined_chunks(
            d, text_col=text_col, id_col=id_col
        ).localCheckpoint(eager=True)
    owners = chunks.groupBy("chunk_hash").agg(
        F.min(id_col).alias("_owner")
    )
    if history_chunks is not None:
        owners = owners.join(
            # distinct: a duplicate hash row in the history frame
            # would fan out the owner join and double-count bytes
            history_chunks.select("chunk_hash")
            .distinct()
            .withColumn("_hist", F.lit(True)),
            "chunk_hash",
            "left",
        )
    else:
        owners = owners.withColumn("_hist", F.lit(False))
    per_doc = (
        chunks.join(owners, "chunk_hash")
        .withColumn(
            "_dup",
            F.coalesce(F.col("_hist"), F.lit(False))
            | (F.col("_owner") < F.col(id_col)),
        )
        .groupBy(id_col)
        .agg(
            F.sum("chunk_len").alias("_n_bytes"),
            F.sum(
                F.when(F.col("_dup"), F.col("chunk_len")).otherwise(0)
            ).alias("_dup_bytes"),
        )
    )
    return per_doc.filter(
        (F.col("_n_bytes") > 0)
        & (F.col("_dup_bytes") / F.col("_n_bytes") >= threshold)
    ).select(id_col)
