"""Deduplication operators (SURVEY §2.10 X1): exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Design for 100 TB (the whole point of these operators):
- exact: one groupBy on a 256-bit content hash — uniform shuffle keys.
- n-gram Jaccard: inverted-index self-join on shingles. Quadratic in
  the worst case — kept for oracle-checkable ground truth and small
  candidate sets; the scale path is MinHash below.
- MinHash+LSH: per-doc signature (k permutations) computed in ONE
  explode+groupBy pass; banding turns the all-pairs problem into a
  bucket join (only docs sharing a band hash ever meet). Candidate
  pairs then verified with exact Jaccard. No crossJoin anywhere.
- SimHash: 64-bit signature via a vectorized pandas UDF (bit-vote loop
  is numpy, Arrow-batched); near-dups = signatures within Hamming
  distance d, found by pigeonhole banding (d+1 bands).
- embedding-cosine: near-dup pairs by embedding similarity. Exact mode
  is the quadratic ground truth; the scale path reuses the
  random-hyperplane LSH banding from operators.similarity, so only
  vectors sharing a signature band ever meet.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .partitioning import spread_for_expansion
from .similarity import (
    _dot_sql,
    _norm_sql,
    _planes,
    as_double_sql,
    signature_udf,
    unit_vector_sql,
)
from .text import fingerprint, tokens, tokens_expr

# MinHash modulus: 31-bit Mersenne prime keeps a*h+b within int64
# under ANSI overflow checking (a, h < 2^31 → a*h < 2^62).
_MERSENNE = (1 << 31) - 1


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id doc per identical normalized content."""
    hashed = df.withColumn("_fp", fingerprint(text_col))
    w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc())
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def exact_dedup_by_priority(
    df: DataFrame,
    priority: list[str],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Provenance-aware exact dedup: among identical normalized
    contents, keep the copy from the most TRUSTED source — sources in
    ``priority`` rank by list position, everything else ranks after
    (ordered by source name, then lowest id). The production variant
    of exact_dedup when the same page is crawled from several feeds of
    unequal quality. Same single content-hash groupBy shape."""
    rank = F.lit(len(priority))
    for i, src in reversed(list(enumerate(priority))):
        rank = F.when(F.col(source_col) == src, F.lit(i)).otherwise(rank)
    hashed = df.withColumn("_fp", fingerprint(text_col))
    w = Window.partitionBy("_fp").orderBy(
        rank.asc(), F.col(source_col).asc(), F.col(id_col).asc()
    )
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def shingles(text_col: str, n: int = 3):
    """Word n-gram shingle array (distinct) from normalized text
    (:func:`operators.text.tokens`), as ONE SQL string parsed
    JVM-side: a Column chain costs ~10 py4j round trips per call —
    including two lambda-function registrations — which measured
    0.1-0.3 s of pure driver time per signature pass. The token
    subtree appears twice either way: Catalyst expressions have no
    DAG sharing."""
    toks = tokens_expr(text_col)
    if n == 1:
        return F.expr(f"array_distinct({toks})")
    # slide a window over the token array: tokens[i : i+n] joined by ' '
    return F.expr(
        f"array_distinct(transform("
        f"sequence(0, greatest(array_size({toks}) - {int(n)}, 0)),"
        f" i -> concat_ws(' ', slice({toks}, i + 1, {int(n)}))))"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.5,
    spread: bool | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram shingle sets, via an
    inverted-index self-join (docs only meet on shared shingles).

    ``spread`` gates the pre-shingle repartition (see
    operators/partitioning.py): auto by default — small local inputs
    are spread across cores, already-parallel scans are never
    reshuffled."""
    sh = spread_for_expansion(df, id_col, spread=spread).select(
        F.col(id_col).alias("id"), shingles(text_col, n).alias("sh")
    )
    sizes = sh.select("id", F.array_size("sh").alias("n_sh"))
    inv = sh.select("id", F.explode("sh").alias("shingle"))
    common = (
        inv.alias("a")
        .join(inv.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _perm_params(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm).astype(np.int64)
    b = rng.randint(0, _MERSENNE, size=num_perm).astype(np.int64)
    return a, b


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 32,
    seed: int = 42,
    spread: bool | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: min over shingles of
    (a_i * h(shingle) + b_i) mod p, for each permutation i.

    Shuffle-free AND single-pass: shingling and the per-shingle
    xxhash64 run JVM-side (hashed once per shingle, reused by every
    permutation), then ONE ``mapInArrow`` pass computes all num_perm
    running minima as a vectorized numpy broadcast over the batch's
    contiguous hash buffer (r13, guide §4.2 — the previous Catalyst
    ``aggregate``/``zip_with`` fold is a CodegenFallback higher-order
    function, i.e. ~num_perm interpreted expression evaluations per
    shingle; numpy does the identical int64 arithmetic natively).
    Exactness: h < p = 2^31 − 1 and a, b < p, so h·a + b < 2^62 fits
    int64 with NO overflow on either engine, and numpy's ``%`` with a
    positive modulus matches Spark's ``pmod`` — signatures are
    bit-identical to the fold's (pinned by the dedup/recall suites
    and the attestation value hashes). Null text → null sig; a doc
    with zero shingles keeps the fold's init value p in every slot —
    both exactly as before.
    """
    a, b = _perm_params(num_perm, seed)
    # conditional spread: small-file local sources arrive as one
    # partition and need the hashing parallelized; already-parallel
    # scans pass through with NO reshuffle of the raw text.
    # expr-string construction throughout (r14): the Column/lambda
    # form of this chain measured 0.3-0.5 s of py4j round trips per
    # signature pass; the parsed expression tree is identical.
    sh = spread_for_expansion(df, id_col, spread=spread).select(
        F.col(id_col).alias("id"), shingles(text_col, n).alias("sh")
    )
    hashed = sh.select(
        "id",
        F.expr(f"transform(sh, s -> pmod(xxhash64(s), {_MERSENNE}))")
        .alias("h"),
    )
    id_type = hashed.schema["id"].dataType.simpleString()
    k = int(num_perm)
    p = int(_MERSENNE)
    av = np.ascontiguousarray(a, dtype=np.int64)
    bv = np.ascontiguousarray(b, dtype=np.int64)

    def fold(batches):
        import pyarrow as pa

        for batch in batches:
            nrows = batch.num_rows
            if not nrows:
                continue
            ids = batch.column(0)
            h = batch.column(1)
            offs = np.asarray(h.offsets, dtype=np.int64)
            offs = offs - offs[0]
            vals = h.flatten().to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            m = len(vals)
            # (m, k) permuted hashes, then segment-min per row.
            # reduceat runs ONLY over non-empty segment starts
            # (strictly increasing, all < m; trailing segment extends
            # to the buffer end, which IS the last non-empty
            # segment's end) — passing clamped raw offsets instead
            # would truncate the final non-empty segment whenever
            # empty/null rows follow it in the batch. Empty segments
            # keep the fold's init value p.
            nonempty = (offs[1:] - offs[:-1]) > 0
            mins = np.full((nrows, k), p, dtype=np.int64)
            if m:
                mins[nonempty] = np.minimum.reduceat(
                    (vals[:, None] * av[None, :] + bv[None, :]) % p,
                    offs[:-1][nonempty],
                    axis=0,
                )
            valid = np.asarray(h.is_valid())
            if valid.all():
                sig = pa.ListArray.from_arrays(
                    pa.array(
                        np.arange(nrows + 1, dtype=np.int32) * k, pa.int32()
                    ),
                    pa.array(mins.ravel(), pa.int64()),
                )
            else:  # null shingle arrays (null text) stay null sigs
                counts = np.where(valid, k, 0)
                sig = pa.ListArray.from_arrays(
                    pa.array(
                        np.concatenate(([0], np.cumsum(counts))),
                        pa.int32(),
                    ),
                    pa.array(mins[valid].ravel(), pa.int64()),
                    mask=pa.array(~valid),
                )
            yield pa.RecordBatch.from_arrays([ids, sig], names=["id", "sig"])

    # Returned as ONE array column behind an opaque map boundary:
    # downstream sig[i] projections cannot inline the fold (the old
    # expression form documented the same hazard).
    return hashed.mapInArrow(fold, schema=f"id {id_type}, sig array<bigint>")


def _band_rows(sig: DataFrame, bands: int, rpb: int) -> DataFrame:
    """(id, band, band-hash) rows: one xxhash64 per band slice.

    Built as ONE SQL string (r14): the Column form was ~8 py4j calls
    per band (~0.2 s per call site at bands=8); parsed tree identical.
    """
    structs = ", ".join(
        "named_struct('band', {b}, 'bh', xxhash64({cols}))".format(
            b=bi,
            cols=", ".join(f"sig[{bi * rpb + j}]" for j in range(rpb)),
        )
        for bi in range(bands)
    )
    return sig.select(
        "id", F.expr(f"explode(array({structs}))").alias("b")
    ).select("id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))


def _cap_hot_buckets(band_rows: DataFrame, max_bucket: int | None) -> DataFrame:
    """LSH skew guard: drop band buckets with more than ``max_bucket``
    members BEFORE the self-join. A bucket of size s produces s(s-1)/2
    candidate pairs — one boilerplate-induced hot band hash (every doc
    sharing a cookie banner) turns the band join quadratic at corpus
    scale. Dropping hot buckets loses only pairs whose EVERY shared
    band is hot (boilerplate-only similarity — the pairs a dedup
    wants to ignore anyway); genuinely near-duplicate docs still meet
    in their content bands. The production cap every large-scale LSH
    dedup ships (None = off).

    Implemented as ONE count-over-window on the band key, not a
    groupBy+join: the join form duplicated the band-rows subtree (and
    with a lazily-checkpointed signature table upstream, recomputed
    the pandas-UDF signatures once per copy inside the same job —
    measured 34 s vs 6 s at the 10× replica); the window pays a
    single (band, bh) shuffle and keeps the subtree linear."""
    if max_bucket is None:
        return band_rows
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bh")
    return (
        band_rows.withColumn("_bn", F.count(F.lit(1)).over(w))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )


def _est_jaccard(num_perm: int):
    # one parsed SQL string — the two lambda registrations alone were
    # ~6 py4j round trips per call site (r14); tree identical
    return F.expr(
        f"round(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y),"
        f" m -> m)) / {int(num_perm)}, 6)"
    )


def minhash_dedup_incremental(
    new_df: DataFrame,
    history_sig: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    seed: int = 42,
    verify_threshold: float = 0.5,
    spread: bool | None = None,
    with_new_survivors: bool = False,
    max_bucket: int | None = None,
) -> tuple[DataFrame, ...]:
    """Daily-increment near-dup dedup — the production pattern: only
    the NEW batch is shingled and signatured; the corpus participates
    solely through its stored (id, sig) table. History is never
    re-signatured and never pairs against itself, so the per-batch
    cost is O(|batch| + band-collisions), independent of corpus size.

    Candidates = new×history band join ∪ new×new band join (earlier
    id canonical), verified by estimated Jaccard on the signatures.

    Returns ``(verdicts, updated_sigs)``: one row per duplicate new
    doc ``(id, dup_of, matched, est_jaccard)`` — ``matched`` is the
    best-scoring match (deterministic tiebreak) and ``est_jaccard``
    refers to THAT pair; ``dup_of`` is ``matched`` resolved
    transitively to a SURVIVING canonical, so a chain A<B<C in one
    batch yields C→A even though C's best match was the also-removed
    B. The signature table is grown by the surviving new docs (the
    state to carry into the next batch).

    Doc ids must be globally unique across batches: a new row reusing
    a HISTORY id is treated as a replay of that doc, not a duplicate
    (the self-pair is discarded), and its signature joins the table
    alongside the old one — feed genuinely-new docs fresh ids.

    With ``with_new_survivors`` a third frame is returned: ONLY the
    surviving new-batch signatures (batch-sized) — what an incremental
    state sink appends, without rewriting the history rows
    (streaming/dedup.py uses this for the checkpointed state table).
    """
    from pyspark.sql import Window

    if num_perm % bands:
        raise ValueError(f"num_perm={num_perm} must divide into bands={bands}")
    rpb = num_perm // bands
    new_sig = minhash_signatures(
        new_df,
        text_col=text_col,
        id_col=id_col,
        n=n,
        num_perm=num_perm,
        seed=seed,
        spread=spread,
    ).localCheckpoint(eager=True)

    # the hot-bucket cap applies to the UNION view: a bucket's size is
    # its new+history membership, so a boilerplate band hash is capped
    # consistently no matter how the corpus is split across batches
    nb_raw = _band_rows(new_sig, bands, rpb).withColumn("_side", F.lit("n"))
    hb_raw = _band_rows(history_sig, bands, rpb).withColumn("_side", F.lit("h"))
    capped = _cap_hot_buckets(nb_raw.unionByName(hb_raw), max_bucket)
    nb = capped.filter(F.col("_side") == "n").drop("_side")
    hb = capped.filter(F.col("_side") == "h").drop("_side")
    cand_hist = (
        nb.alias("n")
        .join(hb.alias("h"), ["band", "bh"])
        # id-collision guard: a new row reusing a history id is a
        # replay of that doc — never a self-duplicate verdict
        .filter(F.col("n.id") != F.col("h.id"))
        .select(F.col("n.id").alias("id"), F.col("h.id").alias("dup_of"))
    )
    cand_new = (
        nb.alias("a")
        .join(nb.alias("b"), ["band", "bh"])
        .filter(F.col("a.id") > F.col("b.id"))
        .select(F.col("a.id").alias("id"), F.col("b.id").alias("dup_of"))
    )
    cands = cand_hist.unionByName(cand_new).dropDuplicates(["id", "dup_of"])

    all_sig = history_sig.unionByName(new_sig)
    verified = (
        cands.join(
            new_sig.select(
                F.col("id"), F.col("sig").alias("sig_a")
            ),
            "id",
        )
        .join(
            all_sig.select(
                F.col("id").alias("dup_of"), F.col("sig").alias("sig_b")
            ),
            "dup_of",
        )
        .withColumn("est_jaccard", _est_jaccard(num_perm))
        .filter(F.col("est_jaccard") >= verify_threshold)
    )
    w = Window.partitionBy("id").orderBy(
        F.col("est_jaccard").desc(), F.col("dup_of").asc()
    )
    best = (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "dup_of", "est_jaccard")
    )
    # Resolve dup_of transitively to a survivor: new×new pointers
    # strictly decrease (a.id > b.id), so following them terminates at
    # a batch survivor or a history id. Each jump is a self-join on
    # the duplicate-sized verdict table (NOT the corpus); chains are
    # duplicate-group diameters, so the loop exits in a few passes.
    pointers = best.select(
        F.col("id").alias("dup_of"), F.col("dup_of").alias("jump")
    ).localCheckpoint(eager=True)
    resolved = best.select(
        "id", "dup_of", F.col("dup_of").alias("matched"), "est_jaccard"
    )
    for _ in range(64):  # bound far above any real chain — see below
        j = resolved.join(pointers, "dup_of", "left")
        if j.filter(F.col("jump").isNotNull()).isEmpty():
            break
        resolved = j.select(
            "id",
            F.coalesce("jump", "dup_of").alias("dup_of"),
            "matched",
            "est_jaccard",
        ).localCheckpoint(eager=True)
    else:
        # never exit the bound silently: an unresolved pointer would
        # hand downstream a canonical that is itself removed
        raise RuntimeError(
            "dup_of chains deeper than 64 did not resolve; raise the "
            "bound or pre-cluster the batch (operators/graph.py)"
        )
    verdicts = resolved.select("id", "dup_of", "matched", "est_jaccard")
    survivors = new_sig.join(
        verdicts.select("id"), "id", "left_anti"
    )
    updated = history_sig.unionByName(survivors)
    if with_new_survivors:
        return verdicts, updated, survivors
    return verdicts, updated


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    seed: int = 42,
    verify_threshold: float = 0.0,
    spread: bool | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding over MinHash signatures -> candidate pairs ->
    verified with estimated Jaccard (fraction of matching perms).

    rows_per_band = num_perm // bands; two docs collide iff some band's
    signature slice matches exactly. The candidate join is on
    (band_id, band_hash) — never all-pairs. ``max_bucket`` drops hot
    band buckets before the self-join (see _cap_hot_buckets) — the
    skew guard for boilerplate-heavy corpora.
    """
    if num_perm % bands:
        raise ValueError(f"num_perm={num_perm} must divide into bands={bands}")
    rpb = num_perm // bands
    sig = minhash_signatures(
        df,
        text_col=text_col,
        id_col=id_col,
        n=n,
        num_perm=num_perm,
        seed=seed,
        spread=spread,
    )
    # EAGER: the sig subtree appears 3× below (band rows + both sides
    # of the signature re-join); a lazy checkpoint only dedupes across
    # jobs, so within the single collect job the pandas-UDF signature
    # computation would run once per appearance
    sig = sig.localCheckpoint(eager=True)

    # candidate pairs travel as bare (id, id) — signatures re-join
    # later from the (small) sig table, keeping the band-join shuffle
    # narrow. Band key = one xxhash64 over the band's slice.
    band_rows = _cap_hot_buckets(_band_rows(sig, bands, rpb), max_bucket)

    cands = (
        band_rows.alias("a")
        .join(band_rows.alias("b"), ["band", "bh"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = _est_jaccard(num_perm)
    return (
        cands.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= verify_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_lsh_match(
    corpus: DataFrame | None,
    probe: DataFrame | None,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    seed: int = 42,
    verify_threshold: float = 0.0,
    max_bucket: int | None = None,
    corpus_sig: DataFrame | None = None,
    probe_sig: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric LSH match: which CORPUS docs near-match any PROBE
    doc — the fuzzy-decontamination primitive (the probe side is an
    eval benchmark, MBs by construction; exact n-gram overlap misses
    paraphrased leakage, signature collision does not).

    Same signatures/banding as minhash_lsh_pairs, but the join is
    corpus-bands x BROADCAST(probe-bands) instead of a self-join:
    the corpus side streams through one hash join keyed
    (band, band-hash), so cost is one corpus signature pass + a
    probe-sized broadcast — no corpus-corpus candidate blowup is
    possible, and ``max_bucket`` still caps boilerplate buckets on
    the corpus side. Returns (corpus_id, probe_id, est_jaccard)
    pairs at >= verify_threshold.

    ``corpus_sig`` / ``probe_sig`` let a caller that already holds
    (id, sig) frames (from ``minhash_signatures`` with MATCHING
    n/num_perm/seed) skip the signature pass — e.g. when corpus and
    probe are disjoint slices of one table, sign the table once and
    pass both filtered views. Presigned frames must already be
    materialized (checkpointed); this function will not re-barrier
    them.
    """
    if num_perm % bands:
        raise ValueError(f"num_perm={num_perm} must divide into bands={bands}")
    rpb = num_perm // bands
    kw = dict(text_col=text_col, id_col=id_col, n=n,
              num_perm=num_perm, seed=seed)
    csig = (corpus_sig if corpus_sig is not None
            else minhash_signatures(corpus, **kw).localCheckpoint(eager=True))
    psig = (probe_sig if probe_sig is not None
            else minhash_signatures(probe, **kw).localCheckpoint(eager=True))
    cband = _cap_hot_buckets(_band_rows(csig, bands, rpb), max_bucket)
    pband = _band_rows(psig, bands, rpb)
    cands = (
        cband.alias("a")
        .join(F.broadcast(pband.alias("b")), ["band", "bh"])
        .select(
            F.col("a.id").alias("corpus_id"),
            F.col("b.id").alias("probe_id"),
        )
        .dropDuplicates(["corpus_id", "probe_id"])
    )
    sig_a = csig.select(
        F.col("id").alias("corpus_id"), F.col("sig").alias("sig_a")
    )
    sig_b = psig.select(
        F.col("id").alias("probe_id"), F.col("sig").alias("sig_b")
    )
    return (
        cands.join(sig_a, "corpus_id")
        .join(F.broadcast(sig_b), "probe_id")
        .withColumn("est_jaccard", _est_jaccard(num_perm))
        .filter(F.col("est_jaccard") >= verify_threshold)
        .select("corpus_id", "probe_id", "est_jaccard")
    )


def lsh_candidate_stats(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    seed: int = 42,
    spread: bool | None = None,
    max_bucket: int | None = None,
) -> dict:
    """Measure what the hot-bucket cap actually bounds: band-bucket
    population and CANDIDATE-PAIR counts for one (corpus, cap)
    configuration — the observability side of _cap_hot_buckets.

    Returns {n_docs, n_band_rows, n_buckets, max_bucket_size,
    band_rows_dropped, candidate_pairs, pair_bound}. ``pair_bound``
    mirrors _cap_hot_buckets' DROP-WHOLE-BUCKET semantics: a bucket
    of pre-cap size s contributes s·(s−1)/2 when s ≤ cap and 0 when
    s > cap (the over-cap bucket is removed entirely, it is NOT
    truncated to its first ``cap`` members). The capped candidate
    count can never exceed the bound (pairs can only dedup down
    across bands), which is the invariant the cap experiment
    certifies: with a cap, the candidate volume is bounded by
    |surviving buckets|·cap² no matter how the data's duplicate
    structure grows. All aggregates here are bucket-table-sized;
    nothing collects per-doc data."""
    if num_perm % bands:
        raise ValueError(f"num_perm={num_perm} must divide into bands={bands}")
    rpb = num_perm // bands
    sig = minhash_signatures(
        df, text_col=text_col, id_col=id_col, n=n, num_perm=num_perm,
        seed=seed, spread=spread,
    ).localCheckpoint(eager=True)
    raw = _band_rows(sig, bands, rpb)
    sizes = raw.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("s"))
    cap = F.lit(max_bucket) if max_bucket is not None else F.col("s")
    kept = F.when(F.col("s") <= cap, F.col("s")).otherwise(F.lit(0))
    agg = sizes.agg(
        F.sum("s").alias("n_band_rows"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("s").alias("max_bucket_size"),
        F.sum(F.col("s") - kept).alias("band_rows_dropped"),
        F.sum(kept * (kept - 1) / 2).alias("pair_bound"),
    ).first()
    capped = _cap_hot_buckets(raw, max_bucket)
    pairs = (
        capped.alias("a")
        .join(capped.alias("b"), ["band", "bh"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .count()
    )
    return {
        "n_docs": sig.count(),
        "n_band_rows": int(agg["n_band_rows"]),
        "n_buckets": int(agg["n_buckets"]),
        "max_bucket_size": int(agg["max_bucket_size"]),
        "band_rows_dropped": int(agg["band_rows_dropped"]),
        "candidate_pairs": int(pairs),
        "pair_bound": int(agg["pair_bound"]),
    }


_SIMHASH_BITS = 64


@F.pandas_udf(T.LongType())
def _simhash_udf(tok_arrays: pd.Series) -> pd.Series:
    """Vectorized 64-bit SimHash: per-token xxhash-free numpy hashing
    (stable blake2-derived 64-bit ints), bit votes weighted by token
    frequency. Arrow-batched — no per-row Python overhead beyond the
    token loop, which is bounded by document length."""
    import hashlib

    shifts = np.arange(_SIMHASH_BITS, dtype=np.uint64)
    weights = np.left_shift(np.uint64(1), shifts)
    out = np.empty(len(tok_arrays), dtype=np.int64)
    for i, toks in enumerate(tok_arrays):
        votes = np.zeros(_SIMHASH_BITS, dtype=np.int64)
        if toks is not None and len(toks):
            vals, counts = np.unique(np.asarray(toks, dtype=object), return_counts=True)
            for tok, cnt in zip(vals, counts):
                hv = np.uint64(
                    int.from_bytes(
                        hashlib.blake2b(str(tok).encode(), digest_size=8).digest(),
                        "little",
                    )
                )
                bits = (hv >> shifts) & np.uint64(1)
                votes += int(cnt) * (2 * bits.astype(np.int64) - 1)
        bits = (votes > 0).astype(np.uint64)
        total = int(bits.dot(weights))
        out[i] = total - (1 << 64) if total >= (1 << 63) else total
    return pd.Series(out)


def simhash(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document."""
    return df.select(
        F.col(id_col).alias("id"),
        _simhash_udf(tokens(text_col)).alias("simhash"),
    )


def simhash_near_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs within Hamming distance ``max_hamming``.

    Pigeonhole banding: split 64 bits into (max_hamming + 1) bands; any
    pair within distance d agrees exactly on ≥1 band → candidate join
    on (band, band_bits), then exact popcount verify. No all-pairs.
    """
    nbands = max_hamming + 1
    width = _SIMHASH_BITS // nbands
    sig = simhash(df, text_col=text_col, id_col=id_col)
    bands = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), bi * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bits"),
                    )
                    for bi in range(nbands)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", F.col("b.band").alias("band"), F.col("b.bits").alias("bits"))
    cands = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bits"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_cosine_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    lsh_nbits: int | None = None,
    bands: int = 4,
    seed: int = 7,
    round_dp: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b) with
    ``round(cosine, round_dp) >= threshold``.

    Exact mode (``lsh_nbits=None``): all-pairs self-join — quadratic,
    kept as the oracle-checkable ground truth for small corpora. The
    smaller side is broadcast so the corpus is scanned once without a
    shuffle; cosine is a JVM ``zip_with``/``aggregate`` fold, rounded
    BEFORE the threshold so the cut is deterministic across engines.

    LSH mode: random-hyperplane signatures (same planes as the ANN
    path); candidates must share >= 1 of ``bands`` signature bands,
    then pass the SAME exact-cosine verify — so the output is always a
    subset of exact mode (recall pinned in tests/test_dedup.py). At
    100 TB this is the only viable shape: the band join touches
    O(n·bands) rows instead of O(n²) pairs.
    """
    # normalize ONCE per row (not per pair): cosine(a, b) = n̂a · n̂b,
    # so the O(n²) pair stage does a single dot product per pair. The
    # norm is materialized as its own column first — referencing it
    # from inside the transform lambda would re-fold it per element.
    # A zero vector normalizes to NULLs, so it forms no pair.
    base = (
        df.select(
            F.col(id_col).alias("id"), F.expr(as_double_sql(vec_col)).alias("v0")
        )
        .withColumn("_n", F.expr(_norm_sql("v0")))
        .select("id", F.expr(unit_vector_sql("v0", "_n")).alias("v"))
    )
    if lsh_nbits is None:
        a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
        b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
        cands = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
    else:
        if lsh_nbits % bands:
            raise ValueError(
                f"lsh_nbits={lsh_nbits} must divide into bands={bands}"
            )
        rpb = lsh_nbits // bands
        # dim is a query-build parameter; the one-row probe fallback
        # costs an extra Spark job (see cosine_topk_lsh docstring)
        if dim is None:
            dim = len(df.select(vec_col).first()[0])
        planes = _planes(lsh_nbits, dim, seed)
        # wide signatures (64 bits here) via the Arrow-batched matmul
        # UDF: constant plan size, BLAS per batch — the JVM-literal
        # signature_col form is O(nbits × dim) plan nodes and stalls
        # codegen at this width.
        # checkpoint: the signature UDF + normalization are cached after
        # the first materialization; candidates then travel as bare
        # (id, id) and the vectors re-join from this small table —
        # same narrow-shuffle discipline as minhash_lsh_pairs (the
        # band join otherwise carries dim-double arrays ×bands rows).
        # LAZY on purpose: pair BUILDING must stay plan-only (no Spark
        # job until the caller acts — pinned in tests/test_similarity
        # .py::test_lsh_query_build_spawns_no_spark_job); the trade is
        # the signature UDF may run once per self-join side within the
        # FIRST action only.
        sig = base.withColumn(
            "sig", signature_udf(planes)(F.col("v"))
        ).localCheckpoint(eager=False)
        band_rows = sig.select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bi).alias("band"),
                            F.xxhash64(
                                *[F.col("sig")[bi * rpb + j] for j in range(rpb)]
                            ).alias("sigb"),
                        )
                        for bi in range(bands)
                    ]
                )
            ).alias("b"),
        ).select("id", F.col("b.band").alias("band"), F.col("b.sigb").alias("sigb"))
        pairs = (
            band_rows.alias("a")
            .join(band_rows.alias("b"), ["band", "sigb"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        cands = pairs.join(
            sig.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a"
        ).join(sig.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
    cosine = F.expr(f"round({_dot_sql('va', 'vb')}, {int(round_dp)})")
    return (
        cands.withColumn("cosine", cosine)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
