"""Bit-exactness pin for the r13 Arrow-native MinHash fold.

minhash_signatures' numpy mapInArrow pass must produce signatures
BIT-IDENTICAL to the Catalyst ``aggregate``/``zip_with`` fold it
replaced (the attestation value hashes and every LSH banding decision
depend on the exact int64 values). The reference fold is rebuilt
inline here from the same (a_i, b_i) permutation table.

The corpus is crafted for the segment-offset edge cases of the
vectorized kernel: the LAST rows of the single Arrow batch are a
null-text doc and a one-shingle doc (a clamped-offset ``reduceat``
formulation truncates the final non-empty segment exactly in this
layout), plus interior null/short rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from finance_etl_system_spark.operators.dedup import (
    _MERSENNE,
    _perm_params,
    minhash_signatures,
    shingles,
)

NUM_PERM = 16


def _reference_signatures(df, *, n=3, num_perm=NUM_PERM, seed=42):
    """The pre-r13 Catalyst fold, verbatim semantics."""
    a, b = _perm_params(num_perm, seed)
    sh = df.select(
        F.col("doc_id").alias("id"),
        shingles("text", n).alias("sh"),
    )
    sh = sh.withColumn(
        "h", F.transform("sh", lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE)))
    )
    ab = F.array(
        *[
            F.struct(F.lit(int(a[i])).alias("a"), F.lit(int(b[i])).alias("b"))
            for i in range(num_perm)
        ]
    )
    init = F.array_repeat(F.lit(_MERSENNE).cast("long"), num_perm)
    return sh.select(
        "id",
        F.aggregate(
            "h",
            init,
            lambda acc, hv: F.zip_with(
                acc,
                ab,
                lambda m, p: F.least(
                    m, F.pmod(hv * p["a"] + p["b"], F.lit(_MERSENNE))
                ),
            ),
        ).alias("sig"),
    )


def test_arrow_fold_bit_identical_to_catalyst_fold(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, None),  # interior null
        (3, "one two three four five six seven eight nine ten"),
        (4, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
        (5, None),  # trailing null after the last long doc
        (6, "tiny"),  # single-shingle doc as the final non-empty row
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING").coalesce(1)

    got = {
        r["id"]: r["sig"]
        for r in minhash_signatures(
            df, n=3, num_perm=NUM_PERM, spread=False
        ).collect()
    }
    want = {
        r["id"]: r["sig"] for r in _reference_signatures(df).collect()
    }
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id] == want[doc_id], doc_id
    # null text normalizes to a degenerate (but NON-null) shingle
    # set in BOTH folds — what matters is they agree, pinned above
    assert got[2] == got[5]
    assert got[1] == got[4]  # exact dup -> identical signature
    assert len(got[6]) == NUM_PERM
