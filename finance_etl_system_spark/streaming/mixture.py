"""Streaming domain-mixture budget take: budget_take's incremental
carry (operators/sampling.py) wired into a ``foreachBatch`` pipeline —
fill each domain's token budget from arriving document batches and
stop when it is full.

Per micro-batch of documents:

1. the per-group CONSUMED carry is recomputed from the kept-rows sink
   itself, EXCLUDING the current batch_id — the kept set is
   budget-bounded by construction (≤ Σ budgets tokens, ever), so this
   aggregate reads a bounded table no matter how long the stream runs,
   and excluding self makes a retried batch see exactly the state its
   first attempt saw;
2. ``budget_take(batch, budgets, consumed=...)`` selects this batch's
   contribution in deterministic hash order;
3. kept rows land partitioned by batch_id with dynamic-partition
   overwrite — a retried batch rewrites its own partition byte-for-
   byte (same effectively-once contract as streaming/dedup.py).

Budget invariant across the whole stream: each group's budget binds in
at most ONE batch (after it binds, carry ≥ budget and every later
batch takes zero), so the total take is in [budget, budget +
max_row_weight) once supply suffices — the same greedy overrun bound
the batch operator guarantees, pinned in tests/test_streaming_mixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.generations import read_state
from ..functions.sqltext import pin_sql_text_conf
from ..operators.sampling import budget_take
from ..operators.text import ws_tokens
from .sinks import file_stream, start_foreach_batch, write_batch


def _load_kept(
    spark: SparkSession, kept_dir: str, group_col: str, weight_col: str
) -> DataFrame:
    """The rows kept so far (empty before the first batch)."""
    return read_state(
        spark, kept_dir, f"{group_col} string, {weight_col} bigint, batch_id int"
    )


def mixture_increment_batch(
    batch_df: DataFrame,
    batch_id: int,
    kept_dir: str,
    *,
    group_col: str,
    weight_col: str,
    order_col: str,
    tiebreak_col: str,
    budgets: dict[str, int],
) -> None:
    """One micro-batch through the budgeted take (see module
    docstring). Idempotent under same-batch_id retry."""
    spark = batch_df.sparkSession
    if batch_df.isEmpty():
        return
    prior = _load_kept(spark, kept_dir, group_col, weight_col).filter(
        F.col("batch_id") != F.lit(batch_id)  # retry sees first-try state
    )
    consumed = {
        r["grp"]: r["c"]
        for r in prior.groupBy(F.col(group_col).alias("grp"))
        .agg(F.sum(weight_col).cast("long").alias("c"))
        .collect()
    }
    kept = budget_take(
        batch_df,
        group_col=group_col,
        weight_col=weight_col,
        order_col=order_col,
        tiebreak_col=tiebreak_col,
        budgets=budgets,
        consumed=consumed,
    )
    write_batch(kept, batch_id, kept_dir)


def stream_mixture_budget(
    spark: SparkSession,
    source_dir: str,
    kept_dir: str,
    checkpoint_dir: str,
    *,
    budgets: dict[str, int],
    group_col: str = "source",
    max_files_per_trigger: int | None = 1,
):
    """Checkpointed streaming composition: JSON document batches →
    budgeted mixture take with the kept table as its own carry state.
    Returns the started (availableNow) query. ``max_files_per_trigger``
    pins the file→batch mapping for replay tests (None lets one batch
    swallow everything; kept CONTENT still respects the budgets, only
    batch attribution differs)."""
    docs = file_stream(
        spark,
        source_dir,
        f"doc_id LONG, {group_col} STRING, text STRING",
        max_files_per_trigger,
    )

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        pin_sql_text_conf(batch_df.sparkSession)
        prepared = batch_df.select(
            "doc_id",
            group_col,
            F.size(ws_tokens("text")).cast("long").alias("w"),
            # pmod keeps the key in [0, 2^32) even for negative
            # doc_ids (Spark's % takes the dividend's sign) — the
            # budget_take order-key contract
            F.pmod(
                F.pmod(F.col("doc_id"), F.lit(2147483648))
                * F.lit(2654435761),
                F.lit(4294967296),
            ).alias("h"),
        )
        mixture_increment_batch(
            prepared,
            batch_id,
            kept_dir,
            group_col=group_col,
            weight_col="w",
            order_col="h",
            tiebreak_col="doc_id",
            budgets=budgets,
        )

    return start_foreach_batch(docs, fb, checkpoint_dir)
