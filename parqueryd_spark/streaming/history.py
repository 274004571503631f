"""Streaming SCD2 maintenance: a change feed continuously folded into an
effective-dated history dataset — the type-2 twin of ``streaming/cdc.py``
(whose type-1 apply keeps only the latest row per key).

Each micro-batch runs :func:`parqueryd_spark.operators.history.scd2_apply`
against the current history parquet and republishes through
``atomic_publish`` (readers stay on the old generation until the new one is
complete — the write reads FROM the serving dir, so the barrier's
write-aside-then-swap is load-bearing here, not just crash hygiene).

Exactly-once story, same shape as the CDC apply: ``scd2_apply`` is
idempotent (a replayed batch re-unions identical change rows, which dedupe
on the (key, ts, tiebreak) change identity and collapse to the same
chains), and Structured Streaming only advances past batch N after its
checkpoint commits, so a crash-replay always reruns N against a history
that absorbed at most N — never N+1. Per-trigger cost is
O(batch-key footprint) compute (only affected chains are rebuilt) plus the
rewrite of the history dataset; for a years-deep history partition it by a
stable key hash and promote the rewrite to partition-pruned publication the
way ``upsert_partitioned`` does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from parqueryd_spark.operators.history import scd2_apply, scd2_init
from parqueryd_spark.sources.fs import HadoopFS
from parqueryd_spark.sources.parquet import read_resolved
from parqueryd_spark.sources.sinks import _start_available_now, atomic_publish


def stream_apply_scd2(
    changes_stream: DataFrame,
    history_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    ts_col: str,
    compare_cols: list[str] | None = None,
    tiebreak_cols: list[str] | None = None,
):
    """Start a foreachBatch query folding each micro-batch of changes into
    the SCD2 history at ``history_dir`` (bootstrapped with ``scd2_init`` on
    the first batch). Returns the started StreamingQuery."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if HadoopFS(spark, history_dir).exists(history_dir):
            history = read_resolved(spark, [history_dir])
            merged = scd2_apply(
                history, batch_df, key_cols, ts_col, compare_cols, tiebreak_cols
            )
        else:
            merged = scd2_init(batch_df, key_cols, ts_col, compare_cols, tiebreak_cols)
        atomic_publish(merged, history_dir)

    return _start_available_now(changes_stream, _apply, checkpoint_dir)
