"""Streaming CDC apply: a change stream (replace / insert / delete rows)
continuously merged into a parquet dataset via the batch upsert operators —
the maintenance loop that keeps a serving table current from a feed.

Why foreachBatch: the target is a long-lived parquet dataset shared with
batch readers, not executor state. Each micro-batch is collapsed to one
change per key and applied with :func:`parqueryd_spark.sources.sinks.
upsert_partitioned` (partition-pruned rewrite) or ``upsert_parquet``.

Exactly-once story: a MERGE is idempotent — replaying micro-batch N against
a base that already absorbed N produces the identical table (replace
re-replaces, delete re-deletes, insert re-inserts the same key), and
Structured Streaming only advances to batch N+1 after N's checkpoint
commits, so a replay can never run against a base containing LATER changes.
The same property makes the partitioned variant's non-atomic multi-partition
write safe: a crash mid-apply is healed by the replay rewriting the same
partitions with the same contents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parqueryd_spark.sources.sinks import (
    _start_available_now,
    upsert_parquet,
    upsert_partitioned,
)


def collapse_changes(
    batch_df: DataFrame, key_cols: list[str], seq_col: str | None
) -> DataFrame:
    """One surviving change per key: the row with the greatest ``seq_col``
    (a CDC batch may carry several changes to one key — insert then update,
    update then delete — and MERGE needs exactly one winner). With no
    ``seq_col`` the batch must already be key-unique; dropDuplicates guards
    against accidental exact-row repeats from at-least-once sources."""
    if seq_col is None:
        return batch_df.dropDuplicates(key_cols)
    return (
        batch_df.groupBy(*key_cols)
        .agg(F.max_by(F.struct(*batch_df.columns), F.col(seq_col)).alias("r"))
        .select("r.*")
    )


def stream_apply_cdc(
    updates_stream: DataFrame,
    dataset_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    partition_col: str | None = None,
    delete_col: str | None = None,
    seq_col: str | None = None,
):
    """Start a foreachBatch query merging each micro-batch of changes into
    the parquet dataset at ``dataset_dir``. ``partition_col`` selects the
    partition-pruned apply path (cost per trigger scales with the touched
    partitions, not the table — the only shape that holds when the feed
    touches one day of a years-deep table); ``seq_col`` orders intra-batch
    changes per key. Returns the started StreamingQuery."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        changes = collapse_changes(batch_df, key_cols, seq_col)
        if seq_col is not None:
            changes = changes.drop(seq_col)
        if partition_col is not None:
            upsert_partitioned(
                spark, dataset_dir, changes, key_cols, partition_col, delete_col
            )
        else:
            upsert_parquet(spark, dataset_dir, changes, key_cols, delete_col)

    return _start_available_now(updates_stream, _apply, checkpoint_dir)
