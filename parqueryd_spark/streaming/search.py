"""Streaming maintenance of the searchable inverted index: each micro-batch
of documents lands its postings and stats partial in their own ``batch=<id>``
partitions of a published text index (operators/text.py:text_index_publish),
so the BM25 serve path (``bm25_from_index``) sees new documents one trigger
after they arrive — the near-real-time-search face of the batch index
lifecycle, structurally the same batch-state pattern as streaming/dedup and
streaming/rollup (``sources/sinks.write_batch`` / ``compact_batches``).

Replay safety: foreachBatch is at-least-once, but a replayed batch id
OVERWRITES its own ``batch=<id>`` partitions (postings and stats alike), so
totals never double-count. Corpus stats are mergeable partials summed at
serve time, which is what makes the maintenance write-only — no
read-modify-rewrite of a stats row, hence nothing to corrupt mid-crash.

Batch-id spaces are disjoint by construction: the stream owns the
NONNEGATIVE ids its checkpoint assigns, manual ``text_index_append`` counts
NEGATIVE generations down from the published ``batch=-1`` — so appends and
stream micro-batches can never overwrite each other on the same index. Run
``compact_text_index`` only between availableNow drains (it folds every
generation into ``batch=-1``; a replay of a pre-compaction micro-batch would
re-add its docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parqueryd_spark.operators.text import _write_index_batch
from parqueryd_spark.sources.parquet import read_resolved
from parqueryd_spark.sources.sinks import _start_available_now, compact_batches


def stream_index_text(
    doc_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Start an availableNow foreachBatch query that indexes each micro-batch
    of documents into the published index at ``index_dir`` (which must exist:
    ``text_index_publish`` an initial corpus first, possibly empty). Returns
    the started StreamingQuery (callers ``awaitTermination()``).

    Precondition (as for text_index_append): incoming doc ids are new to the
    index — dedup upstream (streaming/dedup.stream_near_dedup composes: its
    survivors are exactly the docs worth indexing)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        root = index_dir.rstrip("/")
        n_buckets = read_resolved(spark, [root + "/_stats"]).head()["n_buckets"]
        _write_index_batch(batch_df, root, batch_id, id_col, text_col, n_buckets)

    return _start_available_now(doc_stream, _process, checkpoint_dir)


def compact_text_index(spark, index_dir: str, target_partitions: int = 8) -> int:
    """Fold the accumulated ``batch=<id>`` generations into one generation
    (``sinks.compact_batches``: postings re-bucketed, stats partials summed
    to a single row). Long-running streams add a partition directory per
    micro-batch; left alone, serve-path planning degrades into file
    listing. Returns the compacted posting count."""
    root = index_dir.rstrip("/")
    n_buckets = read_resolved(spark, [root + "/_stats"]).head()["n_buckets"]
    n_postings = compact_batches(
        spark,
        root + "/postings",
        # without the repartition the rewrite keeps the accumulated
        # per-micro-batch file spray — the exact thing compaction exists to fix
        lambda p: p.select("token", "doc", "tf", "dl", "bucket").repartition(
            target_partitions, "bucket"
        ),
        partition_by=["bucket"],
    )
    compact_batches(
        spark,
        root + "/_stats",
        lambda s: s.agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
            F.lit(n_buckets).alias("n_buckets"),
        ),
    )
    return n_postings
