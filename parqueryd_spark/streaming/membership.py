"""Streaming decontamination against a published Bloom filter: each
micro-batch of documents is screened by the one-row bloom (pure JVM bit
probes, operators/membership.py), and only the maybe-fraction is verified
against the real benchmark key set — the streaming face of
``bloom_anti_join``.

Why this shape at scale: the benchmark table may be millions of keys — too
big to re-broadcast raw per trigger — but its bloom is a kilobytes-to-
megabytes parquet row read once per batch. A batch with NO bloom hits (the
common case for clean streams) never touches the benchmark table at all; a
batch with hits probes it with a semi join whose build side is the tiny
maybe-key set, so the benchmark is scanned but never shuffled. Output lands
through ``sources/sinks.write_batch`` (overwrite-on-replay, the same
at-least-once contract as streaming/dedup.py), so crash-recovery replays
cannot duplicate clean rows.

The result is EXACT (equals batch ``NOT IN`` semantics): the bloom has no
false negatives, and every maybe-row is verified against the true key set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parqueryd_spark.operators.membership import (
    bloom_build,
    bloom_params,
    with_bloom_flag,
)
from parqueryd_spark.sources.parquet import read_resolved
from parqueryd_spark.sources.sinks import _start_available_now, write_batch


def publish_bloom(
    bench: DataFrame,
    key_col: str,
    bloom_dir: str,
    *,
    fpp: float = 0.01,
    expected_items: int | None = None,
) -> None:
    """Build the bloom over the benchmark's distinct keys and persist it as a
    one-row parquet dataset — the filter is plain data, shareable by every
    batch and streaming job (and mergeable across increments with
    bloom_merge)."""
    keys = bench.select(key_col).distinct()
    n = expected_items if expected_items is not None else keys.count()
    m, k = bloom_params(max(n, 1), fpp)
    bloom_build(keys, key_col, num_bits=m, num_hashes=k).write.mode(
        "overwrite"
    ).parquet(bloom_dir)


def stream_decontaminate(
    doc_stream: DataFrame,
    bloom_dir: str,
    bench_parquet: str,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str = "text",
):
    """Start an availableNow foreachBatch query writing the clean rows of
    each micro-batch to ``out_dir/batch=<id>``. Returns the started
    StreamingQuery (callers ``awaitTermination()``)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bloom = read_resolved(spark, [bloom_dir])
        maybe_keys = (
            with_bloom_flag(batch_df.select(key_col), key_col, bloom, "__maybe")
            .filter(F.col("__maybe"))
            .select(key_col)
            .distinct()
        )
        if maybe_keys.isEmpty():
            clean = batch_df
        else:
            # benchmark ⋉ maybe: build side is the tiny maybe set, so the
            # benchmark table is scanned (once, this batch only) but never
            # shuffled; the verified contaminated set is then broadcast into
            # the final anti join.
            contaminated = (
                read_resolved(spark, [bench_parquet])
                .select(key_col)
                .join(maybe_keys, key_col, "left_semi")
                .distinct()
            )
            clean = batch_df.join(contaminated, key_col, "left_anti")
        write_batch(clean, out_dir, batch_id)

    return _start_available_now(doc_stream, _process, checkpoint_dir)


def read_clean(spark, out_dir: str) -> DataFrame:
    """Read every batch partition of the decontaminated output."""
    return read_resolved(spark, [out_dir])
