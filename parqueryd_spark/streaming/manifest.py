"""Streaming ingest that keeps the zone-map skipping manifest FRESH: each
micro-batch lands as an idempotent ``batch=<id>`` partition and the published
manifest is incrementally refreshed in the same foreachBatch — so the
serve-path pruned scans (``sources/manifest.py:scan_pruned`` over a persisted
manifest) never go stale under continuous ingest.

Why this shape at scale: a 100 TB dataset under continuous ingest adds a few
files per trigger; ``refresh_manifest`` footer-sweeps ONLY those (O(new
files), never the standing corpus) and drops rows for files a replayed batch
overwrote. The manifest republishes through ``sources/sinks.atomic_publish``,
the write-then-swap every published dataset uses: the new generation is
written in full before the swap, so readers see the previous complete
generation or the new one, and the refresh can read the generation it
replaces. Even a reader racing a swap stays CORRECT, because the
pruned reads (``scan_pruned``/``count_pruned``/``minmax_pruned``) take
their file set from the live listing and use the manifest only for stats:
a live file it doesn't cover is scanned, a row for a vanished file is
ignored (a stale manifest costs speed, never rows).

Replay safety: data lands through ``sources/sinks.write_batch`` into its own
``batch=<id>`` directory (the at-least-once contract every streaming sink here
follows), and
the refresh reconciles the manifest against the ACTUAL file listing — a
replayed batch's rewritten part-files displace their predecessors' rows
automatically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from parqueryd_spark.sources.fs import HadoopFS
from parqueryd_spark.sources.parquet import read_resolved
from parqueryd_spark.sources.sinks import _start_available_now, atomic_publish, write_batch


def stream_ingest_with_manifest(
    stream: DataFrame,
    data_dir: str,
    manifest_dir: str,
    checkpoint_dir: str,
    columns: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_fpp: float = 0.01,
):
    """Start an availableNow foreachBatch query appending each micro-batch to
    ``data_dir/batch=<id>`` and republishing the refreshed zone-map manifest
    to ``manifest_dir/live`` — plus, for each of ``bloom_cols``, a per-file
    Bloom manifest at ``manifest_dir/bloom=<col>/live`` (point-lookup
    skipping on unclustered keys; refreshes reuse the FIRST generation's
    (n_bits, n_hashes) so every file probes identically). Returns the started
    StreamingQuery (callers ``awaitTermination()``)."""
    from parqueryd_spark.sources.manifest import (
        bloom_manifest,
        build_manifest,
        refresh_bloom_manifest,
        refresh_manifest,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        write_batch(batch_df, data_dir, batch_id)
        fs = HadoopFS(spark, manifest_dir)
        live = os.path.join(manifest_dir, "live")
        if fs.is_dir(live):
            mf = refresh_manifest(spark, data_dir, read_resolved(spark, [live]), columns)
        else:
            mf = build_manifest(spark, data_dir, columns)
        atomic_publish(mf, live)
        for col in bloom_cols or []:
            blive = os.path.join(manifest_dir, f"bloom={col}", "live")
            if fs.is_dir(blive):
                bm = refresh_bloom_manifest(spark, data_dir, col, read_resolved(spark, [blive]))
            else:
                bm = bloom_manifest(spark, data_dir, col, fpp=bloom_fpp)
            atomic_publish(bm, blive)

    return _start_available_now(stream, _process, checkpoint_dir)


def read_pruned(
    spark: SparkSession,
    data_dir: str,
    manifest_dir: str,
    where_terms,
    select=None,
) -> DataFrame:
    """Serve-path read over the streaming-maintained dataset: the published
    manifest prunes files at plan time, the exact compiled filter runs on the
    survivors — identical results to a full scan, fresh as of the last
    completed trigger. Any bloom manifests the ingest stream maintains
    (``manifest_dir/bloom=<col>/live``) stack automatically: point terms on
    those columns skip files both layers agree can't match."""
    from parqueryd_spark.sources.manifest import scan_pruned

    fs = HadoopFS(spark, manifest_dir)
    blooms = {}
    for name in fs.listdir(manifest_dir) if fs.is_dir(manifest_dir) else []:
        blive = os.path.join(manifest_dir, name, "live")
        if name.startswith("bloom=") and fs.is_dir(blive):
            blooms[name.split("=", 1)[1]] = read_resolved(spark, [blive])
    return scan_pruned(
        spark,
        data_dir,
        where_terms,
        manifest=read_resolved(spark, [os.path.join(manifest_dir, "live")]),
        select=select,
        bloom_manifests=blooms or None,
    )
