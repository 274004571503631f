"""Streaming ingest that keeps the zone-map skipping manifest FRESH: each
micro-batch lands as an idempotent ``batch=<id>`` partition and the published
manifest is incrementally refreshed in the same foreachBatch — so the
serve-path pruned scans (``sources/manifest.py:scan_pruned`` over a persisted
manifest) never go stale under continuous ingest.

Why this shape at scale: a 100 TB dataset under continuous ingest adds a few
files per trigger; ``refresh_manifest`` footer-sweeps ONLY those (O(new
files), never the standing corpus) and drops rows for files a replayed batch
overwrote. The manifest republishes through the same write-then-swap pattern
the data uses, so readers either see the previous complete generation or the
new one — and even a reader racing a swap stays CORRECT, because the
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

from parqueryd_spark.sources.parquet import read_resolved
from parqueryd_spark.sources.sinks import _start_available_now, write_batch


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

    def _swap_in(mf: DataFrame, base_dir: str, batch_id: int) -> None:
        # write-then-swap: stage the new generation, then replace — readers
        # hold the old generation's file handles, and a pruned read mid-swap
        # scans whatever live files the manifest it holds doesn't cover
        import shutil

        live = os.path.join(base_dir, "live")
        stage = os.path.join(base_dir, f"stage-{batch_id}")
        mf.write.mode("overwrite").parquet(stage)
        old = os.path.join(base_dir, f"old-{batch_id}")
        if os.path.isdir(live):
            os.replace(live, old)
        os.replace(stage, live)
        if os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        write_batch(batch_df, data_dir, batch_id)
        live = os.path.join(manifest_dir, "live")
        if os.path.isdir(live):
            mf = refresh_manifest(spark, data_dir, read_resolved(spark, [live]), columns)
        else:
            mf = build_manifest(spark, data_dir, columns)
        _swap_in(mf, manifest_dir, batch_id)
        for col in bloom_cols or []:
            bdir = os.path.join(manifest_dir, f"bloom={col}")
            blive = os.path.join(bdir, "live")
            if os.path.isdir(blive):
                bm = refresh_bloom_manifest(spark, data_dir, col, read_resolved(spark, [blive]))
            else:
                bm = bloom_manifest(spark, data_dir, col, fpp=bloom_fpp)
            _swap_in(bm, bdir, batch_id)

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
    import glob

    from parqueryd_spark.sources.manifest import scan_pruned

    blooms = {}
    for bdir in glob.glob(os.path.join(manifest_dir, "bloom=*")):
        blive = os.path.join(bdir, "live")
        if os.path.isdir(blive):
            col = os.path.basename(bdir).split("=", 1)[1]
            blooms[col] = read_resolved(spark, [blive])
    return scan_pruned(
        spark,
        data_dir,
        where_terms,
        manifest=read_resolved(spark, [os.path.join(manifest_dir, "live")]),
        select=select,
        bloom_manifests=blooms or None,
    )
