"""Streaming vector ingest: each micro-batch of documents is embedded
(operators/text.py:hash_embed — the training-free feature-hashing embedder)
and appended to a published IVF-SQ index (operators/squant.py), so the ANN
serve path (``ivfsq_search`` over DPP-pruned code partitions) sees new
documents one trigger after they arrive — the vector twin of
streaming/search.py's inverted-index maintenance and streaming/manifest.py's
skipping-layer maintenance.

Why this shape at scale: embedding is a stateless map (one md5 per token),
assignment is one broadcast pass against the index's FROZEN centroids, and
the append lands as its own ``batch=<id>`` partition under
``(batch, centroid_id)`` — cost per trigger is O(batch), never a re-scan,
re-train, or re-cluster of the standing corpus. Searches need no coordination
with ingest: they read whatever batch partitions exist, and dynamic partition
pruning keeps per-query cost ~nprobe/n_centroids of the corpus regardless of
how many batches have accumulated.

Replay safety: a replayed micro-batch id overwrites exactly its own
``batch=<id>`` partition (``sources/sinks.write_batch``), so at-least-once
delivery can't double-insert vectors. Quantizer drift: centroids and the SQ
grid are frozen at publish (out-of-grid vectors saturate soundly); on
distribution drift, rebuild with ``ivfsq_publish`` between availableNow
drains — the same rebuild posture as the IVF/IVF-PQ indexes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from parqueryd_spark.sources.fs import HadoopFS
from parqueryd_spark.sources.parquet import read_resolved
from parqueryd_spark.sources.sinks import _start_available_now, write_batch


def stream_embed_into_ivfsq(
    doc_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 16,
    n_centroids: int = 4,
):
    """Start an availableNow foreachBatch query embedding each micro-batch
    and appending it to the IVF-SQ index at ``index_dir``. If no index exists
    yet, the FIRST batch publishes it (training the SQ grid and taking
    first-K centroids from that batch — both frozen thereafter); later
    batches append against the persisted quantizers. Returns the started
    StreamingQuery (callers ``awaitTermination()``)."""
    from parqueryd_spark.operators.squant import ivfsq_append, ivfsq_publish
    from parqueryd_spark.operators.text import hash_embed

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        emb = hash_embed(batch_df, id_col, text_col, dim=dim).withColumnRenamed(
            id_col, "vec_id"
        )
        if not HadoopFS(spark, index_dir).is_dir(os.path.join(index_dir, "grid")):
            ivfsq_publish(
                spark,
                index_dir,
                emb,
                dim=dim,
                centroids="first_k",
                n_centroids=n_centroids,
                batch=f"stream-{batch_id}",
            )
        else:
            ivfsq_append(spark, index_dir, emb, batch=f"stream-{batch_id}")

    return _start_available_now(doc_stream, _process, checkpoint_dir)


def stream_ann_serve(
    query_stream: DataFrame,
    index_dir: str,
    corpus_path: str,
    out_dir: str,
    checkpoint_dir: str,
    nprobe: int = 4,
    k: int = 5,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Streaming ANN QUERY serving against the frozen published IVF-SQ index
    — the other direction from :func:`stream_embed_into_ivfsq` (which
    maintains the index from a document stream): each micro-batch of query
    VECTORS is answered with the standard serving plan — probe ranking
    against the frozen centroids, DPP-pruned scan of the probed buckets'
    1-byte codes, JVM fold scoring, exact rounded-cosine re-rank of the
    refine*k shortlist against ``corpus_path`` (reads |batch| x refine x k
    full-precision rows, never the corpus) — and the per-query top-k lands
    in an idempotent ``batch=<id>`` partition of ``out_dir``.

    Stateless per batch (the frozen-model pattern of streaming/lm.py's
    scorer): batch N of the stream equals a batch ``ivfsq_search`` over
    batch N's queries (pytest-pinned), replays overwrite themselves, and
    index maintenance needs no coordination — searches see whatever batch
    partitions exist, exactly like the batch serve path."""
    from parqueryd_spark.operators.squant import ivfsq_load, ivfsq_search

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        codes, cents, lo, step = ivfsq_load(spark, index_dir)
        corpus = read_resolved(spark, [corpus_path])
        out = ivfsq_search(
            codes, cents, lo, step, batch_df, corpus=corpus,
            nprobe=nprobe, k=k, refine=refine, id_col=id_col, vec_col=vec_col,
        )
        write_batch(out, out_dir, batch_id)

    return _start_available_now(query_stream, _process, checkpoint_dir)
