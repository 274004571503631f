"""Streaming NEAR-duplicate filtering: each micro-batch of documents is
deduped against a parquet-published minhash index (plus itself), and the
surviving docs' index rows are added for the next batch — the streaming face
of :func:`parqueryd_spark.operators.dedup.incremental_minhash_pairs`.

Why foreachBatch instead of stateful operators: the dedup "state" here is the
corpus signature index, which must (a) outlive the stream, (b) be shared with
batch pipelines, and (c) scale past executor state stores. A parquet dataset
partitioned by batch id gives all three: per-batch output lands through
``sources/sinks.write_batch``, so a replayed micro-batch (at-least-once
foreachBatch) rewrites its own partition instead of duplicating rows —
idempotent, hence effectively exactly-once.

Scale posture: per trigger the work is |batch| signature builds + a
band-bucket join against the stored index — the index is never re-shingled,
and the join reads only matching band buckets. Exact duplicates of docs seen
in PRIOR batches are dropped too (Jaccard 1.0 >= any threshold).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parqueryd_spark.operators.dedup import incremental_minhash_pairs, minhash_index
from parqueryd_spark.sources.parquet import read_resolved
from parqueryd_spark.sources.sinks import (
    _start_available_now,
    batch_ids,
    compact_batches,
    write_batch,
)


def stream_near_dedup(
    doc_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
):
    """Start an availableNow foreachBatch query that filters each micro-batch
    of documents against the published index at ``index_dir`` and grows the
    index with the survivors. Returns the started StreamingQuery (callers
    ``awaitTermination()``).

    Drop policy per batch: a new doc near-duplicating an INDEXED doc is
    dropped (the indexed copy already serves); between two new dups the
    larger id is dropped (keep-smallest, matching the batch operators).
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new_idx = minhash_index(
            batch_df.select(id_col, text_col), id_col, text_col, k, num_hashes
        ).persist()
        try:
            # Probe through Hadoop FileSystem so the index is found on any
            # scheme Spark can read (an os.path probe on s3a:// is always
            # False, which would silently dedup against an empty corpus —
            # a correctness failure, not a crash). Exclude this batch's OWN
            # partition from the corpus read: on crash-recovery replay a
            # half-written batch=<id> dir may already exist, and listing it
            # into `corpus` while lazily overwriting it below would delete
            # the files before the scan tasks read them (FileNotFound on
            # every restart). The partition filter prunes those files out.
            if batch_ids(spark, index_dir):
                corpus = (
                    read_resolved(spark, [index_dir])
                    .where(F.col("batch") != F.lit(batch_id))
                    .select("doc", "sh", "sig")
                )
            else:
                corpus = spark.createDataFrame([], new_idx.schema)
            pairs = incremental_minhash_pairs(
                new_idx, corpus, num_hashes, bands, threshold
            )
            new_ids = new_idx.select(F.col("doc").alias("nid"))
            flagged = (
                pairs.join(
                    new_ids.select(F.col("nid").alias("id_a"), F.lit(1).alias("_an")),
                    "id_a",
                    "left",
                ).join(
                    new_ids.select(F.col("nid").alias("id_b"), F.lit(1).alias("_bn")),
                    "id_b",
                    "left",
                )
            )
            drop = flagged.select(
                F.when(F.col("_an").isNull(), F.col("id_b"))  # only b is new
                .when(F.col("_bn").isNull(), F.col("id_a"))  # only a is new
                .otherwise(F.col("id_b"))  # both new: drop the larger
                .alias("doc")
            ).distinct()
            kept = new_idx.join(drop, "doc", "left_anti")
            write_batch(kept, index_dir, batch_id)
        finally:
            new_idx.unpersist()

    return _start_available_now(doc_stream, _process, checkpoint_dir)


def read_index(spark, index_dir: str) -> DataFrame:
    """The published index as one DataFrame (doc, sh, sig) — what batch
    pipelines join against, and what a compaction pass rewrites."""
    return read_resolved(spark, [index_dir]).select("doc", "sh", "sig")


def compact_index(spark, index_dir: str, target_partitions: int = 8) -> int:
    """Fold the accumulated ``batch=<id>`` partitions into one generation
    (``sinks.compact_batches``). Long-running streams add a partition
    directory per micro-batch; left alone, ``read_index`` scan planning
    degrades into file listing. The kept hive layout means the stream's
    index-exists probe and per-batch overwrite contract still hold. Returns
    the compacted row count."""
    return compact_batches(
        spark, index_dir, lambda idx: idx.select("doc", "sh", "sig").repartition(target_partitions)
    )


def stream_substring_dedup(
    doc_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 16,
):
    """Streaming SUB-document dedup — the streaming face of
    :func:`parqueryd_spark.operators.dedup.substring_dedup_increment`: per
    micro-batch, every document is rebuilt with the tokens covered by
    already-seen (standing-index or in-batch duplicated) >= ``min_tokens``-
    token windows removed, the rebuilt batch lands in ``out_dir/batch=<id>``
    and the batch's NEW window digests append to the index at ``index_dir``
    — both idempotent ``batch=<id>`` overwrites (replays rewrite themselves),
    and historical text is never re-read (the digest index IS the state,
    same argument as the minhash face above).

    Batch-by-batch output equals the one-shot ``substring_dedup`` over the
    concatenated corpus restricted to each batch's docs, provided ingest
    order matches id order (pytest-pinned)."""
    from parqueryd_spark.operators.dedup import (
        apply_token_droplist,
        substring_dedup_increment,
        substring_index,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.select(id_col, text_col)
        if batch_ids(spark, index_dir):
            # exclude this batch's own (possibly half-written, crash-replay)
            # partition from the standing read — same rationale as above
            raw = read_resolved(spark, [index_dir]).where(F.col("batch") != F.lit(batch_id))
            # keep the recorded window length so a restart at the wrong
            # min_tokens raises instead of silently matching nothing
            cols = ["digest"] + (["n"] if "n" in raw.columns else [])
            standing = raw.select(*cols)
        else:
            standing = spark.createDataFrame([], "digest binary")
        drops = substring_dedup_increment(
            docs, standing, id_col, text_col, min_tokens, mode="droplist"
        )
        rebuilt = apply_token_droplist(docs, drops, id_col, text_col)
        write_batch(rebuilt, out_dir, batch_id)
        new_digests = substring_index(docs, id_col, text_col, min_tokens).join(
            standing, "digest", "left_anti"
        )
        write_batch(new_digests, index_dir, batch_id)

    return _start_available_now(doc_stream, _process, checkpoint_dir)


def stream_substring_decontaminate(
    doc_stream: DataFrame,
    contamination_index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 16,
):
    """Streaming benchmark decontamination at SUBSTRING grain (VERDICT r11
    item #7) — the streaming face of
    :func:`parqueryd_spark.operators.dedup.substring_decontaminate`: each
    micro-batch of training documents is scrubbed against the FROZEN
    contamination index (the benchmark set's published substring_index at
    ``contamination_index_dir``) and every affected document lands rebuilt in
    idempotent ``out_dir/batch=<id>`` partitions. Stateless per batch — the
    benchmark index is frozen-model state exactly like streaming/lm.py's
    scorer (it only moves when the benchmark set is republished), so batch N
    of the stream equals substring_decontaminate on batch N's docs
    (pytest-pinned), with no cross-batch coupling at all. Benchmark text is
    never read here — only its digests."""
    from parqueryd_spark.operators.dedup import substring_decontaminate

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        taint = read_resolved(spark, [contamination_index_dir])
        out = substring_decontaminate(
            batch_df.select(id_col, text_col), taint, id_col, text_col, min_tokens
        )
        write_batch(out, out_dir, batch_id)

    return _start_available_now(doc_stream, _process, checkpoint_dir)
