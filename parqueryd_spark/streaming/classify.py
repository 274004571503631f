"""Streaming face of :mod:`parqueryd_spark.operators.classify` — the NB
curation classifier's serve path: train once (batch, one counting scan),
publish the dense model table atomically (sources/sinks.atomic_publish, the
same frozen-model contract as the published LM / BM25 / ANN indexes), then
classify every incoming micro-batch against the FROZEN model. Scoring is
per-document (no cross-document state), so per-batch outputs are
batch-equivalent to one-shot scoring row-for-row. Maintained NB counts and
per-batch outputs are batch state (``sources/sinks.write_batch``,
``read_batches``, ``compact_batches``), whose replayed batches overwrite
themselves; the feature-hash parameters live in a ``_meta`` sidecar read with
``sinks.read_meta`` — the stream_score_documents contract, applied to
classification."""

from __future__ import annotations

from pyspark.sql import DataFrame

from parqueryd_spark.sources.sinks import (
    _start_available_now,
    compact_batches,
    read_batches,
    read_meta,
    write_batch,
    write_meta,
)


def _stored_meta(spark, nb_dir: str) -> tuple[int, str]:
    """(n_buckets, salt) from the store's ``_meta``; raises when the store
    has none (nothing maintained yet)."""
    meta = read_meta(spark, nb_dir)
    if meta is None:
        raise ValueError(f"NB store at {nb_dir} has no _meta — nothing maintained yet?")
    return int(meta["n_buckets"]), str(meta["salt"])


def stream_maintain_nb(
    doc_stream: DataFrame,
    nb_dir: str,
    checkpoint_dir: str,
    label_col: str,
    text_col: str = "text",
    n_buckets: int = 1024,
    salt: str = "nb",
):
    """Continuously-trained NB state: per micro-batch, one sparse
    count-partial table (nb_count_partials) in an idempotent ``batch=<id>``
    partition — the partials ARE the model's sufficient statistics, so
    :func:`read_nb_model` serves the model of EVERYTHING seen by summing
    kilobytes of counts, bit-identical to a one-shot retrain, without ever
    re-reading raw text. (n_buckets, salt) define the feature hash and are
    constant for the STORE's lifetime: they persist in ``<nb_dir>/_meta`` on
    first creation and a restart with different values raises instead of
    silently mixing hash spaces (the stream_maintain_lm meta contract)."""
    from parqueryd_spark.operators.classify import nb_count_partials

    meta_checked = False

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal meta_checked
        if not meta_checked:
            spark = batch_df.sparkSession
            stored = read_meta(spark, nb_dir)
            if stored is not None and tuple(stored) != (int(n_buckets), str(salt)):
                raise ValueError(
                    f"NB store at {nb_dir} was maintained with "
                    f"(n_buckets, salt)={tuple(stored)} but this stream requests "
                    f"({int(n_buckets)}, {salt!r}) — restarting maintenance "
                    "cannot change the feature hash (older batch partitions "
                    "would keep the old bucketing); use a fresh nb_dir"
                )
            if stored is None:
                write_meta(
                    spark.createDataFrame(
                        [(int(n_buckets), str(salt))], "n_buckets int, salt string"
                    ),
                    nb_dir,
                )
            meta_checked = True
        part = nb_count_partials(batch_df, label_col, text_col, n_buckets, salt)
        write_batch(part, nb_dir, batch_id)

    return _start_available_now(doc_stream, _process, checkpoint_dir)


def read_nb_model(spark, nb_dir: str, alpha: float = 1.0) -> DataFrame:
    """The served model over ALL published batches: sum the count partials
    and finalize (nb_model_from_partials) — bit-identical to one-shot
    nb_train over everything the stream has seen. n_buckets comes from the
    store's ``_meta`` (it defines the hash space the counts live in and is
    not a serve-time choice); alpha is a serve-time smoothing knob."""
    from parqueryd_spark.operators.classify import nb_model_from_partials

    n_buckets, _salt = _stored_meta(spark, nb_dir)
    return nb_model_from_partials(read_batches(spark, nb_dir), n_buckets, alpha)


def compact_nb_state(spark, nb_dir: str) -> int:
    """Fold accumulated per-batch NB count partitions into one generation
    (``sinks.compact_batches``) — the count-table compaction contract
    (streaming/lm.py compact_lm_state) for the classifier's sufficient
    statistics. Partials are integer counts per (label, bucket) — token
    counts at bucket >= 0, per-class document counts at the bucket = -1
    marker — and both kinds merge by plain addition (the exact fold nb_model_from_partials performs
    on every serve), so the compacted table finalizes to a bit-identical
    model while state shrinks from batches x sparse-rows to the global
    sparse table (<= classes x (n_buckets + 1) rows). The ``_meta``
    (n_buckets, salt) sidecar rides inside the swapped-in generation — no
    reader window ever sees counts detached from their feature-hash
    parameters."""
    from pyspark.sql import functions as F

    _stored_meta(spark, nb_dir)
    return compact_batches(
        spark,
        nb_dir,
        lambda parts: parts.groupBy("label", "bucket").agg(F.sum("c").cast("long").alias("c")),
    )


def stream_classify_documents(
    doc_stream: DataFrame,
    model: DataFrame,
    scores_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    salt: str = "nb",
):
    """Classify an incoming document stream against a frozen NB model
    (the dense (label, bucket, logp, logprior) table from
    operators/classify.nb_train, typically read back from an
    atomic_publish'd path), landing (id, label, score) per batch in
    idempotent ``batch=<id>`` partitions. ``n_buckets``/``salt`` must match
    the values the model was trained with — they define the feature hash."""
    from parqueryd_spark.operators.classify import nb_score

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = nb_score(batch_df, model, id_col, text_col, n_buckets, salt)
        write_batch(out, scores_dir, batch_id)

    return _start_available_now(doc_stream, _process, checkpoint_dir)
