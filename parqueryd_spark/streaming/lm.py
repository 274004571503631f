"""Streaming faces of the bigram-LM family (operators/lm.py).

Two directions, mirroring the sketch family's batch/stream symmetry:

- **maintain**: bigram counts are LINEAR (merge = sum matching gram rows),
  so continuous training is batch state (``sources/sinks.write_batch``,
  ``read_batches``, ``compact_batches``): each micro-batch lands its own
  partial count table and the served LM is merge-on-read — ``read_lm`` ≡
  ``lm_train`` over the concatenated corpus, bit-exact, by linearity.
  State per batch is O(distinct grams in the batch).
- **score**: scoring a document stream against a FROZEN LM is stateless
  per-batch relational work (two equi-joins + an aggregation), so the
  streaming scorer is foreachBatch over the identical batch plan — the same
  frozen-model pattern as streaming/embed.py (frozen grid/centroids): the
  model only moves when a maintenance trigger republishes it.

Model parameters travel WITH the state: ``stream_maintain_lm`` persists a
``_meta`` sidecar (k, n) that ``read_lm`` reads back with
``sinks.read_meta`` — maintaining with n=3 then loading can never silently
split grams at the wrong position.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parqueryd_spark.operators.lm import NgramLM, lm_merge, lm_score, ngram_counts
from parqueryd_spark.sources.sinks import (
    _start_available_now,
    compact_batches,
    read_batches,
    read_meta,
    write_batch,
    write_meta,
)


def _validate_order(spark, lm_dir: str, n: int) -> None:
    """Full-scan gram-width validation: EVERY stored gram's token count must
    equal ``n`` (min == max == n in one aggregation, not a sampled row) —
    raises on a store at a different or mixed order. A missing or
    batch-less store has nothing to validate."""
    try:
        parts = read_batches(spark, lm_dir)
    except AnalysisException as e:
        cls = e.getCondition() or ""
        if (
            "PATH_NOT_FOUND" in cls
            or "UNABLE_TO_INFER_SCHEMA" in cls
            or "Path does not exist" in str(e)
        ):
            return  # nothing stored yet
        raise
    _check_order(parts, n)


def _check_order(parts: DataFrame, n: int) -> None:
    """Raise unless every gram in ``parts`` has exactly ``n`` tokens."""
    toks = F.size(F.split("gram", " "))
    probe = parts.agg(F.min(toks).alias("lo"), F.max(toks).alias("hi")).collect()[0]
    if probe["lo"] is not None and not (probe["lo"] == probe["hi"] == n):
        raise ValueError(
            f"stored grams have {probe['lo']}..{probe['hi']} tokens but the "
            f"requested order is n={n} — the model was maintained at a "
            "different (or mixed) order"
        )


def stream_maintain_lm(
    doc_stream: DataFrame,
    lm_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    n: int = 2,
    k: float = 0.5,
):
    """Continuously-trained LM state: per micro-batch, one partial
    (gram, c) count table in ``batch=<id>`` (idempotent overwrite). Raw text
    is never re-read at serve time — the partials ARE the model. The (k, n)
    meta rides along in ``<lm_dir>/_meta`` so ``read_lm`` serves the model
    at the order it was maintained with. Restarting maintenance over an
    EXISTING store validates against its recorded (k, n) instead of
    overwriting — different parameters would leave older batch partitions at
    the old order while the meta claims the new one, exactly the silent
    mixed-order store the meta exists to prevent.

    Write-time order enforcement (r15): adopting a PRE-meta store (batches
    present, no ``_meta``) runs the full gram-width validation ONCE, before
    this stream's (k, n) meta is written — so a present ``_meta`` always
    certifies that every batch beneath it was either validated against or
    written at the recorded order, and ``read_lm`` can serve meta-bearing
    stores without re-scanning the count table (guide §2.4: the validation
    moves from every serve to the one maintenance restart that needs it)."""

    meta_checked = False

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal meta_checked
        if not meta_checked:
            # (k, n) are constant for the STORE's lifetime, not just this
            # stream's: honor any existing meta (raise on mismatch), write
            # ours only on first creation
            spark = batch_df.sparkSession
            stored = read_meta(spark, lm_dir)
            if stored is not None and tuple(stored) != (float(k), int(n)):
                raise ValueError(
                    f"LM store at {lm_dir} was maintained with (k, n)={tuple(stored)} "
                    f"but this stream requests ({float(k)}, {int(n)}) — "
                    "restarting maintenance cannot change model parameters "
                    "(older batch partitions would keep the old order); use a "
                    "fresh lm_dir to retrain"
                )
            if stored is None:
                # adopting a pre-meta store: its existing grams must BE at
                # this stream's order before the meta certifies them
                _validate_order(spark, lm_dir, int(n))
                write_meta(
                    spark.createDataFrame([(float(k), int(n))], "k double, n int"), lm_dir
                )
            meta_checked = True
        write_batch(ngram_counts(batch_df, text_col, n), lm_dir, batch_id)

    return _start_available_now(doc_stream, _process, checkpoint_dir)


def read_lm(
    spark,
    lm_dir: str,
    k: float | None = None,
    n: int | None = None,
    validate: bool | None = None,
) -> NgramLM:
    """The served LM over ALL published batches: merge-on-read of the count
    partials (sum per gram — linear, so this equals one-shot ``lm_train``
    over the full corpus bit-exactly).

    (k, n) default to the persisted ``_meta`` written by
    :func:`stream_maintain_lm` (only a genuinely missing ``_meta`` — the
    documented pre-meta layout — falls back to the 0.5/2 defaults; corrupt
    meta or IO errors propagate); explicit arguments override.

    Order validation is WRITE-TIME-ENFORCED for meta-bearing stores (r15,
    guide §2.4 — the serve path sheds a full count-table scan per call): a
    present ``_meta`` certifies every batch was written at (or validated
    against) the recorded order by :func:`stream_maintain_lm`, so when the
    effective n equals the stored one the serve trusts it and runs ZERO
    jobs beyond the 1-row meta read before scoring. The full gram-width
    scan (min == max == n over EVERY stored gram, never a sampled row)
    still runs whenever that certificate doesn't apply: a pre-meta store,
    or an explicit ``n`` overriding the recorded order. ``validate=True``
    forces the scan regardless (e.g. serving a store whose files were
    manipulated outside the maintenance contract); ``validate=False``
    skips it even for pre-meta stores (caller-asserted order)."""
    stored = read_meta(spark, lm_dir)
    k = k if k is not None else (stored["k"] if stored is not None else 0.5)
    n = n if n is not None else (stored["n"] if stored is not None else 2)
    parts = read_batches(spark, lm_dir)
    if validate is None:
        validate = stored is None or int(n) != stored["n"]
    if validate:
        _check_order(parts, n)
    return lm_merge([parts], k, n)


def compact_lm_state(spark, lm_dir: str) -> int:
    """Fold accumulated per-batch LM count partitions into one generation
    (``sinks.compact_batches``, which carries the ``_meta`` (k, n) sidecar
    inside the swapped-in generation). N-gram counts are LINEAR (merge = sum
    matching gram rows — the exact fold :func:`read_lm` performs on every
    serve), so the compacted (gram, c) table is bit-identical model state:
    scores are unchanged while the store shrinks from batches x
    distinct-grams-per-batch rows to global distinct grams, and serve-time
    scan planning stops paying a file listing that grows with maintenance
    age (~1e5 partitions after a year of 5-minute triggers)."""
    return compact_batches(
        spark, lm_dir, lambda parts: parts.groupBy("gram").agg(F.sum("c").cast("long").alias("c"))
    )


def stream_score_documents(
    doc_stream: DataFrame,
    lm: NgramLM,
    scores_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    smoothing: str = "add_k",
):
    """Score an incoming document stream against a frozen LM, landing
    (id, n_bigrams, avg_nll, ppl) per batch in idempotent ``batch=<id>``
    partitions — batch-equivalent to the batch scorer row-for-row.
    ``smoothing`` selects the scorer over the SAME frozen count table:
    ``"add_k"`` (operators/lm.lm_score) or ``"kn"`` (operators/lm.kn_score,
    interpolated Kneser–Ney — any order n >= 2 since r14)."""
    if smoothing not in ("add_k", "kn"):
        raise ValueError(f"smoothing must be 'add_k' or 'kn', got {smoothing!r}")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if smoothing == "kn":
            from parqueryd_spark.operators.lm import kn_score

            out = kn_score(batch_df, id_col, lm, text_col)
        else:
            out = lm_score(batch_df, id_col, lm, text_col)
        write_batch(out, scores_dir, batch_id)

    return _start_available_now(doc_stream, _process, checkpoint_dir)
