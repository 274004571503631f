"""Streaming data-quality monitoring: every micro-batch is scored against a
declarative check list (operators/quality.py) and the per-batch report is
appended to a parquet metrics dataset — the observability loop that catches a
broken upstream feed (sudden nulls, duplicate keys, out-of-range values)
before it lands in the serving tables.

Per-batch results land through ``sources/sinks.write_batch`` (the
idempotent-replay pattern shared with streaming/dedup and streaming/rollup),
so an at-least-once foreachBatch replay rewrites its own partition instead
of double-reporting. The metrics dataset is tiny — one row
per check per trigger — and reads as a time series of feed health.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parqueryd_spark.operators.quality import quality_report
from parqueryd_spark.sources.parquet import read_resolved
from parqueryd_spark.sources.sinks import _start_available_now, write_batch


def stream_quality_monitor(
    stream_df: DataFrame,
    metrics_dir: str,
    checkpoint_dir: str,
    checks_fn: Callable[[DataFrame], list[DataFrame]],
    fail_fast: bool = False,
):
    """Start a foreachBatch query writing each micro-batch's quality report
    to ``metrics_dir``. ``checks_fn`` maps the batch to its check list (the
    ``quality_report`` inputs — uniqueness, nulls, ranges, foreign keys
    against reference tables, ...). With ``fail_fast`` the stream STOPS on
    the first failing batch (the report is still written first, so the
    failure is diagnosable) — the circuit-breaker mode for feeds where bad
    data must not advance the checkpoint. Returns the started query."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        rep = quality_report(checks_fn(batch_df)).withColumn(
            "n_batch_rows", F.lit(batch_df.count())
        )
        write_batch(rep, metrics_dir, batch_id)
        if fail_fast:
            failed = [r.check for r in rep.collect() if not r.passed]
            if failed:
                raise RuntimeError(
                    f"quality gate failed on batch {batch_id}: {failed}"
                )

    return _start_available_now(stream_df, _process, checkpoint_dir)


def read_quality_metrics(spark, metrics_dir: str) -> DataFrame:
    """The accumulated per-batch check history: (check, violations, passed,
    n_batch_rows, batch)."""
    return read_resolved(spark, [metrics_dir])


def stream_flag_outliers(
    event_stream: DataFrame,
    baselines: DataFrame,
    flagged_dir: str,
    checkpoint_dir: str,
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    threshold: float = 3.5,
):
    """Streaming anomaly flagging against FROZEN robust baselines
    (operators/analytics.py:mad_baselines computed on a trusted reference
    window): each micro-batch is scored with the stateless
    flag_with_baselines join — the frozen-model pattern of streaming/lm.py
    and streaming/embed.py, and the property that matters for monitoring:
    a burst of anomalies cannot drag the yardstick it is judged against.
    Flagged batches land in idempotent ``batch=<id>`` partitions;
    batch-equivalence to the batch operator is row-for-row."""
    from parqueryd_spark.operators.analytics import flag_with_baselines

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = flag_with_baselines(
            batch_df, baselines, list(keys), value_col, threshold
        )
        write_batch(out, flagged_dir, batch_id)

    return _start_available_now(event_stream, _process, checkpoint_dir)


def stream_calibrate_scores(
    new_stream: DataFrame,
    ref_cdf: DataFrame,
    scores_dir: str,
    checkpoint_dir: str,
    group_col: str,
    score_col: str,
    id_col: str,
):
    """Serve the FROZEN quality gate over a stream: each micro-batch is
    scored against a published per-group CDF (operators/quality.py:
    calibration_cdf) by the same step lookup the batch operator uses —
    batch-equivalent row-for-row — landing (id, group, score, calib) in
    idempotent ``batch=<id>`` partitions. This is the production shape of
    pipeline_calibration_serve: thresholds stay fixed at the published
    reference distribution no matter how skewed an arriving batch is; the
    gate only moves when maintenance republishes the CDF (the frozen-model
    contract shared with stream_score_documents / stream_flag_outliers)."""
    from parqueryd_spark.operators.quality import calibration_score

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = calibration_score(ref_cdf, batch_df, group_col, score_col, id_col)
        write_batch(out, scores_dir, batch_id)

    return _start_available_now(new_stream, _process, checkpoint_dir)
