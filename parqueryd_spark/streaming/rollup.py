"""Continuously-maintained rollups: the streaming face of
:mod:`parqueryd_spark.operators.rollup`.

Each micro-batch lands its mergeable partial aggregates (or sketch
partials) through ``sources/sinks.write_batch``; readers merge-on-read over
``sinks.read_batches`` (the rollup is grains × keys rows, so folding all
batches at query time is a small shuffle), and the ``compact_*`` functions
fold history into one generation through ``sinks.compact_batches`` so scan
planning never degrades into file listing. Those helpers own the state
format and its replay contract.

Versus ``writeStream.outputMode("complete")`` over a windowed aggregate:
complete mode re-emits (and the state store retains) EVERY window ever seen —
unbounded for an ever-growing time domain. Partial-state partitions keep the
stream's own state bounded to the trigger (the groupBy is per-batch, not
global), late data just lands in a later partition and merges in — no
watermark-forced finality, arbitrarily old corrections stay mergeable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parqueryd_spark.operators.rollup import finalize_rollup, merge_rollups, rollup_partials
from parqueryd_spark.sources.sinks import (
    _start_available_now,
    compact_batches,
    read_batches,
    write_batch,
)


def stream_maintain_rollup(
    event_stream: DataFrame,
    rollup_dir: str,
    checkpoint_dir: str,
    grain: str = "1 hour",
    keys: tuple[str, ...] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
):
    """Start an availableNow foreachBatch query appending each micro-batch's
    partial aggregates as a ``batch=<id>`` partition under ``rollup_dir``.
    Returns the started StreamingQuery (callers ``awaitTermination()``)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        part = rollup_partials(batch_df, grain, keys, ts_col, value_col)
        write_batch(part, rollup_dir, batch_id)

    return _start_available_now(event_stream, _process, checkpoint_dir)


def read_rollup(
    spark, rollup_dir: str, keys: tuple[str, ...] = ("event_type",)
) -> DataFrame:
    """The maintained rollup, finalized: merge-on-read over all published
    ``batch=<id>`` partitions (one small shuffle over grains × keys rows)."""
    parts = read_batches(spark, rollup_dir)
    return finalize_rollup(merge_rollups(parts, keys=keys), keys=keys)


def compact_rollup(
    spark, rollup_dir: str, keys: tuple[str, ...] = ("event_type",), target_partitions: int = 4
) -> int:
    """Fold accumulated per-batch partitions into one generation
    (``sinks.compact_batches``). The stored form stays PARTIAL (not
    finalized) so merging never stops being possible. Returns the compacted
    row count."""
    return compact_batches(
        spark,
        rollup_dir,
        lambda parts: merge_rollups(parts, keys=keys).repartition(target_partitions),
    )


def stream_maintain_histogram(
    event_stream: DataFrame,
    hist_dir: str,
    checkpoint_dir: str,
    lo: float,
    hi: float,
    bins: int = 64,
    grain: str = "1 hour",
    keys: tuple[str, ...] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
):
    """Continuously-maintained quantile state: each micro-batch's histogram
    partials (operators/rollup.histogram_partials) land in an idempotent
    ``batch=<id>`` partition — the same contract as stream_maintain_rollup,
    extended to the quantile measures. State per batch is at most
    bins x grains x keys rows; late data merges in bin-by-bin."""
    from parqueryd_spark.operators.rollup import histogram_partials

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        part = histogram_partials(batch_df, lo, hi, bins, grain, keys, ts_col, value_col)
        write_batch(part, hist_dir, batch_id)

    return _start_available_now(event_stream, _process, checkpoint_dir)


def read_histogram_quantiles(
    spark,
    hist_dir: str,
    probs: list[float],
    lo: float,
    hi: float,
    bins: int = 64,
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Quantile estimates over ALL published batches: merge-on-read of the
    bin counts, then the cumulative walk (operators/rollup.
    histogram_quantiles) — raw events are never touched."""
    from parqueryd_spark.operators.rollup import histogram_quantiles, merge_histograms

    parts = read_batches(spark, hist_dir)
    return histogram_quantiles(merge_histograms(parts, keys=keys), probs, lo, hi, bins, keys)


def stream_maintain_hll(
    event_stream: DataFrame,
    hll_dir: str,
    checkpoint_dir: str,
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "user_id",
    lgk: int = 14,
):
    """Continuously-maintained DISTINCT-count state — the streaming face of
    operators/sketches.hll_rollup, closing the one aggregate the
    sum/count/min/max partials above can't merge. Each micro-batch sketches
    its own rows into one Datasketches HLL binary per key (kilobytes) and
    lands it in an idempotent ``batch=<id>`` partition — the identical
    contract as stream_maintain_rollup: replayed batches overwrite their own
    partition (effectively-exactly-once), late data just lands in a later
    partition, and because HLL union is register-wise max, DUPLICATED values
    across batches never double-count — distinct-ness is global by
    construction, no dedup state store needed. State per batch is keys x
    ~2^lgk bytes regardless of row volume."""
    from parqueryd_spark.operators.sketches import hll_rollup

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        part = hll_rollup(batch_df, list(keys), value_col, lgk)
        write_batch(part, hll_dir, batch_id)

    return _start_available_now(event_stream, _process, checkpoint_dir)


def read_hll_distinct(
    spark, hll_dir: str, keys: tuple[str, ...] = ("event_type",)
) -> DataFrame:
    """Distinct-count estimates over ALL published batches: merge-on-read of
    the kilobyte sketches (hll_union_agg, register-wise max), never touching
    raw values. Returns (keys..., n_rows, n_distinct)."""
    from parqueryd_spark.operators.sketches import hll_estimate, hll_rollup_merge

    parts = read_batches(spark, hll_dir)
    return hll_estimate(hll_rollup_merge([parts], list(keys)))


def stream_maintain_kmv(
    event_stream: DataFrame,
    kmv_dir: str,
    checkpoint_dir: str,
    keys: tuple[str, ...] = ("event_type",),
    value_col: str = "user_id",
    k: int = 1024,
):
    """Continuously-maintained SET-OPERATION state — the streaming face of
    operators/sketches.kmv_sketch, extending stream_maintain_hll from
    union-only distinct counts to intersections/overlaps. Each micro-batch
    sketches its rows into one k-minimum-values array per key (<= 8k bytes)
    in an idempotent ``batch=<id>`` partition; because KMV union is
    "k smallest of the combined distinct hashes", values repeated across
    batches collapse at merge time — global distinct-ness with no dedup
    state store, same as the HLL twin, but the merged state can also
    intersect across keys (read_kmv_overlap)."""
    from parqueryd_spark.operators.sketches import kmv_sketch

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        part = kmv_sketch(batch_df, list(keys), value_col, k)
        write_batch(part, kmv_dir, batch_id)

    return _start_available_now(event_stream, _process, checkpoint_dir)


def read_kmv_distinct(
    spark, kmv_dir: str, keys: tuple[str, ...] = ("event_type",), k: int = 1024
) -> DataFrame:
    """Distinct-count estimates over ALL published batches: merge-on-read of
    the k-value arrays, never touching raw values."""
    from parqueryd_spark.operators.sketches import kmv_distinct, kmv_merge

    parts = read_batches(spark, kmv_dir)
    return kmv_distinct(kmv_merge([parts], list(keys), k), k)


def read_kmv_overlap(
    spark, kmv_dir: str, key: str = "event_type", k: int = 1024
) -> DataFrame:
    """Pairwise overlap estimates across key values from the published state:
    merge each key's batches, then estimate |A ∩ B| / |A ∪ B| per pair from
    the merged sketches — the query HLL state cannot answer."""
    from pyspark.sql import functions as F

    from parqueryd_spark.operators.sketches import kmv_merge, kmv_set_estimates

    parts = read_batches(spark, kmv_dir)
    merged = kmv_merge([parts], [key], k)
    a = merged.select(F.col(key).alias("t1"), F.col("kmv").alias("a_kmv"))
    b = merged.select(F.col(key).alias("t2"), F.col("kmv").alias("b_kmv"))
    i_est, u_est = kmv_set_estimates("a", "b", k)
    return a.join(b, F.col("t1") < F.col("t2")).select("t1", "t2", i_est, u_est)


def stream_maintain_countmin(
    event_stream: DataFrame,
    cm_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    width: int = 256,
    depth: int = 4,
    salt: str = "cm",
):
    """Continuously-maintained POINT-FREQUENCY state — the streaming face of
    operators/sketches.count_min_sketch, closing the any-key frequency query
    next to the HLL (distinct) and KMV (overlap) twins. Each micro-batch
    sketches its rows into <= depth x width counter cells in an idempotent
    ``batch=<id>`` partition; CM is LINEAR (merge = cell sums), so replayed
    batches overwrite their own partition and totals never double-count,
    while merge-on-read (:func:`read_countmin_estimates`) stays exact w.r.t.
    a one-shot sketch of everything seen. State per batch is depth x width
    cells regardless of row volume."""
    from parqueryd_spark.operators.sketches import count_min_sketch

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        part = count_min_sketch(batch_df, key_col, width=width, depth=depth, salt=salt)
        write_batch(part, cm_dir, batch_id)

    return _start_available_now(event_stream, _process, checkpoint_dir)


def stream_maintain_heavy_hitters(
    event_stream: DataFrame,
    hh_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    capacity: int = 256,
    weight_col: str | None = None,
):
    """Continuously-maintained FREQUENT-ITEMS state — the streaming face of
    operators/sketches.heavy_hitters, completing the sketch-maintenance
    matrix (HLL: distinct, KMV: set ops, CM: point frequency, MG: top-k by
    frequency). Each micro-batch writes its per-partition Misra-Gries
    summaries — ≤ capacity counter rows per partition plus one NULL-key row
    carrying that partition's eviction error — into an idempotent
    ``batch=<id>`` partition. MG summaries merge by plain counter ADDITION
    with errors adding, so merge-on-read over any set of batches is itself a
    valid MG summary of everything they saw: est ≤ true ≤ est + Σ err holds
    globally, replays overwrite their own partition, and state per batch is
    bounded by capacity × partitions rows regardless of volume.
    ``weight_col`` (integer, non-negative) switches the counters from
    occurrence counts to weight sums — the streaming face of the weighted
    top-k (running revenue-by-key / bytes-by-token state)."""
    from parqueryd_spark.operators.sketches import _mg_summaries

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        cols = [key_col] if weight_col is None else [key_col, weight_col]
        part = _mg_summaries(batch_df.select(*cols), key_col, int(capacity), weight_col)
        write_batch(part, hh_dir, batch_id)

    return _start_available_now(event_stream, _process, checkpoint_dir)


def read_heavy_hitters(
    spark, hh_dir: str, key_col: str = "user_id", k: int = 10
) -> DataFrame:
    """Approximate top-k over ALL published batches: merge-on-read of the
    bounded summaries (counter sums per key + the summed eviction bound),
    never touching raw events. Returns (key_col, est_count, max_undercount)
    ordered by est_count desc, key asc — the same contract as the batch
    operator, so the undercount invariant stays checkable at serve time."""
    from pyspark.sql import functions as F

    parts = read_batches(spark, hh_dir)
    bound = parts.where(F.col("key").isNull()).agg(F.sum("err").alias("max_undercount"))
    merged = (
        parts.where(F.col("key").isNotNull()).groupBy("key").agg(F.sum("cnt").alias("est_count"))
    )
    return (
        merged.join(F.broadcast(bound))
        .select(F.col("key").alias(key_col), "est_count", "max_undercount")
        .orderBy(F.col("est_count").desc(), F.col(key_col).asc())
        .limit(k)
    )


def read_countmin_estimates(
    spark,
    cm_dir: str,
    keys: DataFrame,
    key_col: str = "user_id",
    width: int = 256,
    depth: int = 4,
    salt: str = "cm",
) -> DataFrame:
    """Frequency estimates over ALL published batches: merge-on-read of the
    counter cells (plain sums — CM linearity makes merged-batches ≡ one-shot
    bit-exact), then the standard min-over-depth probe for each requested
    key. Raw events are never touched. Returns (key, est)."""
    from parqueryd_spark.operators.sketches import count_min_merge, count_min_query

    merged = count_min_merge([read_batches(spark, cm_dir)])
    return count_min_query(merged, keys, key_col, width=width, depth=depth, salt=salt)


def stream_maintain_heavy_hitters_grouped(
    event_stream: DataFrame,
    hh_dir: str,
    checkpoint_dir: str,
    group_col: str,
    key_col: str,
    capacity: int = 256,
    weight_col: str | None = None,
):
    """Continuously-maintained PER-GROUP frequent-items state — the grouped
    face of :func:`stream_maintain_heavy_hitters` (running top tokens per
    language, hot URLs per domain, heavy spenders per tenant). Each
    micro-batch writes its grouped Misra-Gries summaries — ≤ capacity
    counter rows per (partition, group) plus one NULL-key marker per
    (partition, group) carrying that group's eviction error — into an
    idempotent ``batch=<id>`` partition. Grouped MG summaries merge by
    counter addition WITHIN each group with per-group errors adding, so
    merge-on-read over any batch set is a valid grouped summary of
    everything seen: est ≤ true ≤ est + Σ err_g holds per group.
    ``weight_col`` (integer, NON-NEGATIVE — enforced in the sketch fold)
    switches the counters to weight sums, mirroring
    operators/sketches.heavy_hitters_exact_topk_grouped's weighted face."""
    from parqueryd_spark.operators.sketches import _mg_summaries_grouped

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        cols = [group_col, key_col] + ([] if weight_col is None else [weight_col])
        part = _mg_summaries_grouped(
            batch_df.select(*cols), group_col, key_col, int(capacity), weight_col
        )
        write_batch(part, hh_dir, batch_id)

    return _start_available_now(event_stream, _process, checkpoint_dir)


def read_heavy_hitters_grouped(
    spark, hh_dir: str, group_col: str, key_col: str, k: int = 10
) -> DataFrame:
    """Approximate per-group top-k over ALL published batches: merge-on-read
    of the grouped summaries (counter sums per (group, key) + per-group
    summed eviction bounds), never touching raw events. Returns
    (group_col, key_col, est_count, max_undercount) with at most k rows per
    group, ordered by group, est desc, key asc — the per-group twin of
    :func:`read_heavy_hitters`, so the undercount invariant stays checkable
    at serve time group by group."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    parts = read_batches(spark, hh_dir)
    bound = (
        parts.where(F.col("key").isNull())
        .groupBy("group")
        .agg(F.sum("err").alias("max_undercount"))
    )
    merged = (
        parts.where(F.col("key").isNotNull())
        .groupBy("group", "key")
        .agg(F.sum("cnt").alias("est_count"))
    )
    w = W.partitionBy("group").orderBy(F.col("est_count").desc(), F.col("key").asc())
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(k))
        .join(bound, "group", "left")
        .select(
            F.col("group").alias(group_col),
            F.col("key").alias(key_col),
            "est_count",
            F.coalesce(F.col("max_undercount"), F.lit(0)).alias("max_undercount"),
        )
        .orderBy(group_col, F.col("est_count").desc(), F.col(key_col).asc())
    )


def compact_kmv_state(
    spark, kmv_dir: str, keys: tuple[str, ...] = ("event_type",), k: int = 1024
) -> int:
    """Fold accumulated per-batch KMV partitions into one generation
    (``sinks.compact_batches``).

    Why it matters at 100 TB: merge-on-read cost grows with batches x keys
    rows; after a year of 5-minute triggers that is ~10^5 partitions per
    key. KMV union is itself a KMV state (k smallest of the combined
    distinct hashes), so the compacted row per key IS the sketch of
    everything the batches saw — serve answers are bit-identical before and
    after (pinned in tests). Run between availableNow drains; a checkpointed
    stream never replays batches that predate the compaction."""
    from parqueryd_spark.operators.sketches import kmv_merge

    return compact_batches(spark, kmv_dir, lambda parts: kmv_merge([parts], list(keys), k))


def compact_countmin_state(spark, cm_dir: str) -> int:
    """Fold per-batch Count-Min cell partitions into one generation. CM is
    linear (merge = cell sums), so the compacted <= depth x width cells are
    bit-identical state — estimates unchanged."""
    from parqueryd_spark.operators.sketches import count_min_merge

    return compact_batches(spark, cm_dir, lambda parts: count_min_merge([parts]))


def _compact_mg(spark, hh_dir: str, group_cols: list[str]) -> int:
    """Shared Misra-Gries compaction: counter rows sum per (group?, key);
    eviction errors sum per group (NULL-key marker rows). Summed-counter +
    summed-error is itself a valid MG summary of everything the batches saw
    (the merge the read path performs anyway), so serve answers — est
    counts, undercount bounds, top-k order — are identical before and
    after."""

    def fold(parts: DataFrame) -> DataFrame:
        counters = (
            parts.where(F.col("key").isNotNull())
            .groupBy(*group_cols, "key")
            .agg(F.sum("cnt").alias("cnt"), F.lit(0).cast("long").alias("err"))
        )
        markers = (
            parts.where(F.col("key").isNull())
            .groupBy(*group_cols)
            .agg(
                F.first(F.col("key")).alias("key"),  # NULL, keeps the schema slot
                F.lit(0).cast("long").alias("cnt"),
                F.coalesce(F.sum("err"), F.lit(0)).cast("long").alias("err"),
            )
            .select(*group_cols, "key", "cnt", "err")
        )
        return counters.select(*group_cols, "key", "cnt", "err").unionByName(markers)

    return compact_batches(spark, hh_dir, fold)


def compact_histogram_state(
    spark, hist_dir: str, keys: tuple[str, ...] = ("event_type",)
) -> int:
    """Fold accumulated per-batch histogram partitions into one generation
    — the :func:`compact_kmv_state` contract applied to the
    quantile state. Bin counts are LINEAR (merge = sum matching
    (grain, keys, bin) rows — exactly the fold :func:`read_histogram_quantiles`
    performs on every query), so the compacted state is bit-identical input
    to the cumulative walk: quantile answers are unchanged while state
    shrinks from batches x bins x grains x keys rows to bins x grains x keys."""
    from parqueryd_spark.operators.rollup import merge_histograms

    return compact_batches(spark, hist_dir, lambda parts: merge_histograms(parts, keys=keys))


def compact_hll_state(
    spark, hll_dir: str, keys: tuple[str, ...] = ("event_type",)
) -> int:
    """Fold accumulated per-batch HLL partitions into one generation. HLL
    union is register-wise max (associative, commutative, idempotent), so
    the compacted sketch per key IS the sketch of everything the batches
    saw — :func:`read_hll_distinct` performs this exact union on every
    read, compaction just persists it once. Estimates and n_rows are
    unchanged; state shrinks from batches x keys sketches to keys."""
    from parqueryd_spark.operators.sketches import hll_rollup_merge

    return compact_batches(spark, hll_dir, lambda parts: hll_rollup_merge([parts], list(keys)))


def compact_heavy_hitters_state(spark, hh_dir: str) -> int:
    """Fold per-batch global Misra-Gries partitions (rows (key, cnt, err),
    one NULL-key error marker per partition) into one ``batch=-1``
    generation — state shrinks from batches x partitions x capacity rows to
    distinct-keys + 1, bounds and answers unchanged."""
    return _compact_mg(spark, hh_dir, [])


def compact_heavy_hitters_grouped_state(spark, hh_dir: str) -> int:
    """Grouped twin of :func:`compact_heavy_hitters_state`: counters sum per
    (group, key), eviction errors per group — one marker row per group."""
    return _compact_mg(spark, hh_dir, ["group"])
