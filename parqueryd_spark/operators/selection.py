"""Exact distributed quantiles / rank selection without a global sort.

``percentile_approx`` answers fast but approximately; an exact answer via
``orderBy`` would shuffle the WHOLE table into one total order — the classic
100 TB anti-pattern. This module computes EXACT order statistics with the
multi-pass histogram-narrowing strategy (the distributed form of
Munro-Paterson selection): each pass is one map-side-combined aggregation
that bins only the surviving candidate interval, the driver handles nothing
but ~``bins`` cumulative counts per pass, and the interval's population
shrinks ~``bins``-fold per pass, so

    passes ≈ ceil(log_bins(n / exact_threshold))   (2-3 at 10^10+ rows)

One engine answers every entry point: global and grouped, ``quantile_disc``
and ``quantile_cont``, many probs or one rank. A global call is the grouped
call over no keys (one group). The unit of work is a (group, rank) pair:

- Pass 0 (:func:`_group_pass0`) is one full-scan aggregation per (group,
  sign+exponent bucket). Its exact (count, min, max) rows give each group's
  n and every unit's first interval.
- Each narrowing pass (:func:`_group_rank_values`) sends every open unit's
  [lo, hi] interval out as one broadcast frame; a row lands in every interval
  that covers it, and one aggregation returns per-(unit, bin) counts. Extra
  probs and groups share the same passes.
- The resolve is one windowed ``row_number`` over the ≤ exact_threshold
  survivors of every open unit: the (rank - offset)-th smallest survivor IS
  the rank-th order statistic. A unit whose landing bin holds one distinct
  value answers directly, with no sort.

Float-soundness invariant (caught by the hypothesis suite, which fuzzes
subnormals against bin boundaries): the next pass's interval is NOT the
nominal bin boundary ``lo + b*width`` — float rounding can put a value's
computed bin on one side of that boundary and the value itself on the other,
silently dropping it. Instead each pass aggregates the landing bin's ACTUAL
min/max values and the next interval is that inclusive data-value range:
bin assignment is monotone in v, so bins are disjoint value ranges and the
inclusive [bin-min, bin-max] filter selects exactly the rows the count saw.
Nominal arithmetic only chooses granularity; membership is always defined by
comparisons against real data values.

Rank definition matches SQL ``quantile_disc``: the smallest value whose
cumulative share reaches p, i.e. rank = ceil(p·n) (1-indexed ascending),
with p interpreted as an exact decimal (Fraction) so p·n carries no binary
float error. NULLs are excluded on both sides; NaN values sort last, as in a
Spark sort (pass 0 gives them their own bucket).

Reference parity note: the reference engine (parqueryd) exposes no quantile
aggregate at all — the complete RPC dispatch handles only the O5 groupby
methods sum/mean/count/min/max/std/count_na/count_distinct/
sorted_count_distinct (/root/reference/parqueryd/controller.py:483-553,
SURVEY.md §2 O5); exact and
approximate quantiles are north-star analytics scope, the exact tier next to
the mergeable-histogram estimates in operators/rollup.py.
"""

from __future__ import annotations

from fractions import Fraction
from math import ceil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def quantile_rank(p, n: int) -> int:
    """quantile_disc's rank: smallest k with k/n >= p, i.e. ceil(p*n) in
    EXACT decimal arithmetic (Fraction of the string form, so 0.1*10 is 1,
    not 1.0000000000000002), clamped to at least 1."""
    r = ceil(Fraction(str(p)) * n)
    return max(1, min(r, n))


def _bracket(p, n: int, cont: bool) -> tuple[int, int, float]:
    """One prob's (lo rank, hi rank, frac) over n values. ``quantile_disc``
    is the one rank :func:`quantile_rank` (frac 0); ``quantile_cont`` sits at
    position p·(n-1) (0-indexed) and interpolates the two bracketing order
    statistics lo + frac·(hi - lo)."""
    if not cont:
        r = quantile_rank(p, n)
        return r, r, 0.0
    # float (not Fraction) position arithmetic on purpose: DuckDB's
    # quantile_cont computes p*(n-1) in IEEE double, so matching it
    # bit-for-bit requires the same product (oracle-pinned since r11)
    pos = p * (n - 1)
    lo_r = int(pos) + 1
    return lo_r, min(lo_r + 1, n), pos - int(pos)


def _brackets(probs, cont: bool):
    return lambda n: [(float(p), *_bracket(p, n, cont)) for p in probs]


def exact_rank_value(
    df: DataFrame,
    value_col: str,
    rank: int,
    bins: int = 1024,
    exact_threshold: int = 65536,
) -> float | None:
    """The exact rank-th smallest non-null value (1-indexed): one unit
    through the engine over no keys, so its pass 0 is the fused stats +
    first-narrowing job. None on an empty (all-null) column; ``rank``
    outside [1, n] raises."""

    def one_rank(n):
        if not 1 <= rank <= n:
            raise ValueError(f"rank {rank} outside [1, {n}]")
        return [(None, rank, rank, 0.0)]

    rows = _global_values(df.sparkSession, df, value_col, one_rank, bins, exact_threshold)
    return rows[0][1] if rows else None


def _exponent_bucket(v):
    """ORDER-PRESERVING coarse bucket of a double, computable without
    knowing the data range: sign x (1100 + clamped floor(log2(|v|))), 0 for
    zero. v1 <= v2 implies eb(v1) <= eb(v2) (negatives get mirrored
    exponents, every positive bucket > 0 > every negative bucket; the
    +/-1100 clamp absorbs subnormals at -1074 and infinities), which is the
    ONLY property the narrowing walk needs from a binning — _walk_buckets
    consumes per-bucket exact (count, min, max), so coarse sign+exponent
    granularity costs extra passes at worst, never exactness."""
    mag = F.floor(F.greatest(F.lit(-1100.0), F.least(F.lit(1100.0), F.log2(F.abs(v)))))
    # NaN maps EXPLICITLY to the NULL bucket (_walk_buckets sorts it last,
    # matching Spark's NaN-greatest sort order): without the isnan branch the
    # arithmetic yields NaN and the .cast("long") throws CAST_OVERFLOW under
    # Spark 4's default ANSI mode (ADVICE r15) — the docstring's None-bucket
    # contract was otherwise unreachable.
    return (
        F.when(F.isnan(v), F.lit(None).cast("long"))
        .when(v == 0, F.lit(0))
        .otherwise((F.signum(v) * (F.lit(1100) + mag)).cast("long"))
    )


def _nan_pair(lo, hi) -> bool:
    """True iff a pass-0 landing bucket is the all-NaN NULL bucket (its
    exact min and max are both NaN — Python NaN != NaN, so the lo == hi
    degenerate check misses it). The rank-th value in that bucket IS NaN."""
    return lo != lo and hi != hi


def _walk_buckets(counts: dict, offset: int, rank: int):
    """Walk cumulative bucket counts to the landing bucket of ``rank``.
    counts maps bucket id -> (count, min_v, max_v), ids ascending in value:
    sparse sign+exponent ids in pass 0, interval bins in later passes (a bin
    with no rows is absent, and an empty bin can never be the landing one).
    A None id (NaN values' bucket under the exponent map) sorts last,
    matching Spark's NaN-greatest sort order. Returns (below, in_bin,
    bin_min, bin_max)."""
    cum = offset
    for b in sorted(counts, key=lambda k: (k is None, k)):
        c, bmin, bmax = counts[b]
        if cum + c >= rank:
            return cum, c, bmin, bmax
        cum += c
    raise AssertionError("rank fell past the interval — count drift")


def exact_quantiles(
    spark: SparkSession,
    df: DataFrame,
    value_col: str,
    probs: list[float],
    bins: int = 1024,
    exact_threshold: int = 65536,
) -> DataFrame:
    """Exact ``quantile_disc`` values for each prob: (prob, value) rows.

    The engine over no keys (:func:`exact_group_quantiles` with
    ``keys=[]``): ALL ranks narrow in SHARED passes, so a 5-quantile request
    costs the same ~log_bins scan count as one quantile, not 5x, and the
    resolve answers every rank in one windowed job. The result is the actual
    data element — exact, bit-for-bit reproducible by any engine's
    quantile_disc. An all-NULL column gives one (prob, None) row per prob.
    """
    rows = _global_values(spark, df, value_col, _brackets(probs, False), bins, exact_threshold)
    return spark.createDataFrame(
        rows or [(float(p), None) for p in probs], "prob double, value double"
    )


def _global_values(spark, df, value_col, brackets, bins, exact_threshold, decimals=None):
    """A global call: the engine over no keys (one group, which always fits
    the group budget), finished on the driver. The ≤ 2·|probs| exact order
    statistics come back in one collect and each (prob, lo rank, hi rank,
    frac) row becomes (prob, value) here; the grouped cont finish's
    per-(group, prob) aggregation would cost one more job for one group, and
    units answered directly cost no job at all. Returns None for an all-NULL
    column."""
    _, meta, resolve, direct = _narrow(
        spark, df, [], value_col, brackets, bins, exact_threshold, 1
    )
    if not meta:
        return None
    got = {rank: v for (_, rank), v in direct.items()}
    if resolve is not None:
        got.update((r["rank"], r["value"]) for r in resolve.collect())
    out = []
    for prob, lo_r, hi_r, frac in meta:
        lo, hi = got[lo_r], got[hi_r]
        # an integral position IS the order statistic (as DuckDB and Spark's
        # percentile return it): lo + 0·(hi - lo) is NaN at an infinite end
        val = lo if frac == 0 else lo + frac * (hi - lo)
        out.append((prob, val if decimals is None else round(val, decimals)))
    return out


def _narrow(spark, df, ks, value_col, brackets, bins, exact_threshold, max_groups):
    """The one engine behind every entry point: the fused pass 0
    (:func:`_group_pass0`), one (group, rank) unit per distinct bracketing
    rank, and the shared narrowing passes and windowed resolve
    (:func:`_group_rank_values`). ``brackets(n)`` lists the (prob, lo rank,
    hi rank, frac) rows of a group of n values; distinct probs can land on
    the SAME rank (small groups, adjacent probs, cont brackets), and each
    (group, rank) narrows once. Returns (base, meta rows (*group, prob, lo
    rank, hi rank, frac), and :func:`_group_rank_values`' (resolve,
    direct))."""
    base, groups = _group_pass0(df, ks, value_col, max_groups, bins)
    state: dict = {}
    meta = []
    for g, buckets in groups.items():
        for prob, lo_r, hi_r, frac in brackets(sum(c for c, _, _ in buckets.values())):
            for rank in (lo_r, hi_r):
                if (g, rank) not in state:
                    # seed from the group's pass-0 bucket walk; a one-value
                    # landing bucket seeds lo == hi, answered without a sort
                    below, in_bin, bmin, bmax = _walk_buckets(buckets, 0, rank)
                    state[(g, rank)] = [bmin, bmax, below, in_bin]
            meta.append((*g, prob, lo_r, hi_r, frac))
    return base, meta, *_group_rank_values(spark, base, ks, state, bins, exact_threshold)


def _attach(spark, ks, vals, meta_rows):
    """Fan each (group, rank) value out to the (group, prob) meta rows whose
    bracketing ranks name it: one broadcast join, null-safe on the keys
    (SQL GROUP BY treats NULL as a real group)."""
    schema = (
        vals.select(*ks)
        .schema.add("prob", "double")
        .add("_lo_r", "long")
        .add("_hi_r", "long")
        .add("_frac", "double")
    )
    meta = spark.createDataFrame(meta_rows, schema)
    cond = (vals["rank"] == meta["_lo_r"]) | (vals["rank"] == meta["_hi_r"])
    for k in ks:
        cond = cond & vals[k].eqNullSafe(meta[k])
    joined = vals.join(F.broadcast(meta), cond)
    for k in ks:
        joined = joined.drop(meta[k])
    return joined


def exact_group_quantiles(
    spark: SparkSession,
    df: DataFrame,
    keys: list[str],
    value_col: str,
    p: float,
    bins: int = 64,
    exact_threshold: int = 65536,
    max_groups: int = 4096,
) -> DataFrame:
    """Exact per-GROUP ``quantile_disc`` values — (keys..., prob, value) —
    with ALL groups narrowed simultaneously: every pass is ONE aggregation
    job shared by every still-active group, not a pass per group. ``p`` may
    be a single prob or a LIST (the dashboard p50/p90/p99 shape): all
    (group, rank) units share the same passes, so extra probs cost almost
    nothing beyond their final subdivisions.

    Per pass: the driver holds one (lo, hi, offset) interval per active
    group (metadata scale, bounded by ``max_groups``); a broadcast
    intervals-DataFrame joins each row to its group's interval, rows outside
    drop, and one groupBy(keys, bin) count comes back (≤ active_groups x
    bins rows — the driver-side budget that ``max_groups`` caps; beyond it
    use the mergeable histogram estimates in operators/rollup.py). Groups
    whose candidate population reaches ``exact_threshold`` leave the loop;
    the final RESOLVE is one distributed job for all groups at once: a
    per-group window over the ≤ threshold survivors picks the
    (rank - offset)-th smallest — answers never funnel through the driver.

    Group-count sweet spot is the dashboard regime (10s-1000s of groups over
    billions of rows each). NULL values are excluded per group; groups with
    no non-null values are absent from the output, and NULL-keyed groups are
    real groups (null-safe interval joins), both matching SQL GROUP BY
    aggregate semantics.

    Fused first pass (r15, guide §2.4): the per-group stats job and the
    first narrowing level run as ONE full-scan aggregation on the
    data-independent sign+exponent bucket (:func:`_group_pass0`) — per-group
    n and every (group, rank) seed interval fall out of the same
    per-(group, bucket) exact (count, min, max) rows, so the common
    one-narrowing-pass case costs 2 full scans instead of 3. Exactness is
    bins/bucket-independent as always.
    """
    ks = list(keys)
    probs = [p] if isinstance(p, (int, float)) else list(p)
    base, meta, resolve, direct = _narrow(
        spark, df, ks, value_col, _brackets(probs, False), bins, exact_threshold, max_groups
    )
    vals = _values(spark, base, ks, resolve, direct)
    if len(probs) == 1:
        return vals.select(*ks, F.lit(float(probs[0])).alias("prob"), "value")
    return _attach(spark, ks, vals, meta).select(*ks, "prob", "value")


def _group_pass0(df: DataFrame, ks: list[str], value_col: str, max_groups: int, bins: int):
    """Fused head of the engine (r15, guide §2.4 "remove passes outright"):
    the per-group (lo, hi, n) stats job and the first narrowing level run as
    ONE full-scan aggregation by binning pass 0 on the data-independent
    ORDER-PRESERVING sign+exponent bucket (:func:`_exponent_bucket`). One
    job returns per-(group, bucket) exact (count, min, max); each group's n
    is the sum of its bucket counts and every (group, rank) seeds its
    interval by walking that group's ascending buckets exactly as an
    interval pass would. A global call is ``ks=[]``: one group. Returns
    (base, {group-tuple: {bucket: (count, min, max)}}).

    Driver-OOM protection (the old limit(max_groups + 1) contract, adapted):
    the collect is bounded by limit(max_groups x max(bins, exponent-bucket
    space) + 1) — pass 0 bins on the ~4402-id exponent space regardless of
    ``bins`` (ADVICE r15), so the budget uses whichever space is larger —
    enforced BEFORE any driver-side use; either truncation at that budget or
    more than max_groups distinct groups raises."""
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull()).select(*ks, v.alias("_v"))
    # the pass-0 bucket id space is the EXPONENT space, not range(bins): ids
    # span [-2200, 2200] plus the NaN NULL bucket (~4402 values), independent
    # of bins — budgeting max_groups x bins alone would spuriously reject
    # in-contract wide-dynamic-range data at small bins (ADVICE r15). The
    # driver-side bound is max_groups x the LARGER of the two spaces.
    budget = max_groups * max(bins, 4402)
    rows = (
        base.groupBy(*ks, _exponent_bucket(F.col("_v")).alias("_b"))
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.min("_v").alias("_bmin"),
            F.max("_v").alias("_bmax"),
        )
        .limit(budget + 1)
        .collect()
    )
    groups: dict[tuple, dict] = {}
    for r in rows:
        groups.setdefault(tuple(r[k] for k in ks), {})[r["_b"]] = (
            r["_c"],
            r["_bmin"],
            r["_bmax"],
        )
    if len(rows) > budget or len(groups) > max_groups:
        raise ValueError(
            f"group count exceeds max_groups={max_groups} (or the pass-0 "
            f"bucket rows exceed the max_groups x max(bins, exponent-bucket "
            f"space) = {budget} driver budget) — the per-pass driver-side "
            "count collect is groups x bins; use the mergeable histogram "
            "quantiles (operators/rollup.py) for high-cardinality keys"
        )
    return base, groups


def _group_rank_values(
    spark: SparkSession,
    base: DataFrame,
    ks: list[str],
    state: dict,
    bins: int,
    exact_threshold: int,
) -> tuple[DataFrame | None, dict]:
    """The one narrowing loop and resolve, over (group, rank) units (any
    number of ranks per group; the cont path needs two bracketing order
    statistics): ``state`` maps (group-tuple, rank) -> [lo, hi, offset,
    in_interval] (seeded from the fused pass-0 bucket walk); returns
    (resolve, direct). Every pass is ONE aggregation shared by every
    still-active (group, rank); adjacent ranks' intervals coincide until the
    final subdivisions, so the second rank rides nearly free. ``resolve`` is
    one distributed windowed job over all open units, a frame (keys...,
    rank, value), or None when no unit is open; ``direct`` maps the units
    whose interval holds one value — answered with no sort — to it."""

    def _key_schema():
        return (
            base.select(*ks)
            .schema.add("_rank", "long")
            .add("_lo", "double")
            .add("_hi", "double")
            .add("_take", "long")
        )

    # units answered without a resolve sort (degenerate one-value intervals;
    # _nan_pair: a unit seeded in the all-NaN NULL bucket answers NaN)
    resolved: dict[tuple, float] = {
        gr: st[0]
        for gr, st in state.items()
        if st[0] == st[1] or _nan_pair(st[0], st[1])
    }

    def _intervals_df(names):
        rows = [
            (*g, r, st[0], st[1], r - st[2])
            for (g, r), st in state.items()
            if (g, r) in names
        ]
        return spark.createDataFrame(rows, _key_schema())

    in_window = (F.col("_v") >= F.col("_lo")) & (F.col("_v") <= F.col("_hi"))
    # per-interval bin over its own [lo, hi] — column-side arithmetic so one
    # expression serves every interval in the broadcast frame. The width
    # clamp to the smallest positive subnormal keeps the divisor nonzero when
    # (hi - lo) / bins underflows on a subnormal-thin interval with hi > lo
    # (ANSI mode turns the 0-width division into DIVIDE_BY_ZERO); any
    # positive width keeps the bin monotone in v, so the clamp only coarsens
    # granularity (worst case: one bin -> the no-progress resolve path)
    width = F.greatest((F.col("_hi") - F.col("_lo")) / bins, F.lit(5e-324))
    rel_bin = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((F.col("_v") - F.col("_lo")) / width).cast("int")),
    )

    def _join_intervals(idf):
        # SQL GROUP BY treats NULL as a real group; a plain equi-join would
        # silently drop those rows, so the interval join is null-SAFE
        cond = None
        for k in ks:
            c = base[k].eqNullSafe(idf[k])
            cond = c if cond is None else cond & c
        out = base.join(F.broadcast(idf), cond)
        for k in ks:
            out = out.drop(idf[k])
        return out.where(in_window)

    active = {
        gr
        for gr, st in state.items()
        if gr not in resolved and st[3] > exact_threshold and st[1] > st[0]
    }
    while active:
        joined = _join_intervals(_intervals_df(active))
        counts: dict[tuple, dict[int, tuple]] = {}
        for r in (
            joined.groupBy(*ks, "_rank", rel_bin.alias("_b"))
            .agg(
                F.count(F.lit(1)).alias("_c"),
                F.min("_v").alias("_bmin"),
                F.max("_v").alias("_bmax"),
            )
            .collect()
        ):
            counts.setdefault((tuple(r[k] for k in ks), r["_rank"]), {})[r["_b"]] = (
                r["_c"],
                r["_bmin"],
                r["_bmax"],
            )
        next_active = set()
        for gr in active:
            rank = gr[1]
            lo, hi, offset, in_interval = state[gr]
            below, in_bin, bmin, bmax = _walk_buckets(counts.get(gr, {}), offset, rank)
            if bmin == bmax:
                # degenerate landing bin — the unit's rank-th value IS bmin
                # (below < rank <= below + in_bin by the walk); no sort resolve
                resolved[gr] = bmin
                continue
            if (bmin, bmax) == (lo, hi) or in_bin == in_interval:
                continue  # no progress — resolve this unit as-is
            state[gr] = [bmin, bmax, below, in_bin]
            if in_bin > exact_threshold and bmax > bmin:
                next_active.add(gr)
        active = next_active

    # resolve every still-open unit in one distributed job: (rank - offset)-th
    # smallest survivor per (group, rank) via a bounded window
    unresolved = set(state) - set(resolved)
    if not unresolved:
        return None, resolved
    survivors = _join_intervals(_intervals_df(unresolved))
    rn = F.row_number().over(Window.partitionBy(*ks, "_rank").orderBy("_v"))
    return (
        survivors.withColumn("_rn", rn)
        .where(F.col("_rn") == F.col("_take"))
        .select(*ks, F.col("_rank").alias("rank"), F.col("_v").alias("value")),
        resolved,
    )


def _values(spark, base, ks, resolve, resolved) -> DataFrame:
    """Every unit's value as one frame (keys..., rank, value): the windowed
    resolve, plus the units answered by a degenerate bin as literal rows."""
    if resolve is not None and not resolved:
        return resolve
    schema = base.select(*ks).schema.add("rank", "long").add("value", "double")
    direct = spark.createDataFrame([(*g, r, v) for (g, r), v in resolved.items()], schema)
    return direct if resolve is None else resolve.unionByName(direct)


def exact_group_quantiles_cont(
    spark: SparkSession,
    df: DataFrame,
    keys: list[str],
    value_col: str,
    p,
    bins: int = 64,
    exact_threshold: int = 65536,
    max_groups: int = 4096,
    decimals: int = 6,
) -> DataFrame:
    """Exact per-GROUP INTERPOLATED quantiles (SQL ``quantile_cont`` / Spark
    ``percentile`` grouped) — (keys..., prob, value rounded to ``decimals``)
    — completing the selection matrix next to :func:`exact_group_quantiles`
    (grouped disc) and :func:`exact_quantiles_cont` (global cont). ``p`` may
    be a single prob or a LIST (the dashboard p25/p50/p95 shape): all
    (group, prob) bracketing ranks narrow in the SAME shared passes, so
    extra probs ride nearly free, exactly like the disc path.

    Per group each prob's continuous definition sits at position p·(n-1) and
    interpolates the two bracketing order statistics (:func:`_bracket`);
    EVERY bracketing rank of EVERY group narrows together (adjacent ranks'
    intervals coincide until the last subdivisions, and distinct probs often
    share a bracketing rank, narrowed once), and the interpolation is
    distributed: the per-(group, prob) (lo_rank, hi_rank, frac) triple
    broadcasts as metadata and one final aggregation per (group, prob) forms
    lo + f·(hi - lo). NULL-keyed groups are real groups; groups with no
    non-null values are absent — SQL GROUP BY semantics, same as the disc
    path."""
    ks = list(keys)
    probs = [p] if isinstance(p, (int, float)) else list(p)
    base, meta, resolve, direct = _narrow(
        spark, df, ks, value_col, _brackets(probs, True), bins, exact_threshold, max_groups
    )
    lo_v = F.max(F.when(F.col("rank") == F.col("_lo_r"), F.col("value")))
    hi_v = F.max(F.when(F.col("rank") == F.col("_hi_r"), F.col("value")))
    frac = F.max("_frac")
    # an integral position IS the order statistic (see _global_values)
    value = F.when(frac == 0, lo_v).otherwise(lo_v + frac * (hi_v - lo_v))
    return (
        _attach(spark, ks, _values(spark, base, ks, resolve, direct), meta)
        .groupBy(*ks, "prob")
        .agg(F.round(value, decimals).alias("value"))
        .select(*ks, "prob", "value")
    )


def exact_quantiles_cont(
    spark: SparkSession,
    df: DataFrame,
    value_col: str,
    probs: list[float],
    bins: int = 1024,
    exact_threshold: int = 65536,
    decimals: int = 6,
) -> DataFrame:
    """Exact INTERPOLATED quantiles (SQL ``quantile_cont`` / Spark
    ``percentile``): (prob, value) rows, rounded to ``decimals``.

    The continuous definition sits at position p·(n-1) (0-indexed) and
    linearly interpolates the two bracketing order statistics — so this is
    two rank selections plus arithmetic, and both ranks ride the SAME
    shared-pass narrowing as :func:`exact_quantiles` (adjacent ranks'
    intervals coincide until the final subdivision, so the extra rank is
    nearly free). The interpolation arithmetic is done driver-side on the
    two exact scalars and rounded, absorbing the last-ulp freedom SQL
    engines have in how they form (1-f)·lo + f·hi. Use this where the
    consumer expects SQL AVG-style medians; ``exact_quantiles`` returns
    actual data elements (quantile_disc) and needs no rounding at all.
    """
    rows = _global_values(
        spark, df, value_col, _brackets(probs, True), bins, exact_threshold, decimals
    )
    return spark.createDataFrame(
        rows or [(float(p), None) for p in probs], "prob double, value double"
    )
