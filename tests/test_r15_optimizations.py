"""Pins for the r15 optimization rewrites (OPTIMIZATION_r15.md): the
shapes the optimizations bought must not silently regress, and the
expression rewrites' tricky semantics (struct-ordering argmax, optimizer
barriers) must stay exact."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from tests.conftest import spark  # noqa: F401 (fixture re-export convention)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- predict_lang


@pytest.mark.parametrize(
    "text,expected",
    [
        ("the and of dog", "en"),
        ("el la de que", "es"),
        ("der die und", "de"),
        ("le les des", "fr"),
        # 'la' is a marker for BOTH es and fr: tie -> earlier LANG_ORDER (es)
        ("la la la", "es"),
        # all four tie at 1 -> en (first in LANG_ORDER)
        ("the el der le", "en"),
        # 'de' is an es marker, not a de marker
        ("de de de", "es"),
        ("xyz qqq", "unknown"),
        ("", "unknown"),
        (None, "unknown"),
    ],
)
def test_predict_lang_argmax_tiebreak_and_unknown(spark, text, expected):
    """The r15 single-fold rewrite encodes argmax + LANG_ORDER tie-break as
    lexicographic struct ordering with an 'unknown' sentinel; these are the
    exact cases that ordering must reproduce (incl. NULL text, which the
    fold short-circuits to NULL and coalesce restores to 'unknown')."""
    from parqueryd_spark.operators.text import predict_lang

    df = spark.createDataFrame([(text,)], "text string")
    assert df.select(predict_lang("text").alias("p")).collect()[0]["p"] == expected


def test_predict_lang_single_tokenize_in_plan(spark):
    """The point of the rewrite: ONE split(text) evaluation per row (the old
    CASE expression carried ~40). The executed plan for a projection of
    predict_lang must contain exactly one split( occurrence."""
    from parqueryd_spark.operators.text import predict_lang

    df = spark.createDataFrame([("the and of",)], "text string")
    # alias: an unaliased column's NAME embeds the expression text and would
    # double-count split( in the plan string
    plan = _executed_plan(df.select(predict_lang("text").alias("p")))
    assert plan.count("split(") == 1, plan


# ---------------------------------------------------------------- bm25_scores


def test_bm25_base_single_tokenize_per_side(spark):
    """The inline(array(struct)) barrier keeps the tf/dl fold single-
    evaluated: the executed plan must hold one split( per corpus pass (one
    scoring side, one stats side) — not nq+1 per projection plus more in a
    pushed-down filter."""
    from parqueryd_spark.operators.text import bm25_scores

    df = spark.createDataFrame(
        [(1, "hash join"), (2, "stream vector hash"), (3, "none here")],
        "doc_id long, text string",
    )
    plan = _executed_plan(bm25_scores(df, "doc_id", "text", ["hash", "join"]))
    assert plan.count("split(") == 2, plan


def test_bm25_scores_values_unchanged(spark):
    """Exact score pin (independent recomputation) so the fold rewrite can
    never drift from the Okapi formula the oracle replays."""
    import math

    from parqueryd_spark.operators.text import bm25_scores

    rows = [(1, "a b a"), (2, "a c"), (3, "d d d d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc"]: (r["n_match"], r["score"])
        for r in bm25_scores(df, "doc_id", "text", ["a", "d"]).collect()
    }
    n, avgdl, k1, b = 3, 3.0, 1.2, 0.75

    def s(tf, dl, dfreq):
        idf = math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))
        return idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert got[1][0] == 1 and abs(got[1][1] - s(2, 3, 2)) < 1e-12
    assert got[2][0] == 1 and abs(got[2][1] - s(1, 2, 2)) < 1e-12
    assert got[3][0] == 1 and abs(got[3][1] - s(4, 4, 1)) < 1e-12


# --------------------------------------------------------------- mad_outliers


def test_mad_outliers_single_exchange_no_join(spark):
    """The r15 window rewrite: one hash exchange on the group keys, zero
    joins (the old aggregate+join-back plan carried 5 exchanges and 2
    SortMergeJoins at bench scale)."""
    from parqueryd_spark.operators.analytics import mad_outliers

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(20)] + [("b", 5.0), ("b", 100.0), ("b", 6.0)],
        "k string, v double",
    )
    plan = _executed_plan(mad_outliers(df, ["k"], "v"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert node not in plan, plan


# --------------------------------------------- substring_dedup coverage fold


def test_substring_dedup_coverage_single_digest_join(spark):
    """The r15 single-aggregation coverage resolution executes the
    _mark_keepers digest join ONCE: the executed plan of the droplist mode
    must contain exactly one join against the keeper aggregation (the old
    dup_cov/keep_cov formulation ran it twice and anti-joined)."""
    from parqueryd_spark.operators.dedup import substring_dedup

    df = spark.createDataFrame(
        [(1, "x y z w a b"), (2, "x y z w c d"), (3, "q r s t u v")],
        "doc_id long, text string",
    )
    out = substring_dedup(df, "doc_id", "text", min_tokens=4, mode="droplist")
    plan = _executed_plan(out)
    joins = sum(plan.count(n) for n in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    # one digest join (windows vs keepers) + one droplist attach join back
    # to the doc grain = 2; the pre-r15 plan carried 2 digest joins + an
    # anti-join + the attach = 4
    assert joins <= 2, plan


# ------------------------------------------- exact_quantiles fused pass-0


def test_exponent_bucket_is_order_preserving(spark):
    """The fused pass-0 bins on _exponent_bucket, whose ONLY load-bearing
    property is order preservation (v1 <= v2 => bucket(v1) <= bucket(v2)) so
    the bucket ranges partition the value axis and cumulative counts are
    valid. Pin it over the adversarial axis: subnormals, power-of-two
    boundaries and their float neighbors, +/-0, +/-inf, full-range
    magnitudes."""
    import math

    from parqueryd_spark.operators.selection import _exponent_bucket

    vals = sorted(
        [
            float("-inf"), -1.8e308, -1e9, -3.5, -2.0,
            math.nextafter(-2.0, 0.0), -1.0, math.nextafter(-1.0, 0.0),
            -2.3e-308, -5e-324, -0.0, 0.0, 5e-324, 2.3e-308,
            math.nextafter(1.0, 0.0), 1.0, math.nextafter(2.0, 0.0), 2.0,
            math.nextafter(2.0, 3.0), 4.0, 1e9, 1.8e308, float("inf"),
        ]
    )
    arr = F.array(*[F.lit(v).cast("double") for v in vals])
    bs = (
        spark.range(1)
        .select(F.transform(arr, lambda c: _exponent_bucket(c)).alias("bs"))
        .head()["bs"]
    )
    assert bs == sorted(bs), list(zip(vals, bs))
    zero_bucket = bs[vals.index(0.0)]
    for v, b in zip(vals, bs):
        if v < 0:
            assert b < zero_bucket, (v, b)
        elif v > 0:
            assert b > zero_bucket, (v, b)


def test_global_pass0_buckets_partition_the_value_axis(spark):
    """The global pass 0 is _group_pass0 over no keys: its one group's bucket
    map must cover every non-null row exactly once in disjoint, ordered
    value ranges — the invariant the seeding walk consumes (count drift or
    range overlap would silently misplace a rank)."""
    from parqueryd_spark.operators.selection import _group_pass0

    vals = [5e-324, 2.3e-308, 0.0, -0.0, 1.0, 1.5, 2.0, -2.0, -1e300,
            1e300, 0.1, 0.1, 0.1, -0.25, None, None, 7.0, 1024.0, 1025.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    _, groups = _group_pass0(df, [], "v", max_groups=10, bins=4)
    present = [v for v in vals if v is not None]
    assert set(groups) == {()}
    counts = groups[()]
    assert sum(c for c, _, _ in counts.values()) == len(present)
    ordered = [counts[b] for b in sorted(counts)]
    for c, bmin, bmax in ordered:
        assert bmin <= bmax and c >= 1
    for (_, _, prev_max), (_, next_min, _) in zip(ordered, ordered[1:]):
        assert prev_max <= next_min  # ranges ordered; equal only at +/-0.0
    assert min(m for _, m, _ in ordered) == min(present)
    assert max(m for _, _, m in ordered) == max(present)


# --------------------------------------- read_lm write-time-enforced order


def test_read_lm_trusts_meta_and_validate_flag_forces_scan(tmp_path, spark):
    """r15: a meta-bearing store serves WITHOUT the per-serve gram-width
    scan (write-time enforcement makes it redundant), while validate=True
    restores the scan for stores manipulated outside the maintenance
    contract, an explicit n override still scans (and raises on mismatch),
    and pre-meta stores scan as before."""
    import os

    import pytest

    from parqueryd_spark.streaming.lm import read_lm

    lm_dir = str(tmp_path / "lm")
    spark.createDataFrame([(0.5, 2)], "k double, n int").write.parquet(
        os.path.join(lm_dir, "_meta")
    )
    spark.createDataFrame([("a b", 1)], "gram string, c long").write.parquet(
        os.path.join(lm_dir, "batch=0")
    )
    # out-of-contract tamper: a wrong-order gram written directly
    spark.createDataFrame([("x y z", 1)], "gram string, c long").write.parquet(
        os.path.join(lm_dir, "batch=1")
    )
    # the mixed store is the proof: the old per-serve scan RAISED here, so
    # serving without an error demonstrates the scan no longer runs
    lm = read_lm(spark, lm_dir)  # trusts meta: no scan, no raise
    assert lm.n == 2
    with pytest.raises(ValueError, match="mixed"):
        read_lm(spark, lm_dir, validate=True)  # escape hatch scans
    with pytest.raises(ValueError, match="mixed"):
        read_lm(spark, lm_dir, n=3)  # override disagrees with meta -> scans


def test_stream_maintain_validates_premeta_store_at_adoption(tmp_path, spark):
    """r15: adopting a PRE-meta store at a conflicting order raises at WRITE
    time (before _meta certifies the batches), and at the matching order
    proceeds — the enforcement read_lm's serve-path trust rests on."""
    import os

    import pytest

    from parqueryd_spark.streaming.lm import read_lm, stream_maintain_lm

    src = str(tmp_path / "src")
    spark.createDataFrame([("a b c",)], "text string").write.parquet(src)

    def maintain(lm_dir, ckpt, n):
        return stream_maintain_lm(
            spark.readStream.schema("text string").parquet(src),
            str(tmp_path / lm_dir), str(tmp_path / ckpt), n=n,
        ).awaitTermination()

    # pre-meta store at order 3
    for d in ("lm_bad", "lm_ok"):
        spark.createDataFrame([("x y z", 1)], "gram string, c long").write.parquet(
            os.path.join(str(tmp_path / d), "batch=99")
        )
    with pytest.raises(Exception, match="different .or mixed. order"):
        maintain("lm_bad", "ck_bad", n=2)
    assert not os.path.isdir(os.path.join(str(tmp_path / "lm_bad"), "_meta"))
    maintain("lm_ok", "ck_ok", n=3)  # matching order: adopted and certified
    served = read_lm(spark, str(tmp_path / "lm_ok"))
    assert served.n == 3
    grams = {r["gram"] for r in served.bigrams.collect()}
    assert "x y z" in grams and "a b c" in grams


def test_group_pass0_buckets_partition_each_group(spark):
    """_group_pass0's per-group bucket maps must cover every non-null row of
    that group exactly once in disjoint ordered ranges (the invariant each
    (group, rank) seed walk consumes), with NULL keys kept as a real
    group and all-null-value groups absent."""
    from parqueryd_spark.operators.selection import _group_pass0

    data = {
        "a": [0.0, 5e-324, -1e300, 1e300, 2.0, 2.0, 3.0],
        "b": [7.5],
        None: [1.0, -1.0, None],
        "d": [None, None],
    }
    rows = [(g, v) for g, vals in data.items() for v in vals]
    df = spark.createDataFrame(rows, "grp string, v double")
    _, groups = _group_pass0(df, ["grp"], "v", max_groups=10, bins=4)
    assert set(groups) == {("a",), ("b",), (None,)}  # "d" all-null -> absent
    for g, buckets in groups.items():
        present = [v for v in data[g[0]] if v is not None]
        assert sum(c for c, _, _ in buckets.values()) == len(present)
        ordered = [buckets[b] for b in sorted(buckets)]
        for (_, _, pmax), (_, nmin, _) in zip(ordered, ordered[1:]):
            assert pmax <= nmin
        assert min(m for _, m, _ in ordered) == min(present)
        assert max(m for _, _, m in ordered) == max(present)


def test_grouped_fused_multiprob_matches_duckdb(spark):
    """End-to-end grouped disc+cont through the fused pass-0 against DuckDB
    on skewed per-group distributions with forced narrowing."""
    import duckdb
    import pandas as pd

    from parqueryd_spark.operators.selection import (
        exact_group_quantiles,
        exact_group_quantiles_cont,
    )

    random.seed(77)
    rows = []
    for g, n in (("x", 900), ("y", 340), ("z", 7)):
        rows += [(g, random.choice([0.0, 0.25, 3.5, -2e5, 1e5, 9.75])) for _ in range(n)]
    df = spark.createDataFrame(rows, "grp string, value double")
    pdf = pd.DataFrame(rows, columns=["grp", "value"])
    probs = [0.1, 0.5, 0.99]

    got = {
        (r["grp"], r["prob"]): r["value"]
        for r in exact_group_quantiles(
            spark, df, ["grp"], "value", probs, bins=4, exact_threshold=8
        ).collect()
    }
    for p in probs:
        duck = dict(
            duckdb.sql(
                f"SELECT grp, quantile_disc(value, {p}) FROM pdf GROUP BY grp"
            ).fetchall()
        )
        for g in duck:
            assert got[(g, p)] == duck[g], (g, p)

    gotc = {
        (r["grp"], r["prob"]): r["value"]
        for r in exact_group_quantiles_cont(
            spark, df, ["grp"], "value", probs, bins=4, exact_threshold=8
        ).collect()
    }
    for p in probs:
        duck = dict(
            duckdb.sql(
                f"SELECT grp, round(quantile_cont(value, {p}), 6) FROM pdf GROUP BY grp"
            ).fetchall()
        )
        for g in duck:
            assert gotc[(g, p)] == duck[g], (g, p)


def test_subnormal_thin_interval_does_not_divide_by_zero(spark):
    """Regression (latent pre-r15 bug surfaced by the hypothesis suite): a
    narrowing interval with hi > lo but (hi - lo) / bins underflowing to 0.0
    (values packed into a few subnormal ulps) made the bin expression divide
    by zero — a hard ArithmeticException under Spark 4 ANSI mode, in all
    three narrowing paths. The width clamp to 5e-324 must keep the walk
    alive and the answers exact."""
    from parqueryd_spark.operators.selection import (
        exact_group_quantiles,
        exact_quantiles,
        exact_rank_value,
        quantile_rank,
    )

    tiny = 5e-324
    vals = [0.0, tiny, tiny, tiny, 2 * tiny, 2 * tiny, 3 * tiny]
    s = sorted(vals)
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {
        r["prob"]: r["value"]
        for r in exact_quantiles(
            spark, df, "v", [0.0, 0.5, 1.0], bins=4, exact_threshold=2
        ).collect()
    }
    for p in [0.0, 0.5, 1.0]:
        assert got[p] == s[quantile_rank(p, len(s)) - 1], p
    assert exact_rank_value(df, "v", 4, bins=4, exact_threshold=2) == s[3]

    gdf = spark.createDataFrame([("g", v) for v in vals], "grp string, v double")
    grow = exact_group_quantiles(
        spark, gdf, ["grp"], "v", 0.5, bins=4, exact_threshold=2
    ).collect()
    assert [(r["grp"], r["value"]) for r in grow] == [
        ("g", s[quantile_rank(0.5, len(s)) - 1])
    ]


def test_fused_quantiles_extreme_magnitudes_match_sorted_oracle(spark):
    """End-to-end through the fused pass-0 + shared narrowing + resolve with
    values spanning subnormal to inf and a forced multi-pass threshold: the
    answers must be the literal sorted-index elements (quantile_disc)."""
    from parqueryd_spark.operators.selection import exact_quantiles, quantile_rank

    vals = (
        [5e-324, 2.3e-308, -5e-324, 0.0, -0.0, float("inf"), float("-inf")]
        + [2.0**k for k in range(-8, 9)]
        + [-(2.0**k) for k in range(-8, 9)]
        + [3.14159, -3.14159, 1e300, -1e300]
    ) * 3
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    probs = [0.0, 0.1, 0.5, 0.9, 1.0]
    got = {
        r["prob"]: r["value"]
        for r in exact_quantiles(
            spark, df, "v", probs, bins=4, exact_threshold=2
        ).collect()
    }
    s = sorted(vals)
    for p in probs:
        assert got[p] == s[quantile_rank(p, len(s)) - 1], p
