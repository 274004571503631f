"""Exact distributed selection (operators/selection.py): histogram-narrowing
rank selection must equal a plain sort-and-index answer for every rank shape
(duplicates, negatives, tiny n, forced multi-pass narrowing, concentrated
mass), match DuckDB's quantile_disc rank definition, and exclude NULLs."""

from __future__ import annotations

import random

import duckdb
import pytest

from parqueryd_spark.operators.selection import (
    exact_quantiles,
    exact_rank_value,
    quantile_rank,
)


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "value double")


def test_quantile_rank_uses_exact_decimal_arithmetic():
    # 0.1 * 10 is exactly 1 in decimal; binary-float ceil would say 2
    assert quantile_rank(0.1, 10) == 1
    assert quantile_rank(0.25, 4) == 1
    assert quantile_rank(0.5, 5) == 3
    assert quantile_rank(0.99, 500) == 495
    assert quantile_rank(1.0, 7) == 7
    assert quantile_rank(0.0, 7) == 1  # clamped to the first value


def test_every_rank_matches_sorted_index_with_forced_narrowing(spark):
    random.seed(11)
    vals = [random.choice([-3.5, 0.0, 1.25, 7.0, 42.0]) for _ in range(200)]
    vals += [random.uniform(-100, 100) for _ in range(200)]
    ordered = sorted(vals)
    df = _df(spark, vals)
    # exact_threshold=16 forces several genuine narrowing passes
    for rank in [1, 2, 17, 100, 250, 399, 400]:
        got = exact_rank_value(df, "value", rank, bins=8, exact_threshold=16)
        assert got == ordered[rank - 1], rank


def test_matches_duckdb_quantile_disc(spark):
    random.seed(23)
    vals = [random.uniform(-50, 150) for _ in range(997)]
    probs = [0.1, 0.25, 0.5, 0.9, 0.99, 1.0]
    mine = {
        r["prob"]: r["value"]
        for r in exact_quantiles(
            spark, _df(spark, vals), "value", probs, bins=8, exact_threshold=50
        ).collect()
    }
    duck = duckdb.sql(
        f"SELECT {', '.join(f'quantile_disc(x, {p})' for p in probs)}"
        f" FROM (SELECT unnest({vals}) AS x)"
    ).fetchone()
    for p, d in zip(probs, duck):
        assert mine[p] == float(d), p


def test_nulls_excluded_and_all_null_returns_none(spark):
    df = spark.createDataFrame(
        [(1.0,), (None,), (1.0,), (2.0,), (None,), (1.0,)], "value double"
    )
    assert exact_rank_value(df, "value", 3, bins=4, exact_threshold=2) == 1.0
    assert exact_rank_value(df, "value", 4, bins=4, exact_threshold=2) == 2.0
    nulls = spark.createDataFrame([(None,), (None,)], "value double")
    out = exact_quantiles(spark, nulls, "value", [0.5]).collect()
    assert out[0]["value"] is None


def test_concentrated_mass_breaks_to_resolve_phase(spark):
    # one double carries almost all the mass: the interval stops shrinking
    # and the resolve phase must still answer exactly
    vals = [5.0] * 500 + [1.0, 9.0]
    df = _df(spark, vals)
    assert exact_rank_value(df, "value", 1, bins=4, exact_threshold=10) == 1.0
    assert exact_rank_value(df, "value", 2, bins=4, exact_threshold=10) == 5.0
    assert exact_rank_value(df, "value", 501, bins=4, exact_threshold=10) == 5.0
    assert exact_rank_value(df, "value", 502, bins=4, exact_threshold=10) == 9.0


def test_rank_out_of_bounds_raises(spark):
    df = _df(spark, [1.0, 2.0])
    with pytest.raises(ValueError):
        exact_rank_value(df, "value", 0)
    with pytest.raises(ValueError):
        exact_rank_value(df, "value", 3)


def test_group_quantiles_match_duckdb_group_by(spark):
    random.seed(41)
    rows = []
    for g, n in (("a", 500), ("b", 97), ("c", 1), ("d", 3)):
        rows += [(g, random.uniform(-10, 10)) for _ in range(n)]
    rows += [("e", None), ("a", None)]  # null-only group absent; null excluded
    from parqueryd_spark.operators.selection import exact_group_quantiles

    df = spark.createDataFrame(rows, "grp string, value double")
    out = {
        r["grp"]: r["value"]
        for r in exact_group_quantiles(
            spark, df, ["grp"], "value", 0.9, bins=8, exact_threshold=16
        ).collect()
    }
    import pandas as pd

    pdf = pd.DataFrame([r for r in rows if r[1] is not None], columns=["grp", "value"])
    duck = dict(
        duckdb.sql(
            "SELECT grp, quantile_disc(value, 0.9) FROM pdf GROUP BY grp"
        ).fetchall()
    )
    assert set(out) == set(duck) == {"a", "b", "c", "d"}
    for g in duck:
        assert out[g] == duck[g], g


def test_group_quantiles_every_group_matches_sorted_index(spark):
    from parqueryd_spark.operators.selection import exact_group_quantiles, quantile_rank

    random.seed(5)
    data = {g: [random.choice([1.0, 2.5, 7.0, -1.0]) for _ in range(120)] for g in "xyz"}
    rows = [(g, v) for g, vals in data.items() for v in vals]
    df = spark.createDataFrame(rows, "grp string, value double")
    for p in (0.25, 0.5, 0.99):
        out = {
            r["grp"]: r["value"]
            for r in exact_group_quantiles(
                spark, df, ["grp"], "value", p, bins=4, exact_threshold=8
            ).collect()
        }
        for g, vals in data.items():
            assert out[g] == sorted(vals)[quantile_rank(p, len(vals)) - 1], (g, p)


def test_group_quantiles_max_groups_guard(spark):
    from parqueryd_spark.operators.selection import exact_group_quantiles

    df = spark.createDataFrame([(str(i), 1.0) for i in range(30)], "grp string, value double")
    with pytest.raises(ValueError):
        exact_group_quantiles(spark, df, ["grp"], "value", 0.5, max_groups=10)


def test_group_quantiles_null_key_is_a_real_group(spark):
    from parqueryd_spark.operators.selection import exact_group_quantiles

    rows = [(None, float(v)) for v in range(1, 8)] + [("a", 1.0), ("a", 9.0)]
    df = spark.createDataFrame(rows, "grp string, value double")
    out = {
        r["grp"]: r["value"]
        for r in exact_group_quantiles(
            spark, df, ["grp"], "value", 0.5, bins=4, exact_threshold=2
        ).collect()
    }
    assert out == {None: 4.0, "a": 1.0}


def test_cont_quantiles_match_duckdb_quantile_cont(spark):
    from parqueryd_spark.operators.selection import exact_quantiles_cont

    random.seed(77)
    for n in (10, 49, 997):
        vals = [random.uniform(-50, 150) for _ in range(n)]
        probs = [0.0, 0.1, 0.25, 0.5, 0.9, 0.959, 1.0]
        mine = {
            r["prob"]: r["value"]
            for r in exact_quantiles_cont(
                spark, _df(spark, vals), "value", probs, bins=8, exact_threshold=20
            ).collect()
        }
        duck = duckdb.sql(
            f"SELECT {', '.join(f'quantile_cont(x, {p})' for p in probs)}"
            f" FROM (SELECT unnest({vals}) AS x)"
        ).fetchone()
        for p, d in zip(probs, duck):
            assert mine[p] == round(float(d), 6), (n, p, mine[p], d)


def test_cont_quantiles_all_null_and_empty(spark):
    from parqueryd_spark.operators.selection import exact_quantiles_cont

    nulls = spark.createDataFrame([(None,), (None,)], "value double")
    out = exact_quantiles_cont(spark, nulls, "value", [0.5]).collect()
    assert out[0]["value"] is None


def test_exact_group_quantiles_cont_matches_sorted_oracle(spark):
    """Grouped interpolated quantiles equal the sorted-interpolation oracle
    per group (including a degenerate one-value group and a NULL key)."""
    import random

    from parqueryd_spark.operators.selection import exact_group_quantiles_cont

    rng = random.Random(1111)
    rows = (
        [("a", float(rng.randint(0, 1000))) for _ in range(257)]
        + [("b", float(rng.randint(0, 50))) for _ in range(64)]
        + [("c", 7.0)] * 40
        + [(None, float(i)) for i in range(11)]
    )
    df = spark.createDataFrame(rows, "grp string, value double")

    def oracle(vals, p):
        s = sorted(vals)
        pos = p * (len(s) - 1)
        lo = s[int(pos)]
        hi = s[min(int(pos) + 1, len(s) - 1)]
        return round(lo + (pos - int(pos)) * (hi - lo), 6)

    for p in (0.5, 0.9, 0.25):
        got = {
            r["grp"]: r["value"]
            for r in exact_group_quantiles_cont(
                spark, df, ["grp"], "value", p, bins=8, exact_threshold=16
            ).collect()
        }
        for g in ("a", "b", "c", None):
            vals = [v for k, v in rows if k == g]
            assert got[g] == oracle(vals, p), (g, p)
        assert len(got) == 4


def test_exact_group_quantiles_cont_matches_spark_percentile(spark):
    """Bit-agreement with Spark's own grouped percentile (≡ DuckDB
    quantile_cont) on the events table at sf0.001."""
    from pyspark.sql import functions as F

    from parqueryd_spark.operators.selection import exact_group_quantiles_cont

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = {
        r["event_type"]: r["value"]
        for r in exact_group_quantiles_cont(
            spark, ev, ["event_type"], "value", 0.9, bins=16, exact_threshold=64
        ).collect()
    }
    ref = {
        r["event_type"]: round(r["p"], 6)
        for r in ev.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.percentile("value", 0.9).alias("p"))
        .collect()
    }
    assert got == ref


def test_exact_group_quantiles_multi_prob(spark):
    """The list-of-probs form answers every (group, prob) in shared passes
    and matches the single-prob calls; coinciding ranks fan out correctly."""
    import random

    from parqueryd_spark.operators.selection import exact_group_quantiles

    rng = random.Random(2211)
    rows = [("a", float(rng.randint(0, 500))) for _ in range(300)] + [
        ("b", float(i)) for i in range(3)  # tiny group: p50/p90 ranks collide
    ]
    df = spark.createDataFrame(rows, "grp string, value double")
    probs = [0.5, 0.9, 0.99]
    multi = {
        (r["grp"], r["prob"]): r["value"]
        for r in exact_group_quantiles(
            spark, df, ["grp"], "value", probs, bins=8, exact_threshold=16
        ).collect()
    }
    assert len(multi) == 6
    for p in probs:
        single = {
            r["grp"]: r["value"]
            for r in exact_group_quantiles(
                spark, df, ["grp"], "value", p, bins=8, exact_threshold=16
            ).collect()
        }
        for g, v in single.items():
            assert multi[(g, p)] == v, (g, p)


def test_exact_group_quantiles_cont_multi_prob(spark):
    """The list-of-probs CONT form (r12, the selection matrix's last cell)
    answers every (group, prob) in shared passes and matches the single-prob
    calls bit-for-bit, including a tiny group whose bracketing ranks collide
    across probs and a NULL group key."""
    import random

    from parqueryd_spark.operators.selection import exact_group_quantiles_cont

    rng = random.Random(3312)
    rows = (
        [("a", float(rng.randint(0, 500))) for _ in range(300)]
        + [("b", float(i)) for i in range(3)]  # tiny group: ranks collide
        + [(None, float(rng.randint(0, 9))) for _ in range(17)]
    )
    df = spark.createDataFrame(rows, "grp string, value double")
    probs = [0.25, 0.5, 0.95]
    multi = {
        (r["grp"], r["prob"]): r["value"]
        for r in exact_group_quantiles_cont(
            spark, df, ["grp"], "value", probs, bins=8, exact_threshold=16
        ).collect()
    }
    assert len(multi) == 9
    for p in probs:
        single = {
            r["grp"]: r["value"]
            for r in exact_group_quantiles_cont(
                spark, df, ["grp"], "value", p, bins=8, exact_threshold=16
            ).collect()
        }
        for g, v in single.items():
            assert multi[(g, p)] == v, (g, p)
