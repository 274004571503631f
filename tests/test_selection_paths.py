"""Default-tier pins for the one exact-selection engine
(operators/selection.py): on one seeded input, with narrowing forced by
``bins=8, exact_threshold=16``, every entry point — global and grouped,
disc and cont, and a single rank — equals a sorted pure-Python oracle, the
global disc call equals the grouped call over no keys row for row, and no
entry point runs more Spark jobs per call than the three-engine code it
replaced.

The input covers ±inf, NaN (sorted last, as Spark sorts it), NULLs (dropped),
a one-value-dominated mass, a NULL-keyed group and a one-row group; the
probs include 0 and 1 and two probs that share a rank."""

from __future__ import annotations

import math
import random

import duckdb
import pytest

from parqueryd_spark.operators.selection import (
    exact_group_quantiles,
    exact_group_quantiles_cont,
    exact_quantiles,
    exact_quantiles_cont,
    exact_rank_value,
    quantile_rank,
)

KW = dict(bins=8, exact_threshold=16)
PROBS = [0.0, 0.1, 0.499, 0.5, 0.9, 1.0]
RANKS = [30]

# Spark jobs per call on this input, counted on the code before the engines
# were merged (separate global, grouped and single-rank loops). The
# single-rank call ran 3 there only because a NaN maximum stopped its loop
# before the first pass and it sorted the whole column; through the engine
# it narrows like the global call, so its bound is the global call's.
PARENT_JOBS = {
    "exact_quantiles": 9,
    "exact_quantiles_cont": 9,
    "exact_group_quantiles[]": 9,
    "exact_group_quantiles_cont[]": 10,
    "exact_group_quantiles[grp]": 9,
    "exact_group_quantiles_cont[grp]": 10,
}


def _rows():
    rng = random.Random(1919)
    inf, nan = float("inf"), float("nan")
    out = [("a", rng.uniform(-100, 100)) for _ in range(150)]
    out += [("a", 0.0)] * 120  # the dominated mass
    out += [("a", inf), ("a", -inf), ("a", inf), ("a", nan), ("a", None)]
    out += [("b", float(rng.randint(0, 20))) for _ in range(70)] + [("b", None), ("b", nan)]
    out += [(None, rng.uniform(0, 1)) for _ in range(40)] + [(None, None), (None, -inf)]
    out += [("c", 3.25)]  # a one-row group
    return out


def _sorted(vals):
    return sorted((v for v in vals if v is not None), key=lambda v: (math.isnan(v), v))


def _disc(vals, p):
    s = _sorted(vals)
    return s[quantile_rank(p, len(s)) - 1]


def _cont(vals, p):
    s = _sorted(vals)
    pos = p * (len(s) - 1)
    lo, hi = s[int(pos)], s[min(int(pos) + 1, len(s) - 1)]
    frac = pos - int(pos)
    return round(lo if frac == 0 else lo + frac * (hi - lo), 6)


def _same(a, b):
    return (a != a and b != b) or a == b


def _jobs(spark, group, fn):
    """``(fn(), number of Spark jobs fn submitted)``, tracked by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def runs(spark):
    """Each entry point's collected rows and job count, computed once."""
    df = spark.createDataFrame(_rows(), "grp string, value double")
    calls = {
        "exact_quantiles": lambda: exact_quantiles(spark, df, "value", PROBS, **KW).collect(),
        "exact_quantiles_cont": lambda: exact_quantiles_cont(
            spark, df, "value", PROBS, **KW
        ).collect(),
        "exact_group_quantiles[]": lambda: exact_group_quantiles(
            spark, df, [], "value", PROBS, **KW
        ).collect(),
        "exact_group_quantiles_cont[]": lambda: exact_group_quantiles_cont(
            spark, df, [], "value", PROBS, **KW
        ).collect(),
        "exact_group_quantiles[grp]": lambda: exact_group_quantiles(
            spark, df, ["grp"], "value", PROBS, **KW
        ).collect(),
        "exact_group_quantiles_cont[grp]": lambda: exact_group_quantiles_cont(
            spark, df, ["grp"], "value", PROBS, **KW
        ).collect(),
    }
    for r in RANKS:
        calls[f"exact_rank_value[{r}]"] = lambda r=r: exact_rank_value(df, "value", r, **KW)
    return {name: _jobs(spark, f"selection_paths_{name}", fn) for name, fn in calls.items()}


def test_input_covers_the_edges():
    vals = [v for _, v in _rows()]
    n = len(_sorted(vals))
    assert quantile_rank(0.499, n) == quantile_rank(0.5, n)  # two probs, one rank
    assert _disc(vals, 0.0) == float("-inf") and math.isnan(_disc(vals, 1.0))
    # on the NaN-free rows the oracles agree with DuckDB (whose quantiles
    # do not order NaN consistently: with NaN present, its quantile_disc at
    # 0.9 and quantile_cont at 0.1 disagree with any NaN-last sort)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (value DOUBLE)")
    finite = [v for v in vals if v == v]
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in finite])
    for p in PROBS:
        d, c = con.execute(
            f"SELECT quantile_disc(value, {p}), quantile_cont(value, {p}) FROM t"
        ).fetchone()
        assert d == _disc(finite, p) and round(c, 6) == _cont(finite, p), p


def test_global_entry_points_equal_the_sorted_oracle(runs):
    vals = [v for _, v in _rows()]
    for name, oracle in (("exact_quantiles", _disc), ("exact_quantiles_cont", _cont)):
        got = runs[name][0]
        assert [r["prob"] for r in got] == PROBS
        for r in got:
            assert _same(r["value"], oracle(vals, r["prob"])), (name, r)
    s = _sorted(vals)
    for rank in RANKS:
        assert runs[f"exact_rank_value[{rank}]"][0] == s[rank - 1], rank


def test_grouped_entry_points_equal_the_sorted_oracle(runs):
    by_group: dict = {}
    for g, v in _rows():
        by_group.setdefault(g, []).append(v)
    for name, oracle in (
        ("exact_group_quantiles[grp]", _disc),
        ("exact_group_quantiles_cont[grp]", _cont),
    ):
        got = {(r["grp"], r["prob"]): r["value"] for r in runs[name][0]}
        assert set(got) == {(g, p) for g in by_group for p in PROBS}
        for (g, p), v in got.items():
            assert _same(v, oracle(by_group[g], p)), (name, g, p, v)


def test_global_calls_are_the_grouped_calls_over_no_keys(runs):
    def rows(name):
        return sorted((r["prob"], r["value"]) for r in runs[name][0])

    for glob, grouped in (
        ("exact_quantiles", "exact_group_quantiles[]"),
        ("exact_quantiles_cont", "exact_group_quantiles_cont[]"),
    ):
        a, b = rows(glob), rows(grouped)
        assert len(a) == len(b)
        for x, y in zip(a, b):
            assert x[0] == y[0] and _same(x[1], y[1]), (glob, x, y)


def test_no_entry_point_runs_more_jobs_than_before(runs):
    jobs = {name: n for name, (_, n) in runs.items()}
    over = {name: (jobs[name], bound) for name, bound in PARENT_JOBS.items() if jobs[name] > bound}
    assert not over, over
    for rank in RANKS:
        assert jobs[f"exact_rank_value[{rank}]"] <= PARENT_JOBS["exact_quantiles"], jobs
