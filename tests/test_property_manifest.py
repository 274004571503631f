"""Property-based soundness for zone-map pruning: for ARBITRARY small
datasets (nulls, NaN, ±inf, duplicated values, negatives, empty strings,
single-row files) and ARBITRARY where-term lists, scan_pruned must equal the full
filtered scan and count_pruned must equal the exact count. Hypothesis
drives the generator; Spark executions are slow, so examples are few but
adversarial (shrinking converges on minimal counterexamples)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from parqueryd_spark.functions.compile import compile_where_terms
from parqueryd_spark.sources.manifest import build_manifest, count_pruned, scan_pruned

import datetime as _dt

# NaN sorts above every number in Spark and equals itself; ±inf are
# ordinary bounds. Both reach the footers, so both reach the verdicts.
_SPECIAL = st.sampled_from([float("nan"), float("inf"), float("-inf")])
_NUMS = st.one_of(
    st.none(),
    st.integers(min_value=-50, max_value=50).map(float),
    _SPECIAL,
)
_NUM_TERMS = st.one_of(st.integers(-55, 55).map(float), _SPECIAL)
_STRS = st.one_of(st.none(), st.sampled_from(["", "a", "ab", "b", "zz"]))
_DAYS = st.one_of(st.none(), st.integers(0, 6))  # date offsets from 2026-01-01
_ROWS = st.lists(st.tuples(_NUMS, _STRS, _DAYS), min_size=1, max_size=30)

_OPS_NUM = ["==", "!=", ">", ">=", "<", "<=", "in", "not in"]

_D0 = _dt.date(2026, 1, 1)


def _temporal_val(day: int, as_datetime: bool, hour: int):
    d = _D0 + _dt.timedelta(days=day)
    return _dt.datetime(d.year, d.month, d.day, hour) if as_datetime else d


@st.composite
def _terms(draw):
    out = []
    for _ in range(draw(st.integers(0, 2))):
        col = draw(st.sampled_from(["v", "s", "d", "t"]))
        op = draw(st.sampled_from(_OPS_NUM))
        if col == "v":
            val = draw(_NUM_TERMS)
        elif col == "s":
            val = draw(st.sampled_from(["", "a", "ab", "c", "zz"]))
        else:
            # temporal terms deliberately CROSS types: date terms against the
            # timestamp column and datetime terms against the date column
            # (the ADVICE r8 unsound-unit regression surface)
            val = _temporal_val(
                draw(st.integers(-1, 7)),
                draw(st.booleans()),
                draw(st.sampled_from([0, 12])),
            )
        if op in ("in", "not in"):
            if col == "s":
                extra = draw(st.sampled_from(["a", "b"]))
            elif col == "v":
                extra = draw(_NUM_TERMS)
            else:
                extra = _temporal_val(draw(st.integers(-1, 7)), draw(st.booleans()), 0)
            val = [val, extra]
        out.append([col, op, val])
    return out


@pytest.fixture(scope="module")
def seq(tmp_path_factory):
    return {"root": tmp_path_factory.mktemp("prop_manifest"), "i": 0}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(rows=_ROWS, terms=_terms(), n_files=st.integers(1, 4))
def test_pruned_scan_and_count_equal_exact(spark, seq, rows, terms, n_files):
    seq["i"] += 1
    path = str(seq["root"] / f"d{seq['i']}")
    df = spark.createDataFrame(
        [
            (
                i,
                v,
                s,
                None if day is None else _D0 + _dt.timedelta(days=day),
                None
                if day is None
                else _dt.datetime(2026, 1, 1, 6) + _dt.timedelta(days=day),
            )
            for i, (v, s, day) in enumerate(rows)
        ],
        "k long, v double, s string, d date, t timestamp",
    )
    df.repartition(min(n_files, len(rows))).write.mode("overwrite").parquet(path)
    mf = build_manifest(spark, path)

    pred = compile_where_terms(terms)
    full = spark.read.parquet(path)
    if pred is not None:
        full = full.filter(pred)
    want = sorted(r.k for r in full.collect())
    got = sorted(
        r.k for r in scan_pruned(spark, path, terms, manifest=mf).collect()
    )
    assert got == want, (terms, rows)
    assert count_pruned(spark, path, terms, manifest=mf) == len(want), (terms, rows)


_INTERVALS = st.lists(
    st.tuples(st.integers(-30, 30), st.integers(0, 25)), min_size=1, max_size=20
)

# raw (start, end) pairs, either bound possibly NULL or inverted — the
# ADVICE r8 crash surface (assert_true guard evaluated on NULL bounds)
_RAW_INTERVALS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(-30, 30)),
        st.one_of(st.none(), st.integers(-30, 40)),
    ),
    min_size=1,
    max_size=15,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ia=_RAW_INTERVALS, ib=_RAW_INTERVALS, width=st.sampled_from([3.0, 11.0]))
def test_interval_join_null_and_inverted_bounds_property(spark, ia, ib, width):
    """NULL-bound and inverted (end <= start) intervals contain no points:
    they must be silently dropped, never crash the bucket guard, and never
    contribute pairs."""
    from parqueryd_spark.operators.relational import interval_join

    a = spark.createDataFrame(
        [(i, None if s is None else float(s), None if e is None else float(e))
         for i, (s, e) in enumerate(ia)],
        "aid long, astart double, aend double",
    )
    b = spark.createDataFrame(
        [(i, None if s is None else float(s), None if e is None else float(e))
         for i, (s, e) in enumerate(ib)],
        "bid long, bstart double, bend double",
    )
    got = sorted(
        (r.aid, r.bid)
        for r in interval_join(a, b, ("astart", "aend"), ("bstart", "bend"), width).collect()
    )
    want = sorted(
        (i, j)
        for i, (s, e) in enumerate(ia)
        for j, (t, f) in enumerate(ib)
        if s is not None and e is not None and t is not None and f is not None
        and s < e and t < f and s < f and t < e
    )
    assert got == want, (ia, ib, width)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    ia=_INTERVALS,
    ib=_INTERVALS,
    width=st.sampled_from([1.0, 3.0, 7.0, 50.0]),
)
def test_interval_join_equals_theta_property(spark, ia, ib, width):
    """interval_join over arbitrary (possibly touching, nested, duplicate,
    zero-length) intervals equals the naive theta join at any bucket width —
    zero-length intervals [x, x) match nothing (half-open)."""
    from parqueryd_spark.operators.relational import interval_join

    a = spark.createDataFrame(
        [(i, float(s), float(s + l)) for i, (s, l) in enumerate(ia)],
        "aid long, astart double, aend double",
    )
    b = spark.createDataFrame(
        [(i, float(s), float(s + l)) for i, (s, l) in enumerate(ib)],
        "bid long, bstart double, bend double",
    )
    got = sorted(
        (r.aid, r.bid)
        for r in interval_join(a, b, ("astart", "aend"), ("bstart", "bend"), width).collect()
    )
    # pure-Python oracle: exact, and far cheaper than a second Spark job.
    # The l > 0 / m > 0 guards matter: the naive s < f && t < e overlap
    # formula is only valid for NON-empty intervals — a zero-length [x, x)
    # contains no points and overlaps nothing (hypothesis found exactly this
    # counterexample against the unguarded oracle; the operator drops empty
    # intervals by construction).
    want = sorted(
        (i, j)
        for i, (s, l) in enumerate(ia)
        for j, (t, m) in enumerate(ib)
        if l > 0 and m > 0 and s < t + m and t < s + l
    )
    assert got == want, (ia, ib, width)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    xs=st.lists(st.integers(-40, 40), min_size=1, max_size=20),
    ys=st.lists(st.integers(-40, 40), min_size=1, max_size=20),
    delta=st.sampled_from([0.0, 1.0, 5.0, 13.0]),
    wmul=st.sampled_from([1.0, 2.5, 10.0]),
)
def test_band_join_equals_theta_property(spark, xs, ys, delta, wmul):
    from parqueryd_spark.operators.relational import band_join

    a = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(xs)], "aid long, x double"
    )
    b = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(ys)], "bid long, y double"
    )
    width = max(delta, 1e-9) * wmul
    got = sorted(
        (r.aid, r.bid)
        for r in band_join(a, b, "x", "y", delta, bucket_width=width).collect()
    )
    want = sorted(
        (i, j)
        for i, x in enumerate(xs)
        for j, y in enumerate(ys)
        if abs(x - y) <= delta
    )
    assert got == want, (xs, ys, delta, wmul)
