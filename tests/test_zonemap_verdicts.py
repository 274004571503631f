"""Default-tier pin of the zone-map verdict rules (``sources/manifest._plan``)
against Spark's own filter on the plain read: one tiny parquet file per
statistics shape (numeric, string, temporal, NaN, ±inf, constant, nulls,
an all-NULL column), every where-op over values inside, between, at and
outside the bounds. For every (file, term): a file holding a matching row
is kept, and a file proven ``full`` matches on every row. A column absent
from the manifest keeps every file and proves none full; NaN data gives the
same count and min/max on both writers."""

from __future__ import annotations

import datetime as dt
import math
import os
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parqueryd_spark.functions.compile import compile_where_terms, normalize_where_terms
from parqueryd_spark.sources.manifest import (
    _norm_path,
    _plan,
    build_manifest,
    count_pruned,
    minmax_pruned,
)

NAN, INF = float("nan"), float("inf")
D0 = dt.date(2026, 1, 1)
T0 = dt.datetime(2026, 1, 1, 6, tzinfo=dt.timezone.utc)

SCHEMA = pa.schema(
    [
        ("i", pa.int64()),
        ("x", pa.float64()),
        ("s", pa.string()),
        ("d", pa.date32()),
        ("t", pa.timestamp("us", tz="UTC")),
        ("z", pa.string()),
    ]
)


def _rows(n: int, i, x, s, day, hour=0):
    """``n`` rows; each field is a value or a per-row function of the row."""

    def f(v, k):
        return v(k) if callable(v) else v

    return [
        {
            "i": f(i, k),
            "x": f(x, k),
            "s": f(s, k),
            "d": None if f(day, k) is None else D0 + dt.timedelta(days=f(day, k)),
            "t": None if f(day, k) is None else T0 + dt.timedelta(days=f(day, k), hours=hour),
            "z": None,
        }
        for k in range(n)
    ]


SHAPES = {
    "numeric": _rows(5, lambda k: k, lambda k: float(k), lambda k: "abcde"[k], lambda k: k),
    "nan": _rows(3, lambda k: 10 + k, lambda k: [1.0, NAN, 3.0][k], "m", 2),
    "inf": _rows(3, lambda k: -k, lambda k: [-INF, 0.5, INF][k], "n", 3, hour=12),
    "quotes": _rows(
        4, 1, 2.0, lambda k: ["it's", "back\\slash", "é", "日本"][k], lambda k: 4 + k
    ),
    "constant": _rows(2, 7, 2.0, "k", 1),
    "nulls": _rows(
        3,
        lambda k: [None, 3, 4][k],
        lambda k: [None, 2.5, 3.5][k],
        lambda k: [None, "b", "x"][k],
        lambda k: [None, 0, 6][k],
    ),
}

_VALUES = {
    "i": [-5, 0, 3, 7, 99],
    "x": [-INF, 0.5, 1.0, 2.0, 3.5, INF, NAN],
    "s": ["", "b", "it's", "é", "x'; DROP"],
    "d": [D0 - dt.timedelta(days=1), D0 + dt.timedelta(days=2), dt.datetime(2026, 1, 3)],
    "t": [D0 + dt.timedelta(days=2), dt.datetime(2026, 1, 4, 12)],
    "z": ["a"],
}
_OPS = ["==", "!=", ">", ">=", "<", "<=", "in", "not in"]


def _terms() -> list[list]:
    """One term per (column, comparison op, value); the set ops over the
    first two values, the last two, and the empty set."""
    out = []
    for col, values in _VALUES.items():
        for op in _OPS[:6]:
            out += [[[col, op, v]] for v in values]
        for op in _OPS[6:]:
            out += [[[col, op, vs]] for vs in (values[:2], values[-2:], [])]
    return out


TERMS = _terms()


@pytest.fixture(scope="module")
def shapes(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("verdicts") / "data")
    os.makedirs(path)
    for name, rows in SHAPES.items():
        pq.write_table(pa.Table.from_pylist(rows, SCHEMA), os.path.join(path, f"{name}.parquet"))
    return path


def test_verdicts_agree_with_sparks_filter(spark, shapes):
    """Every (file, term): kept ⊇ matching, and full ⇒ every row matches.
    One pass evaluates every term on every row; a file dropped although a
    row satisfies the term is then read alone with the term as a filter,
    as Spark plans it: its row-group pushdown reads the same footer bounds
    (pyarrow leaves NaN rows out of them), so that read must find none."""
    df = spark.read.parquet(shapes)
    preds = [compile_where_terms(terms) for terms in TERMS]
    per_file = df.groupBy(F.input_file_name().alias("f")).agg(
        F.count(F.lit(1)).alias("n"),
        *(F.sum(F.when(p, 1).otherwise(0)).alias(f"m{i}") for i, p in enumerate(preds)),
    )
    rows = {_norm_path(r.f): r for r in per_file.collect()}
    assert len(rows) == len(SHAPES)
    mf = build_manifest(spark, shapes).cache()
    bad = []
    for i, terms in enumerate(TERMS):
        for v in _plan(mf, normalize_where_terms(terms), floats={"x"}):
            r = rows[_norm_path(v.file)]
            name = os.path.basename(v.file)
            if r[f"m{i}"] and not v.keep and spark.read.parquet(v.file).filter(preds[i]).count():
                bad.append((name, terms, "dropped a matching file"))
            if v.keep and v.full and (r[f"m{i}"] != r.n or v.n_rows != r.n):
                bad.append((name, terms, f"full but {r[f'm{i}']}/{r.n} rows match"))
    mf.unpersist()
    assert not bad, bad[:10]


def test_verdicts_prune_and_prove(spark, shapes):
    """The rules are not vacuous: a file outside a range is dropped, a
    constant file is proven full for ``==``, an all-NULL column drops every
    file for every op, and float bounds prove ``>`` but never ``<``."""
    mf = build_manifest(spark, shapes).cache()

    def plan(terms, floats=("x",)):
        return {
            os.path.basename(v.file).split(".")[0]: v
            for v in _plan(mf, normalize_where_terms(terms), floats=set(floats))
        }

    assert {f for f, v in plan([["i", ">", 5]]).items() if v.keep} == {"nan", "constant"}
    assert plan([["i", "==", 7]])["constant"].full
    assert plan([["s", "==", "it's"]])["quotes"].keep
    assert not plan([["s", ">", "日本"]])["quotes"].keep
    for op in _OPS:
        value = ["a"] if op in ("in", "not in") else "a"
        assert not any(v.keep for v in plan([["z", op, value]]).values()), op
    assert plan([["x", ">", 0.0]])["nan"].full
    assert not plan([["x", "<", 5.0]])["nan"].full
    assert plan([["x", "<", 5.0]], floats=())["nan"].full  # what the float rule withholds
    assert not plan([["x", "!=", NAN]])["numeric"].full
    assert not any(v.keep for v in plan([["i", "in", []]]).values())
    mf.unpersist()


def test_absent_manifest_column_keeps_and_never_proves(spark, shapes):
    """A term on a column the narrowed manifest lacks keeps every file and
    proves none full, whatever the op."""
    mf = build_manifest(spark, shapes, columns=["x"]).cache()
    for terms in TERMS:
        if terms[0][0] == "x" or terms[0][2] not in (0, [], "b", D0 + dt.timedelta(days=2)):
            continue
        plan = _plan(mf, normalize_where_terms(terms))
        assert len(plan) == len(SHAPES), terms
        assert all(v.keep and not v.full for v in plan), terms
    mf.unpersist()


def _spark_write(spark, path: str, vals: list[float]) -> None:
    spark.createDataFrame([(v,) for v in vals], "v double").coalesce(1).write.parquet(path)


def _pyarrow_write(spark, path: str, vals: list[float]) -> None:
    os.makedirs(path)
    pq.write_table(pa.table({"v": vals}), os.path.join(path, "part-0.parquet"))


@pytest.mark.parametrize("write", [_pyarrow_write, _spark_write], ids=["pyarrow", "spark"])
def test_nan_metadata_answers_equal_sparks(spark, tmp_path, write):
    """A double column holding 0.0–9.0 and one NaN: pyarrow leaves NaN out
    of its statistics, parquet-mr writes a NaN maximum. ``count_pruned``
    counts what Spark counts (NaN rows fail ``<``), ``minmax_pruned`` gives
    Spark's ``(0.0, nan)``, and a NaN footer bound is recorded as no
    bounds."""
    path = str(tmp_path / "nan")
    write(spark, path, [float(i) for i in range(10)] + [NAN])
    mf = build_manifest(spark, path).cache()
    plain = spark.read.parquet(path)
    for terms in (
        [["v", "<", 100.0]],
        [["v", "<=", 9.0]],
        [["v", ">", 50.0]],
        [["v", ">=", 0.0]],
        [["v", "!=", NAN]],
        [["v", "<", NAN]],
        [["v", "==", NAN]],
    ):
        want = plain.filter(compile_where_terms(terms)).count()
        assert count_pruned(spark, path, terms, manifest=mf) == want, terms
    lo, hi = minmax_pruned(spark, path, "v", manifest=mf)
    row = plain.agg(F.min("v"), F.max("v")).collect()[0]
    assert lo == row[0] and math.copysign(1, lo) == math.copysign(1, row[0])
    assert math.isnan(hi) and math.isnan(row[1])
    stats = mf.filter("column = 'v'").collect()[0]
    assert stats.has_min_max == (write is _pyarrow_write)
    mf.unpersist()
