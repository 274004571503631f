"""KMV (theta) sketches (operators/sketches.py): exact under k, bounded
error over k, bit-exact merge ≡ direct, and set-operation estimates —
the intersection capability HLL state doesn't have."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parqueryd_spark.operators.sketches import (
    kmv_distinct,
    kmv_merge,
    kmv_set_estimates,
    kmv_sketch,
)

K = 1024


@pytest.fixture(scope="module")
def groups(spark):
    """A: 100k distinct (duplicated rows), B: 100k shifted by 50k (50k
    overlap), C: 500 distinct (< k, exact path), D: has NULLs."""
    return (
        spark.range(100_000).select(F.lit("A").alias("g"), F.col("id").alias("v"))
        .union(spark.range(100_000).select(F.lit("A"), F.col("id")))
        .union(spark.range(50_000, 150_000).select(F.lit("B"), F.col("id")))
        .union(spark.range(500).select(F.lit("C"), F.col("id")))
        .union(
            spark.range(10).select(
                F.lit("D"), F.when(F.col("id") < 5, F.col("id"))
            )
        )
    )


@pytest.fixture(scope="module")
def sketch(spark, groups):
    sk = kmv_sketch(groups, ["g"], "v", k=K).cache()
    sk.count()
    yield sk
    sk.unpersist()


def test_small_groups_are_exact_and_nulls_excluded(sketch):
    est = {r.g: r.n_distinct for r in kmv_distinct(sketch, K).collect()}
    assert est["C"] == 500
    assert est["D"] == 5  # 5 non-null values; NULLs are not a phantom value


def test_large_groups_within_relative_error(sketch):
    est = {r.g: r.n_distinct for r in kmv_distinct(sketch, K).collect()}
    for g in ("A", "B"):
        assert abs(est[g] - 100_000) / 100_000 < 0.10, (g, est[g])


def test_merge_is_bit_exact_vs_direct(spark, groups, sketch):
    h1 = kmv_sketch(groups.filter(F.col("v") % 2 == 0), ["g"], "v", K)
    h2 = kmv_sketch(
        groups.filter((F.col("v") % 2 == 1) | F.col("v").isNull()), ["g"], "v", K
    )
    merged = {r.g: r.kmv for r in kmv_merge([h1, h2], ["g"], K).collect()}
    direct = {r.g: r.kmv for r in sketch.collect()}
    assert merged == direct


def test_set_estimates_track_exact_overlap(sketch):
    a = sketch.filter("g = 'A'").select(F.col("kmv").alias("a_kmv"))
    b = sketch.filter("g = 'B'").select(F.col("kmv").alias("b_kmv"))
    i_est, u_est = kmv_set_estimates("a", "b", K)
    row = a.crossJoin(b).select(i_est, u_est).collect()[0]
    assert abs(row.n_intersect_est - 50_000) / 50_000 < 0.10
    assert abs(row.n_union_est - 150_000) / 150_000 < 0.05


def test_undersized_pair_is_exact(sketch):
    """Two under-k sketches retain everything: theta stays 1.0 and the
    set estimates are exact."""
    c = sketch.filter("g = 'C'").select(F.col("kmv").alias("a_kmv"))
    d = sketch.filter("g = 'D'").select(F.col("kmv").alias("b_kmv"))
    i_est, u_est = kmv_set_estimates("a", "b", K)
    row = c.crossJoin(d).select(i_est, u_est).collect()[0]
    assert row.n_intersect_est == 5 and row.n_union_est == 500


def test_k_guard():
    with pytest.raises(ValueError):
        kmv_sketch(None, ["g"], "v", k=1)
