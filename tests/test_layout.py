"""Layout tests: partition pruning visible in the plan, atomic publish,
approximate aggregates' error bounds."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from parqueryd_spark.plans.audit import explain_str
from parqueryd_spark.sources.layout import optimize_layout, write_partitioned
from parqueryd_spark.sources.parquet import load_table
from parqueryd_spark.sources.sinks import atomic_publish
from tests.conftest import SF_SMOKE


def test_partition_pruning_in_plan(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events")
    path = str(tmp_path / "events_by_date")
    write_partitioned(ev, path, {"event_date": F.to_date("ts")})
    # partition directories exist
    assert any(d.startswith("event_date=") for d in os.listdir(path))

    df = spark.read.parquet(path).filter(F.col("event_date") == "2024-01-02")
    plan = explain_str(df, "formatted")
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines and "event_date" in pf_lines[0]  # pruned at planning, not scanned
    # correctness: matches a ts-range filter on the raw table
    want = ev.filter((F.col("ts") >= "2024-01-02") & (F.col("ts") < "2024-01-03")).count()
    assert df.count() == want


def test_optimize_layout_preserves_rows(spark, tmp_path):
    li = load_table(spark, SF_SMOKE, "lineitem")
    out = optimize_layout(li, ["l_shipdate"], target_partitions=4)
    assert out.count() == li.count()
    path = str(tmp_path / "li_sorted")
    out.write.parquet(path)
    # row-group stats selectivity: a narrow date filter reads fine & correct
    narrow = spark.read.parquet(path).filter(F.col("l_shipdate") < "1995-01-05")
    assert narrow.count() == li.filter(F.col("l_shipdate") < "1995-01-05").count()


def test_publish_atomic_swap(spark, tmp_path):
    path = str(tmp_path / "published")
    v1 = spark.range(10).withColumnRenamed("id", "x")
    atomic_publish(v1, path)
    assert spark.read.parquet(path).count() == 10
    v2 = spark.range(25).withColumnRenamed("id", "x")
    atomic_publish(v2, path)
    assert spark.read.parquet(path).count() == 25
    assert not os.path.exists(path + ".staging") and not os.path.exists(path + ".old")


def test_approx_aggregates_error_bounds(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey").alias("acd"),
        F.countDistinct("l_partkey").alias("cd"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("ap50"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
    ).collect()[0]
    assert abs(row.acd - row.cd) / row.cd < 0.05  # HLL default rsd ~2.3%
    assert abs(row.ap50 - row.p50) / row.p50 < 0.01


def test_read_parquet_merge_schema_across_shards(spark, tmp_path):
    """Shards written before/after a schema evolution (new column added) must
    read as one table under merge_schema=True, with nulls where the old shard
    lacks the column — at 100 TB a dataset's shards are never rewritten in
    lockstep, so drift tolerance is a source-level contract."""
    from parqueryd_spark.sources.parquet import read_parquet

    old = str(tmp_path / "gen1.parquet")
    new = str(tmp_path / "gen2.parquet")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(old)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(new)

    merged = read_parquet(spark, [old, new], merge_schema=True)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5
    # missing shards still silently ignored alongside evolution
    partial = read_parquet(spark, [old, new, str(tmp_path / "nope.parquet")], merge_schema=True)
    assert partial.count() == 2


def test_dynamic_partition_pruning(spark, tmp_path):
    """A hive-partitioned fact joined to a selectively-filtered dim must plan
    a dynamicpruningexpression on the partition column: at 100 TB the join
    touches only the partitions the dim's runtime row-set names, not the full
    table — the runtime sibling of the static PartitionFilters test above."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from parqueryd_spark.sources.layout import write_partitioned
    from parqueryd_spark.sources.parquet import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    fact_path = str(tmp_path / "orders_by_priority")
    write_partitioned(orders, fact_path, {"o_orderpriority": "o_orderpriority"})

    dim = (
        orders.select("o_orderpriority")
        .distinct()
        .withColumn("pri_rank", F.dense_rank().over(Window.orderBy("o_orderpriority")))
    )
    dim_path = str(tmp_path / "priority_dim")
    dim.write.parquet(dim_path)

    fact = spark.read.parquet(fact_path)
    filtered_dim = spark.read.parquet(dim_path).where(F.col("pri_rank") == 1)
    joined = fact.join(filtered_dim, "o_orderpriority").groupBy("o_orderpriority").count()

    from parqueryd_spark.plans.audit import explain_str

    plan = explain_str(joined, "formatted")
    assert "dynamicpruning" in plan.lower(), "no dynamic partition pruning planned"
    # and it actually returns only the one priority's rows
    rows = joined.collect()
    assert len(rows) == 1
