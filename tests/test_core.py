"""Unit tests for the parqueryd-parity core: where/agg compilers, silent-missing
paths, aggregate=False, null handling, shard equivalence."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from parqueryd_spark.core import ParquetEngine, aggregate_files
from parqueryd_spark.functions.compile import (
    QueryCompileError,
    compile_where_terms,
    normalize_agg_list,
)
from tests.conftest import SF_SMOKE


def test_normalize_agg_shorthand():
    assert normalize_agg_list(["a"]) == [("a", "sum", "a")]
    assert normalize_agg_list([["a"]]) == [("a", "sum", "a")]
    assert normalize_agg_list([["a", "mean"]]) == [("a", "mean", "a")]
    assert normalize_agg_list([["a", "Mean", "b"]]) == [("a", "mean", "b")]
    with pytest.raises(QueryCompileError):
        normalize_agg_list([["a", "median", "b"]])
    with pytest.raises(QueryCompileError):
        normalize_agg_list([[]])


def test_where_term_validation(spark):
    assert compile_where_terms([]) is None
    assert compile_where_terms(None) is None
    with pytest.raises(QueryCompileError):
        compile_where_terms([["a", "like", "x"]])
    with pytest.raises(QueryCompileError):
        compile_where_terms([["a", "=="]])


def test_all_missing_returns_none(spark):
    out = aggregate_files(spark, ["/no/such/file.parquet"], ["a"], [["b", "sum", "b"]])
    assert out is None


def test_engine_all_missing_returns_empty_df(spark):
    eng = ParquetEngine(spark, data_dir="/tmp/definitely-missing-dir")
    out = eng.groupby(["nope.parquet"], ["a"], [["b", "sum", "b"]])
    assert out.count() == 0


def test_scheme_qualified_paths_checked_via_hadoop_fs(spark):
    """Object-store shard URIs must be existence-checked through Hadoop
    FileSystem, not os.path (which can never see them): a mixed list of
    existing and missing file:-scheme URIs keeps exactly the real ones, and
    bare/local behavior is unchanged."""
    from parqueryd_spark.sources.parquet import read_parquet, resolve_paths

    real = os.path.join(SF_SMOKE, "lineitem.parquet")
    resolved = resolve_paths(
        [f"file://{real}", f"file://{SF_SMOKE}/no_such_shard.parquet", "/no/such/local.parquet"],
        spark=spark,
    )
    assert resolved == [f"file://{real}"]
    # extension fallback works through the scheme path too
    assert resolve_paths([f"file://{SF_SMOKE}/lineitem"], spark=spark) == [f"file://{real}"]
    # scheme-qualified data_dir joins with '/' and survives the FS check
    assert resolve_paths(["lineitem"], data_dir=f"file://{SF_SMOKE}", spark=spark) == [f"file://{real}"]
    df = read_parquet(spark, [f"file://{real}", f"file://{SF_SMOKE}/nope.parquet"])
    assert df is not None and df.count() > 0
    assert read_parquet(spark, [f"file://{SF_SMOKE}/nope.parquet"]) is None


def test_bare_filename_against_data_dir(spark):
    eng = ParquetEngine(spark, data_dir=SF_SMOKE)
    # with and without the .parquet extension (reference DATA_FILE_EXTENSION,
    # worker.py:44)
    for fname in ["lineitem.parquet", "lineitem"]:
        out = eng.groupby([fname], ["l_returnflag"], [["l_quantity", "sum", "s"]])
        assert out.count() == 3


def test_aggregate_false_projects_dedup_columns(spark):
    out = aggregate_files(
        spark,
        [os.path.join(SF_SMOKE, "lineitem.parquet")],
        ["l_returnflag"],
        [["l_quantity", "sum", "x"], ["l_returnflag", "count", "y"]],
        aggregate=False,
    )
    assert out.columns == ["l_returnflag", "l_quantity"]


def test_null_handling_count_variants(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "k": ["a", "a", "a", "b", "b"],
            "v": [1.0, None, 3.0, None, None],
        }
    )
    path = str(tmp_path / "nulls.parquet")
    pdf.to_parquet(path)
    out = aggregate_files(
        spark,
        [path],
        ["k"],
        [
            ["v", "count", "cnt"],
            ["v", "count_na", "cnt_na"],
            ["v", "count_distinct", "cnt_d"],
            ["v", "sum", "s"],
            ["v", "mean", "m"],
        ],
    ).toPandas().set_index("k").sort_index()
    assert out.loc["a", "cnt"] == 2 and out.loc["b", "cnt"] == 0
    assert out.loc["a", "cnt_na"] == 1 and out.loc["b", "cnt_na"] == 2
    assert out.loc["a", "cnt_d"] == 2 and out.loc["b", "cnt_d"] == 0
    assert out.loc["a", "s"] == 4.0
    # sum/mean of all-null group: pandas oracle gives NaN mean; Spark gives null
    assert pd.isna(out.loc["b", "m"])


def test_shard_equivalence(spark, tmp_path):
    """Result over N shards == result over the single file — the corrected O7
    semantics (SURVEY.md §2 O7: the reference concats partials; we merge)."""
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(SF_SMOKE, "lineitem.parquet"))
    n = table.num_rows
    shards = []
    for i in range(3):
        shard = table.slice(i * n // 3, (i + 1) * n // 3 - i * n // 3)
        p = str(tmp_path / f"shard_{i}.parquet")
        pq.write_table(shard, p)
        shards.append(p)

    args = (
        ["l_returnflag", "l_linestatus"],
        [
            ["l_quantity", "sum", "s"],
            ["l_quantity", "mean", "m"],
            ["l_orderkey", "count_distinct", "cd"],
        ],
    )
    full = (
        aggregate_files(spark, [os.path.join(SF_SMOKE, "lineitem.parquet")], *args)
        .toPandas()
        .sort_values(["l_returnflag", "l_linestatus"])
        .reset_index(drop=True)
    )
    sharded = (
        aggregate_files(spark, shards, *args)
        .toPandas()
        .sort_values(["l_returnflag", "l_linestatus"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(full, sharded, check_exact=False, rtol=1e-9)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
    assert "q1_pricing_summary" in qs


def test_read_resolved_schema_equals_spark_inference(spark, tmp_path):
    """``read_resolved`` takes its schema from one driver-side footer read
    instead of Spark's inference job; schema and rows equal
    ``spark.read.parquet``'s for single files, Spark-written and
    hive-partitioned directories, a partition subdirectory and a
    TIMESTAMP(NANOS) file under ``nanosAsLong``. With no data file to read,
    it raises the error Spark raises."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from parqueryd_spark.sources.parquet import _footer_schema, read_resolved

    single = str(tmp_path / "single.parquet")
    pq.write_table(
        pa.table({"k": [1, 2, 3], "s": ["a", None, "c"], "d": [dt.date(2026, 1, i) for i in (1, 2, 3)]}),
        single,
    )
    spark_dir = str(tmp_path / "spark_dir")
    hive_dir = str(tmp_path / "hive_dir")
    rows = spark.range(40).select(
        "id", (F.col("id") % 3).alias("p"), F.format_string("v%02d", "id").alias("v")
    )
    rows.coalesce(2).write.parquet(spark_dir)
    rows.write.partitionBy("p").parquet(hive_dir)
    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_700_000_000_123_456_789, 5], pa.timestamp("ns")), "x": [1.5, 2.5]}),
        nanos,
        version="2.6",
    )
    assert os.path.exists(os.path.join(spark_dir, "_SUCCESS"))

    def check(path):
        assert _footer_schema(spark, path) is not None, path  # no fallback
        want = spark.read.parquet(path)
        got = read_resolved(spark, [path])
        assert got.schema == want.schema, path
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect())), path

    for path in (single, spark_dir, hive_dir, os.path.join(hive_dir, "p=1")):
        check(path)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        check(nanos)
    finally:
        spark.conf.set(key, before)

    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(Exception) as want_err:
        spark.read.parquet(str(empty))
    with pytest.raises(Exception) as got_err:
        read_resolved(spark, [str(empty)])
    assert type(got_err.value) is type(want_err.value)
