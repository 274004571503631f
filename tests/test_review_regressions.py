"""Regression tests for review findings: prefix-filter float shortfall at the
exact threshold, LSH banding validation, string-id dedup, asof column guards,
compiler op normalization, early query validation."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from parqueryd_spark.core import aggregate_files
from parqueryd_spark.functions.compile import QueryCompileError, compile_where_terms
from parqueryd_spark.operators.dedup import exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs
from parqueryd_spark.operators.relational import asof_join


def test_jaccard_exact_at_threshold_boundary(spark):
    """A pair at exactly Jaccard 0.8 with |S| divisible by 5 — the double
    arithmetic shortfall case: floor(0.19999...*10) lost one prefix element
    and could drop the pair from candidates."""
    words = [f"w{i}" for i in range(12)]
    # doc a: 10 distinct 1-token shingles via k=1... use k=3 shingles directly:
    # construct texts whose 3-gram shingle sets have |A|=10, |B|=8, |A∩B|=8
    a_text = " ".join(words[:12])  # 10 distinct 3-gram shingles
    b_text = " ".join(words[2:12])  # 8 shingles, all contained in a's set
    df = spark.createDataFrame([(1, a_text), (2, b_text)], "doc_id long, text string")
    out = ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.8).collect()
    assert len(out) == 1 and abs(out[0].jaccard - 0.8) < 1e-12


def test_minhash_param_validation(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="multiple of bands"):
        minhash_lsh_pairs(df, "doc_id", "text", num_hashes=16, bands=32)
    with pytest.raises(ValueError, match="multiple of bands"):
        minhash_lsh_pairs(df, "doc_id", "text", num_hashes=100, bands=32)


def test_exact_dedup_string_ids(spark):
    df = spark.createDataFrame(
        [("doc-b", "same"), ("doc-a", "same"), ("doc-c", "other")],
        "doc_id string, text string",
    )
    out = exact_dedup(df, "text", "doc_id").toPandas().sort_values("n_copies")
    assert list(out["keep_id"]) == ["doc-c", "doc-a"]  # lowest string id kept, not NULL


def test_asof_right_ts_in_right_cols_no_duplicate_columns(spark):
    left = spark.createDataFrame([(1, 100.0)], "k long, ts double").select(
        "k", F.timestamp_seconds("ts").alias("ts")
    )
    right = spark.createDataFrame([(1, 90.0, "a")], "k long, ts double, v string").select(
        "k", F.timestamp_seconds("ts").alias("ts"), "v"
    )
    out = asof_join(left, right, ["k"], "ts", "ts", right_cols=["ts", "v"])
    assert out.columns.count("ts_right") == 1
    with pytest.raises(ValueError, match="__"):
        asof_join(left.withColumn("__tag", F.lit(1)), right, ["k"], "ts", "ts")


def test_compiler_op_normalization(spark):
    assert compile_where_terms([["a", " IN ", [1]]]) is not None
    assert compile_where_terms([["a", " == ", 1]]) is not None  # padded compare op
    with pytest.raises(QueryCompileError):
        compile_where_terms([["a", ["=="], 1]])  # unhashable op -> typed error


def test_invalid_agg_raises_even_with_missing_shards(spark):
    with pytest.raises(QueryCompileError):
        aggregate_files(spark, ["/no/such.parquet"], ["k"], [], aggregate=True)
    with pytest.raises(QueryCompileError):
        aggregate_files(spark, ["/no/such.parquet"], ["k"], [["v", "median", "m"]])


# ---- round-11 ADVICE regressions -------------------------------------------


def test_degenerate_bin_skips_sort_resolve(spark):
    """A zero-heavy column (one value dominating past exact_threshold) must
    resolve WITHOUT the sort-based resolve: when every unit lands in a
    one-value bin, the engine's frame has no Window node and the answer is
    exact (ADVICE r10: the stalled interval otherwise funnels through one
    sort). A rank outside the dominated mass still takes the window."""
    from parqueryd_spark.operators.selection import exact_group_quantiles, exact_rank_value

    def plan(out):
        return out._jdf.queryExecution().executedPlan().toString()

    rows = [(0.0,)] * 500 + [(float(i),) for i in range(1, 51)]
    df = spark.createDataFrame(rows, "value double")
    # rank 250 lands mid-zero-mass; threshold far below 500 forces narrowing
    out = exact_group_quantiles(spark, df, [], "value", 0.45, bins=8, exact_threshold=16)
    assert [r["value"] for r in out.collect()] == [0.0]
    assert "Window" not in plan(out)
    assert exact_rank_value(df, "value", 250, bins=8, exact_threshold=16) == 0.0
    tail = exact_group_quantiles(spark, df, [], "value", 0.99, bins=8, exact_threshold=16)
    assert [r["value"] for r in tail.collect()] == [45.0]
    assert "Window" in plan(tail)
    # all-equal column: answered with zero passes and no window
    const = spark.createDataFrame([(7.0,)] * 100, "value double")
    out = exact_group_quantiles(spark, const, [], "value", 0.5, exact_threshold=10)
    assert [r["value"] for r in out.collect()] == [7.0]
    assert "Window" not in plan(out)
    assert exact_rank_value(const, "value", 50, exact_threshold=10) == 7.0


def test_degenerate_bin_shared_pass_quantiles(spark):
    """exact_quantiles / exact_group_quantiles answer dominated ranks via the
    degenerate-bin shortcut and still match the sorted oracle."""
    from parqueryd_spark.operators.selection import (
        exact_group_quantiles,
        exact_quantiles,
        quantile_rank,
    )

    vals = [0.0] * 400 + [float(i) for i in range(1, 41)]
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    s = sorted(vals)
    got = {
        r["prob"]: r["value"]
        for r in exact_quantiles(
            spark, df, "value", [0.1, 0.5, 0.95], bins=8, exact_threshold=16
        ).collect()
    }
    for p in (0.1, 0.5, 0.95):
        assert got[p] == s[quantile_rank(p, len(vals)) - 1]

    grows = [("a", v) for v in vals] + [("b", float(i)) for i in range(100)]
    gdf = spark.createDataFrame(grows, "grp string, value double")
    gout = {
        r["grp"]: r["value"]
        for r in exact_group_quantiles(
            spark, gdf, ["grp"], "value", 0.5, bins=8, exact_threshold=16
        ).collect()
    }
    a_vals = sorted(v for g, v in grows if g == "a")
    b_vals = sorted(v for g, v in grows if g == "b")
    assert gout["a"] == a_vals[quantile_rank(0.5, len(a_vals)) - 1]
    assert gout["b"] == b_vals[quantile_rank(0.5, len(b_vals)) - 1]


def test_group_quantiles_cardinality_guard_precedes_collect(spark):
    """max_groups is enforced by a bounded count BEFORE any driver collect
    (ADVICE r10: the unbounded collect could OOM first)."""
    from parqueryd_spark.operators.selection import exact_group_quantiles

    df = spark.range(100).select(
        F.col("id").alias("grp"), F.col("id").cast("double").alias("value")
    )
    with pytest.raises(ValueError, match="max_groups=10"):
        exact_group_quantiles(spark, df, ["grp"], "value", 0.5, max_groups=10)


def test_mad_baselines_null_keyed_groups(spark):
    """NULL-keyed groups get baselines and flags (null-safe joins), matching
    SQL GROUP BY semantics (ADVICE r10)."""
    from parqueryd_spark.operators.analytics import mad_outliers

    rows = [(None, float(v)) for v in [10, 11, 9, 10, 12, 10, 11, 100]] + [
        ("a", float(v)) for v in [5, 6, 5, 4, 5, 50]
    ]
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = mad_outliers(df, ["event_type"], "value").collect()
    null_rows = [r for r in out if r["event_type"] is None]
    assert null_rows and all(r["med"] is not None for r in null_rows)
    assert any(r["is_outlier"] for r in null_rows if r["value"] == 100.0)


def test_lm_publish_preserves_other_batches(tmp_path, spark):
    """Re-running lm_publish must not wipe appended batch partitions
    (dynamic partition overwrite — ADVICE r10)."""
    from parqueryd_spark.operators.lm import lm_append, lm_load, lm_publish

    lm_dir = str(tmp_path / "lm")
    base = spark.createDataFrame([("x y z",)], "text string")
    inc = spark.createDataFrame([("x y q",)], "text string")
    lm_publish(spark, lm_dir, base, batch="base")
    lm_append(spark, lm_dir, inc, batch="inc1")
    lm_publish(spark, lm_dir, base, batch="base")  # idempotent replay
    lm = lm_load(spark, lm_dir)
    grams = {r["gram"]: r["c"] for r in lm.bigrams.collect()}
    assert grams == {"x y": 2, "y z": 1, "y q": 1}


def test_stream_maintain_lm_persists_meta(tmp_path, spark):
    """stream_maintain_lm writes (k, n) meta; read_lm serves at the
    maintained order and rejects a conflicting explicit order (ADVICE r10)."""
    from parqueryd_spark.streaming.lm import read_lm, stream_maintain_lm

    src = str(tmp_path / "src")
    lm_dir = str(tmp_path / "lm")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([("a b c d",)], "text string").write.parquet(src)
    stream = spark.readStream.schema("text string").parquet(src)
    stream_maintain_lm(stream, lm_dir, ckpt, n=3).awaitTermination()
    lm = read_lm(spark, lm_dir)  # no explicit n — must come from meta
    assert lm.n == 3
    assert {r["gram"] for r in lm.bigrams.collect()} == {"a b c", "b c d"}
    with pytest.raises(ValueError, match="different .or mixed. order"):
        read_lm(spark, lm_dir, n=2)


def test_stream_maintain_lm_restart_validates_existing_meta(tmp_path, spark):
    """Restarting maintenance over an existing store with DIFFERENT (k, n)
    raises instead of clobbering the recorded meta (ADVICE r11: older batch
    partitions keep the old order, so overwriting meta would create exactly
    the silent mixed-order store it exists to prevent); restarting with the
    SAME parameters proceeds and merges."""
    from parqueryd_spark.streaming.lm import read_lm, stream_maintain_lm

    src = str(tmp_path / "src")
    lm_dir = str(tmp_path / "lm")
    ckpt = str(tmp_path / "ckpt")

    def restart(n):
        return stream_maintain_lm(
            spark.readStream.schema("text string").parquet(src), lm_dir, ckpt, n=n
        ).awaitTermination()

    spark.createDataFrame([("a b c d",)], "text string").write.parquet(src)
    restart(3)
    # new data arrives, then a restart with a CONFLICTING order: the
    # foreachBatch guard raises (surfaces through the streaming query)
    # before anything lands, and the store's meta stays at n=3
    spark.createDataFrame([("b c d e",)], "text string").write.mode("append").parquet(src)
    with pytest.raises(Exception, match="cannot change model parameters"):
        restart(2)
    assert read_lm(spark, lm_dir).n == 3
    # same order: the restart proceeds and the uncommitted batch merges in
    restart(3)
    grams = {r["gram"] for r in read_lm(spark, lm_dir).bigrams.collect()}
    assert grams == {"a b c", "b c d", "c d e"}


def test_read_lm_corrupt_meta_propagates(tmp_path, spark):
    """A present-but-unreadable _meta propagates its error (ADVICE r11: the
    old bare except silently fell back to k=0.5/n=2, which the gram-width
    probe cannot catch for n=2 stores); only a genuinely MISSING _meta is
    the documented pre-meta fallback."""
    import os

    from parqueryd_spark.streaming.lm import read_lm

    lm_dir = str(tmp_path / "lm")
    spark.createDataFrame([("a b", 1)], "gram string, c long").write.parquet(
        os.path.join(lm_dir, "batch=0")
    )
    # pre-meta layout: missing _meta -> defaults apply, no error
    assert read_lm(spark, lm_dir).n == 2
    # corrupt meta: an empty directory (no parquet footer to infer from)
    os.makedirs(os.path.join(lm_dir, "_meta"))
    with pytest.raises(Exception, match="(?i)schema|parquet|corrupt"):
        read_lm(spark, lm_dir)


def test_read_lm_mixed_order_store_detected(tmp_path, spark):
    """The min==max gram-width probe catches a store whose partitions mix
    orders (ADVICE r11: the old limit(1) sample could land on a matching row
    and silently serve garbage)."""
    import os

    from parqueryd_spark.streaming.lm import read_lm

    lm_dir = str(tmp_path / "lm")
    spark.createDataFrame([("a b", 1)], "gram string, c long").write.parquet(
        os.path.join(lm_dir, "batch=0")
    )
    spark.createDataFrame([("x y z", 1)], "gram string, c long").write.parquet(
        os.path.join(lm_dir, "batch=1")
    )
    with pytest.raises(ValueError, match="mixed"):
        read_lm(spark, lm_dir, k=0.5, n=2)
