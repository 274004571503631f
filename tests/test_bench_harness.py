"""bench.py as the one measurement harness: command-line dispatch (no
Spark), the scale-mode ratio table, and the replica builder the scale mode
times on."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

import bench
from parqueryd_spark import queries as Q
from tests.conftest import SF_SMOKE


def test_no_arguments_is_the_driver_run():
    assert bench.parse_args([]) == ("rows", Q.BENCH_ORDER, [1], bench.TRIALS, None)


def test_named_rows_run_exactly_those_rows():
    rows = ["text_kn3_lm_score", "dedup_ngram_jaccard"]  # a non-bench row too
    assert bench.parse_args(rows) == ("rows", rows, [1], bench.TRIALS, None)
    assert bench.parse_args(["scale", "10,1,100", "2", *rows]) == ("scale", rows, [1, 10, 100], 2, None)
    assert bench.parse_args(["scale", "1,10"])[1] == Q.BENCH_ORDER
    assert bench.parse_args(["plans", "after"]) == ("plans", Q.BENCH_ORDER, [1], bench.TRIALS, "after")


@pytest.mark.parametrize(
    "argv", [["no_such_row"], ["q1_pricing_summary", "nope"], ["scale"], ["scale", "1,x"],
             ["scale", "0,10"], ["scale", "1,10", "0"], ["plans"], ["plans", "after", "nope"]],
)
def test_bad_command_line_exits_1_with_usage_before_spark(argv, monkeypatch, capsys):
    import parqueryd_spark.session

    def no_spark(*a, **k):
        raise AssertionError("Spark started before the command line was checked")

    monkeypatch.setattr(parqueryd_spark.session, "get_spark", no_spark)
    with pytest.raises(SystemExit) as e:
        bench.main(argv)
    assert e.value.code == 1
    assert "Usage:" in capsys.readouterr().err


def test_ratio_table_three_scales():
    times = {
        1: {"a": 1.0, "b": 2.0},
        10: {"a": 2.0, "b": 2.0},
        100: {"a": 8.0, "b": 4.0},
    }
    assert bench.ratio_table(times, 0.1).splitlines() == [
        "| query | sf0.1 s | sf1 s | sf10 s | r10× | r100× | r100×/r10×^2 |",
        "|---|---|---|---|---|---|---|",
        "| a | 1.00 | 2.00 | 8.00 | 2.00x | 8.00x | 2.00 |",
        "| b | 2.00 | 2.00 | 4.00 | 1.00x | 2.00x | 2.00 |",
        "| TOTAL | 3.00 | 4.00 | 12.00 | 1.33x | 4.00x | 2.25 |",
    ]
    # one factor (the core-pair runs): times only
    assert bench.ratio_table({100: {"a": 8.0}}, 0.1).splitlines() == [
        "| query | sf10 s |", "|---|---|", "| a | 8.00 |", "| TOTAL | 8.00 |",
    ]


def test_replicate_doubles_every_table_with_unique_keys(spark, tmp_path, monkeypatch):
    from parqueryd_spark.queries.core import q1_pricing_summary
    from parqueryd_spark.sources.parquet import load_table

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = bench.replicate(spark, SF_SMOKE, 2)
    assert out.startswith(str(tmp_path))
    assert bench.replicate(spark, SF_SMOKE, 2) == out  # _COMPLETE: built once

    keys = {
        "customer": ["c_custkey"], "orders": ["o_orderkey"], "part": ["p_partkey"],
        "supplier": ["s_suppkey"], "lineitem": ["l_orderkey", "l_linenumber"],
        "events": ["event_id"], "documents": ["doc_id"], "embeddings": ["vec_id"],
        "nation": ["n_nationkey"], "region": ["r_regionkey"],
    }
    for table, key in keys.items():
        base, rep = load_table(spark, SF_SMOKE, table), load_table(spark, out, table)
        times = 1 if table in bench.SHARED_TABLES else 2
        assert rep.count() == times * base.count(), table
        # no key of one replica collides with another's
        distinct = lambda df: df.select(*key).distinct().count()
        assert distinct(rep) == times * distinct(base), table
    # every order keeps its customer, every line its order
    orders, cust = load_table(spark, out, "orders"), load_table(spark, out, "customer")
    assert orders.join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_anti").count() == (
        load_table(spark, SF_SMOKE, "orders")
        .join(load_table(spark, SF_SMOKE, "customer"), F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .count() * 2
    )

    def counts(sf_dir):
        rows = q1_pricing_summary(spark, sf_dir).collect()
        return {(r.l_returnflag, r.l_linestatus): r.count_order for r in rows}

    base = counts(SF_SMOKE)
    assert counts(out) == {k: 2 * v for k, v in base.items()}
