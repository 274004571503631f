"""Tests of the benchmark itself; none starts Spark.

    python -m pytest perfbench/ -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import spans  # noqa: E402

CALL = {
    "groupby_cols": ["l_returnflag", "l_shipmode"],
    "agg_list": [
        ["l_quantity", "sum", "a0"],
        ["l_partkey", "count_distinct", "a1"],
        ["l_extendedprice", "std", "a2"],
    ],
    "where_terms": [["l_shipdate", ">=", dt.date(1994, 1, 1)], ["l_discount", "<", 0.05]],
    "aggregate": True,
}


@pytest.fixture(scope="module")
def shards(tmp_path_factory):
    d = tmp_path_factory.mktemp("shards")
    names = gen.write_shards(gen.lineitem(gen.rng_for(5, 1), 20_000), str(d), 4)
    return str(d), names


def _pandas_answer(files: list[str], call: dict) -> pd.DataFrame:
    """The call computed with pandas alone, independent of the DuckDB SQL."""
    df = pd.concat([pq.read_table(f).to_pandas() for f in files])
    df = df[(df.l_shipdate >= dt.date(1994, 1, 1)) & (df.l_discount < 0.05)]
    g = df.groupby(call["groupby_cols"])
    return pd.DataFrame(
        {"a0": g.l_quantity.sum(), "a1": g.l_partkey.nunique(), "a2": g.l_extendedprice.std()}
    ).reset_index()


def _record(rid, data_dir, names, result, error=None, call=CALL):
    return {"rid": rid, "call": call, "names": names, "data_dir": data_dir, "result": result, "error": error}


def test_checker_counts_a_corrupted_groupby_result(shards):
    import groupby_mix

    data_dir, names = shards
    asked = names[1:3] + ["missing_0.parquet"]
    good = _pandas_answer([os.path.join(data_dir, n) for n in names[1:3]], CALL)
    bad = good.copy()
    bad.loc[0, "a0"] += 1.0
    short = good.iloc[1:]
    records = [
        _record("ok", data_dir, asked, good),
        _record("value", data_dir, asked, bad),
        _record("row", data_dir, asked, short),
        _record("error", data_dir, asked, None, error="boom"),
    ]
    verdicts = groupby_mix.check_records(records)
    assert verdicts == [("ok", True), ("value", False), ("row", False), ("error", False)]


def test_checker_raw_rows_and_empty_inputs(shards):
    data_dir, names = shards
    raw = dict(CALL, aggregate=False, where_terms=[["l_quantity", "<", 3.0]])
    files = [os.path.join(data_dir, names[0])]
    df = pq.read_table(files[0]).to_pandas()
    got = df[df.l_quantity < 3.0][["l_returnflag", "l_shipmode", "l_quantity", "l_partkey", "l_extendedprice"]]
    import duckdb

    con = duckdb.connect()
    assert checks.check_groupby(con, files, raw, got.sample(frac=1.0, random_state=1))
    assert not checks.check_groupby(con, files, raw, got.iloc[:-1])
    assert checks.check_groupby(con, [], CALL, got.iloc[:0])


def _quantile_disc(xs, p):
    s = sorted(xs)
    return s[max(1, int(np.ceil(p * len(s)))) - 1]


def _curate_out():
    import hashlib

    kept = pd.DataFrame({"doc_id": [1, 2, 3, 4, 5], "text": ["a b", "a b", "c d", "e f", "g h"]})
    digest = {t: hashlib.md5(t.encode()).hexdigest() for t in kept.text}
    exact = pd.DataFrame(
        {"digest": [digest["a b"], digest["c d"], digest["e f"], digest["g h"]], "n_copies": [2, 1, 1, 1], "keep_id": [1, 3, 4, 5]}
    )
    d4 = pd.DataFrame({"doc_id": [1, 3, 4, 5], "lang": ["en", "en", "en", "de"], "q": [0.3, 0.9, 0.5, 0.4]})
    quant = pd.DataFrame(
        [(lang, p, _quantile_disc(d4.q[d4.lang == lang].tolist(), p)) for lang in ("en", "de") for p in (0.5, 0.9, 0.99)],
        columns=["lang", "prob", "value"],
    )
    return {
        "kept": kept,
        "exact": exact,
        "d1_ids": {1, 3, 4, 5},
        "substring": pd.DataFrame({"doc": [3]}),
        "d3_ids": {1, 3, 4, 5},
        "d4": d4,
        "quantiles": quant,
    }


def test_curate_checks_accept_correct_and_count_corruption():
    import curate_batch

    assert curate_batch.check_pass(_curate_out())
    bad = _curate_out()
    bad["exact"].loc[0, "n_copies"] = 3
    assert not curate_batch.check_pass(bad)
    bad = _curate_out()
    bad["quantiles"].loc[1, "value"] = 0.31
    assert not curate_batch.check_pass(bad)
    bad = _curate_out()
    bad["d3_ids"] = {1, 2, 3}  # 2 is not in its input, and shares 1's digest
    assert not curate_batch.check_pass(bad)


def test_self_time_subtracts_the_union_of_children():
    rec = spans.Recorder(True)
    rec.spans = [
        (1, "root", 0.0, 10.0, None, "r"),
        (2, "a", 1.0, 3.0, 1, "r"),
        (3, "b", 2.0, 5.0, 1, "r"),
        (4, "c", 7.0, 8.0, 1, "r"),
        (5, "d", 2.5, 2.75, 3, "r"),
    ]
    st = spans.self_times(rec.spans)
    assert st[1] == pytest.approx(5.0)
    assert st[3] == pytest.approx(2.75)
    roll = spans.rollup(rec)
    assert roll["root"]["n"] == 1 and roll["root"]["self_median_s"] == pytest.approx(5.0)


def test_recorder_is_a_no_op_when_disabled():
    rec = spans.Recorder(False)
    with rec.request("x"), rec.span("s"):
        rec.count("c", 1)
    assert rec.spans == [] and rec.counts == []


def test_inputs_are_seeded_and_calls_hold_the_mix():
    a = gen.groupby_calls(3, 2, 16, 200)
    assert a == gen.groupby_calls(3, 2, 16, 200)
    b = gen.groupby_calls(4, 2, 16, 200)
    assert a != b
    # the seed draws the data and the name order, never the calls
    for key in ("window", "missing", "groupby_cols", "agg_list", "where_terms", "aggregate", "manifest"):
        assert [c[key] for c in a] == [c[key] for c in b]
    for b in range(0, 200, gen.BLOCK):
        block = a[b : b + gen.BLOCK]
        assert sum(c["manifest"] for c in block) == 5
        assert sum(not c["aggregate"] for c in block) == 1
    assert gen.corpus(3, 1, 50).equals(gen.corpus(3, 1, 50))
    assert not gen.corpus(3, 1, 50).equals(gen.corpus(3, 2, 50))


def test_benchmark_json_matches_the_code():
    import curate_batch
    import run

    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    names = [w["name"] for w in spec["workloads"]]
    assert set(names) <= set(run.WORKLOADS) and "curate_batch" not in names
    assert curate_batch.END_TO_END["setup_s"] == "s"


def test_run_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "groupby_mix", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
