"""Zone-map manifest pruning (sources/manifest.py): footer-derived min/max
bounds prune whole files at plan time; soundness (kept ⊇ files with matches)
and full-scan equivalence hold for every where-op; all-null chunks skip."""

from __future__ import annotations

import datetime as dt
from functools import partial, reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parqueryd_spark.sources.manifest import (
    build_manifest,
    pruned_file_list,
    scan_pruned,
    skip_stats,
)
from tests.conftest import jobs_submitted, max_partition_bytes, session_conf

N_FILES = 10
N_ROWS = 1000


@pytest.fixture(scope="module")
def layout(spark, tmp_path_factory):
    """10 value-range-clustered files: file i ≈ values [100i, 100(i+1))."""
    path = str(tmp_path_factory.mktemp("zonemap") / "data")
    df = spark.range(N_ROWS).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("value"),
        F.format_string("u%04d", F.col("id")).alias("name"),
        F.date_add(F.to_date(F.lit("2026-01-01")), (F.col("id") % 365).cast("int")).alias("d"),
        F.lit(None).cast("string").alias("dead"),
    )
    df.repartitionByRange(N_FILES, "value").sortWithinPartitions("value").write.parquet(path)
    return path


@pytest.fixture(scope="module")
def manifest(spark, layout):
    mf = build_manifest(spark, layout).cache()
    mf.count()
    yield mf
    mf.unpersist()


TERMS = [
    [["value", ">=", 250.0], ["value", "<", 260.0]],
    [["value", "==", 777.0]],
    [["value", ">", 949.5]],
    [["value", "<=", 3.0]],
    [["k", "in", [5, 505, 905]]],
    [["name", ">=", "u0990"]],
    [["name", "==", "u0123"]],
    [["d", "==", dt.date(2026, 1, 5)]],
    [["value", "!=", 1.0]],
    [["value", "<>", 1.0]],
    [["value", "not in", [1.0, 2.0]]],
    [["value", ">=", 250.0], ["name", "<", "u0255"]],
    [],
    # term values the planner must compare as plain values: quotes,
    # backslashes, non-ASCII text and infinities
    [["name", "<", "u0005'\\é"]],
    [["name", "in", ["u0007", "x'; DROP", "u0993"]]],
    [["value", ">", float("-inf")], ["value", "<", 5.0]],
]


@pytest.mark.parametrize("terms", TERMS)
def test_scan_pruned_equals_full_scan(spark, layout, manifest, terms):
    from parqueryd_spark.functions.compile import compile_where_terms

    full = spark.read.parquet(layout)
    pred = compile_where_terms(terms)
    if pred is not None:
        full = full.filter(pred)
    got = sorted(r.k for r in scan_pruned(spark, layout, terms, manifest=manifest).collect())
    want = sorted(r.k for r in full.collect())
    assert got == want and (not terms or len(want) < N_ROWS)


def test_engine_groupby_with_manifest_equals_plain(spark, layout, manifest):
    """The parity API's zone-map path (``ParquetEngine.groupby(manifest=)``)
    gives the same groups as the plain call for every term set, over a
    directory shard plus a missing shard name; and ``prune_paths`` without
    where-terms keeps every path without submitting a Spark job."""
    import os

    from parqueryd_spark.core import ParquetEngine
    from parqueryd_spark.sources.manifest import prune_paths

    eng = ParquetEngine(spark, data_dir=os.path.dirname(layout))
    names = [os.path.basename(layout), "no_such_shard.parquet"]
    aggs = [["k", "count", "n"], ["value", "sum", "s"], ["name", "min", "lo"]]
    # one collect for every call: tag each result with (term set, pruned)
    results = reduce(
        DataFrame.unionByName,
        [
            eng.groupby(names, ["d"], aggs, terms, manifest=mf).select(
                F.lit(i).alias("i"), F.lit(mf is not None).alias("pruned"), "*"
            )
            for i, terms in enumerate(TERMS)
            for mf in (None, manifest)
        ],
    ).collect()
    for i, terms in enumerate(TERMS):
        plain = sorted(r[2:] for r in results if r.i == i and not r.pruned)
        pruned = sorted(r[2:] for r in results if r.i == i and r.pruned)
        assert pruned == plain and plain, terms

    def jobs_of(group, terms):
        return jobs_submitted(
            spark, group, lambda: prune_paths(manifest, [layout, "/no/such/shard"], terms)
        )

    kept, jobs = jobs_of("prune-paths-no-terms", [])
    assert kept == [layout, "/no/such/shard"] and jobs == []
    # the probe sees jobs when there are any: a pruning call submits one
    kept, jobs = jobs_of("prune-paths-one-term", [["value", ">", 1e9]])
    assert kept == ["/no/such/shard"] and jobs


def _parquet_bytes(path: str) -> int:
    import os

    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def test_groupby_gives_the_same_rows_on_both_sides_of_the_split_bound(spark, layout):
    """A call whose bytes are at most Spark's split size for its scan reads
    through one task; with ``spark.sql.files.maxPartitionBytes`` below its
    bytes it keeps the shuffled plan. Both
    give the same groups for every term set (double sums to a tolerance:
    the partition order changes their last bits) and the same raw rows
    (``aggregate=False``) as a multiset."""
    import os

    from parqueryd_spark.core import ParquetEngine

    eng = ParquetEngine(spark, data_dir=os.path.dirname(layout))
    names = [os.path.basename(layout)]
    aggs = [["k", "count", "n"], ["value", "sum", "s"], ["name", "min", "lo"]]

    def calls(aggregate: bool, below: bool) -> list[DataFrame]:
        return [
            eng.groupby(names, ["d"], aggs, terms, aggregate=aggregate).select(
                F.lit(i).alias("i"), F.lit(below).alias("below"), "*"
            )
            for i, terms in enumerate(TERMS)
        ]

    def one_task(df: DataFrame) -> bool:
        return "Coalesce 1" in df._jdf.queryExecution().executedPlan().toString()

    with max_partition_bytes(spark, _parquet_bytes(layout) - 1):
        above = {agg: calls(agg, False) for agg in (True, False)}
    below = {agg: calls(agg, True) for agg in (True, False)}
    assert all(one_task(df) for dfs in below.values() for df in dfs)
    assert not any(one_task(df) for dfs in above.values() for df in dfs)

    for agg in (True, False):
        rows = reduce(DataFrame.unionByName, above[agg] + below[agg]).collect()
        for i, terms in enumerate(TERMS):
            got = {b: sorted(tuple(r[2:]) for r in rows if r.i == i and r.below == b) for b in (True, False)}
            assert got[True] and len(got[True]) == len(got[False]), (agg, terms)
            if not agg:
                assert got[True] == got[False], terms
                continue
            for (d, n, v, lo), (d2, n2, v2, lo2) in zip(got[True], got[False]):
                assert (d, n, lo) == (d2, n2, lo2) and v == pytest.approx(v2, rel=1e-12), terms


def test_small_parity_call_runs_one_job_in_one_task(spark, tmp_path):
    """A plain ``groupby`` over 3 small shards reads through ``coalesce(1)``:
    collecting it submits exactly one job, and its plan has no Exchange.
    With ``spark.sql.files.maxPartitionBytes`` below the input, the same call
    plans the shuffled aggregate (an Exchange, no Coalesce)."""
    import os

    from parqueryd_spark.core import ParquetEngine

    data = str(tmp_path / "data")
    rows = spark.range(300).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g"), F.col("id").cast("double").alias("value")
    )
    for i in range(3):
        rows.filter(F.col("k") % 3 == i).write.parquet(os.path.join(data, f"s{i}"))
    call = partial(
        ParquetEngine(spark, data).groupby,
        ["s0", "s1", "s2"], ["g"], [["value", "sum", "v"]], [["value", ">=", 100.0]],
    )

    df = call()
    got, jobs = jobs_submitted(spark, "small-call-collect", df.collect)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(got) == 7 and len(jobs) == 1
    assert "Exchange" not in plan and "Coalesce 1" in plan

    with max_partition_bytes(spark, _parquet_bytes(data) - 1):
        df = call()
        assert sorted(df.collect()) == sorted(got)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan and "Coalesce" not in plan


def test_one_task_gate_is_sparks_split_size(spark, tmp_path):
    """A parity call reads through one task exactly when its bytes are at
    most the split size Spark computes for the scan: ``min(maxPartitionBytes,
    max(openCostInBytes, (bytes + files * openCostInBytes) /
    defaultParallelism))``. Moving ``openCostInBytes`` takes one file and
    eight files across that size in both directions; a bound on bytes alone
    could not do that, since the bytes never change."""
    import os

    from parqueryd_spark.core import ParquetEngine

    data = str(tmp_path / "data")
    rows = spark.range(4000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("g"))
    rows.coalesce(1).write.parquet(os.path.join(data, "one"))
    rows.repartition(8).write.parquet(os.path.join(data, "eight"))
    eng = ParquetEngine(spark, data)
    cores = spark.sparkContext.defaultParallelism
    max_split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    seen = set()
    for shard in ("one", "eight"):
        size = _parquet_bytes(os.path.join(data, shard))
        n = len([f for f in os.listdir(os.path.join(data, shard)) if f.endswith(".parquet")])
        for open_cost in (1, size // n * cores, 4 * 1024 * 1024):
            want = size <= min(max_split, max(open_cost, (size + n * open_cost) // cores))
            with session_conf(spark, {"spark.sql.files.openCostInBytes": open_cost}):
                df = eng.groupby([shard], ["g"], [["k", "sum", "s"]])
                plan = df._jdf.queryExecution().executedPlan().toString()
                assert sorted(df.collect()) == sorted(
                    rows.groupBy("g").agg(F.sum("k").alias("s")).collect()
                ), (shard, open_cost)
            assert ("Coalesce 1" in plan) == want and ("Exchange" in plan) != want, (shard, open_cost)
            seen.add(want)
    assert seen == ({True, False} if cores > 1 else {True})


def test_parity_call_plans_a_republished_shard_on_its_live_files(spark, tmp_path):
    """A shard republished after the manifest was built is planned on the
    files it holds now: ``groupby(manifest=stale)`` counts what the plain
    call counts, instead of pruning the shard on its old files' stats."""
    import os

    from parqueryd_spark.core import ParquetEngine
    from parqueryd_spark.sources.sinks import atomic_publish

    def publish(name, lo):
        rows = spark.range(lo, lo + 100).select(
            (F.col("id") % 5).alias("g"), F.col("id").cast("double").alias("value")
        )
        atomic_publish(rows, os.path.join(str(tmp_path), name))

    publish("s0", 0)
    publish("s1", 100)
    stale = build_manifest(spark, str(tmp_path)).cache()
    stale.count()
    publish("s1", 1000)
    call = partial(
        ParquetEngine(spark, str(tmp_path)).groupby,
        ["s0", "s1"], ["g"], [["value", "count", "n"]], [["value", ">=", 1000.0]],
    )
    try:
        plain = sum(r.n for r in call().collect())
        pruned = sum(r.n for r in call(manifest=stale).collect())
    finally:
        stale.unpersist()
    assert plain == 100 and pruned == plain


def test_prune_paths_keeps_a_shard_that_lists_no_data_file(spark, layout, manifest, tmp_path):
    """An empty shard directory has no file to rule out: it is kept, and
    the plain read decides what it holds."""
    import os

    from parqueryd_spark.sources.manifest import prune_paths

    empty = str(tmp_path / "empty_shard")
    os.makedirs(empty)
    assert prune_paths(manifest, [layout, empty], [["value", ">", 1e9]]) == [empty]
    assert prune_paths(manifest, [layout, empty], [["value", "<", 5.0]]) == [layout, empty]


def _executed_plan(spark, job_id: int) -> str:
    """The physical plan (formatted) of the SQL execution that ran
    ``job_id``, from the driver's SQL status store."""
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if e.jobs().contains(job_id):
            text = e.physicalPlanDescription()
            return text[text.index("== Physical Plan ==") :]
    raise AssertionError(f"no SQL execution ran job {job_id}")


def test_parity_call_plans_with_at_most_the_verdict_job(spark, tmp_path):
    """Building a parity call's DataFrame (no action) submits no Spark job
    but the zone-map verdict collect: none for a plain call, for ``concat``
    over 3 shards and for ``attach_tables``; exactly one for where-terms
    under a cached built or refreshed manifest, whose plan has no Exchange
    above the cached manifest."""
    import os

    from parqueryd_spark.core import ParquetEngine, aggregate_files
    from parqueryd_spark.sources.manifest import refresh_manifest

    data = str(tmp_path / "data")
    rows = spark.range(300).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g"), F.col("id").cast("double").alias("value")
    )
    for i in range(3):
        rows.filter(F.col("k") % 3 == i).write.parquet(os.path.join(data, f"s{i}"))
    eng = ParquetEngine(spark, data)
    names = ["s0", "s1", "s2", "no_such_shard"]
    aggs = [["value", "sum", "v"]]
    terms = [["value", ">=", 100.0], ["value", "<", 150.0]]

    def n_jobs(group, fn):
        return len(jobs_submitted(spark, group, fn)[1])

    plain = partial(eng.groupby, names, ["g"], aggs, terms)
    concat = partial(
        aggregate_files, spark, names, ["g"], aggs, terms, data_dir=data, shard_merge="concat"
    )
    assert n_jobs("plan-plain", plain) == 0
    assert n_jobs("plan-concat", concat) == 0

    built = build_manifest(spark, data).cache()
    built.count()
    rows.limit(10).write.parquet(os.path.join(data, "s3"))
    refreshed = refresh_manifest(spark, data, built).cache()
    refreshed.count()
    for tag, mf in (("built", built), ("refreshed", refreshed)):
        call = partial(eng.groupby, names, ["g"], aggs, terms, manifest=mf)
        _df, jobs = jobs_submitted(spark, f"plan-{tag}-manifest", call)
        assert len(jobs) == 1, tag
        # the cached relation's own build plan (below InMemoryRelation) shuffles
        above_cache = _executed_plan(spark, jobs[0]).split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in above_cache and "Exchange" not in above_cache, tag
    refreshed.unpersist()
    built.unpersist()

    tables = str(tmp_path / "tables")
    for name in ("a", "b"):
        rows.write.parquet(os.path.join(tables, f"{name}.parquet"))
    attached, jobs = jobs_submitted(spark, "plan-attach", ParquetEngine(spark, tables).attach_tables)
    assert attached == ["a", "b"] and jobs == []


def test_manifest_stays_within_default_parallelism(spark, tmp_path):
    """The planner's collect runs one task per manifest partition: a build
    over more files than cores and each of 3 refreshes that add a file
    return at most ``defaultParallelism`` partitions, and still cover every
    file."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parqueryd_spark.sources.manifest import refresh_manifest

    data = str(tmp_path / "data")
    os.makedirs(data)
    cap = spark.sparkContext.defaultParallelism

    def write(i: int) -> None:
        pq.write_table(pa.table({"v": [float(i)]}), os.path.join(data, f"part-{i:03d}.parquet"))

    for i in range(2 * cap + 1):
        write(i)
    mf = build_manifest(spark, data).cache()
    assert mf.rdd.getNumPartitions() <= cap
    for i in range(3):
        write(100 + i)
        new = refresh_manifest(spark, data, mf).cache()
        assert new.rdd.getNumPartitions() <= cap, i
        assert skip_stats(new, [])["files_total"] == 2 * cap + 2 + i, i
        mf.unpersist()
        mf = new
    mf.unpersist()


def test_pruned_calls_plan_with_one_verdict_job(spark, layout, manifest):
    """Over a cached manifest with the files on disk, each zone-map consumer
    plans from one verdict collect: building a ``scan_pruned`` DataFrame (no
    action), a fully provable ``count_pruned``, a fully provable integer
    ``minmax_pruned`` given ``dtype``, and ``skip_stats`` each submit exactly
    one Spark job. The live file set comes from a driver-side listing."""
    from parqueryd_spark.sources.manifest import count_pruned, minmax_pruned

    provable = [["value", ">=", 0.0]]
    calls = {
        "scan": lambda: scan_pruned(spark, layout, TERMS[0], manifest=manifest),
        "count": lambda: count_pruned(spark, layout, provable, manifest=manifest),
        "minmax": lambda: minmax_pruned(
            spark, layout, "k", provable, manifest=manifest, dtype="bigint"
        ),
        "skip-stats": lambda: skip_stats(manifest, TERMS[0]),
    }
    out = {}
    for name, call in calls.items():
        out[name], jobs = jobs_submitted(spark, f"one-verdict-{name}", call)
        assert len(jobs) == 1, (name, jobs)
    assert out["count"] == N_ROWS
    assert out["minmax"] == (0, N_ROWS - 1)
    assert out["skip-stats"]["files_total"] == N_FILES


def test_soundness_keeps_every_matching_file(spark, layout, manifest):
    """Property: any file containing a matching row MUST be kept — a false
    skip would silently drop rows (the exact residual filter can't recover
    them)."""
    from parqueryd_spark.functions.compile import compile_where_terms

    def norm(uri: str) -> str:
        # input_file_name() says file:///x; Hadoop qualify says file:/x
        return "/" + uri.split(":", 1)[-1].lstrip("/") if ":" in uri else uri

    for terms in TERMS:
        if not terms:
            continue
        pred = compile_where_terms(terms)
        matching = {
            norm(r.f)
            for r in spark.read.parquet(layout)
            .filter(pred)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }
        kept = {norm(f) for f in pruned_file_list(manifest, terms)}
        assert matching <= kept, terms


def test_selective_queries_skip_most_files(manifest):
    s = skip_stats(manifest, [["value", ">=", 250.0], ["value", "<", 260.0]])
    assert s["files_total"] == N_FILES and s["files_kept"] <= 2
    assert s["rows_kept"] <= 2 * (N_ROWS // N_FILES)
    # a term on an unprunable op alone keeps everything
    s2 = skip_stats(manifest, [["value", "!=", 250.0]])
    assert s2["files_kept"] == N_FILES


def test_all_null_column_skips_every_op(manifest):
    for op, v in [("==", "x"), ("!=", "x"), (">", "a"), ("in", ["x"]), ("not in", ["x"])]:
        kept = pruned_file_list(manifest, [["dead", op, v]])
        assert kept == [], op


def test_absent_manifest_column_is_conservative(spark, layout):
    """A manifest narrowed to the hot columns must keep every file for terms
    on columns it doesn't carry (sound, just unhelpful). Every file also
    carries the sentinel coverage row (column="") so the file universe never
    shrinks with the column list."""
    mf = build_manifest(spark, layout, columns=["value"])
    assert set(r.column for r in mf.select("column").distinct().collect()) == {"", "value"}
    assert mf.filter("column = ''").count() == N_FILES
    assert len(pruned_file_list(mf, [["name", "==", "u0123"]])) == N_FILES
    got = scan_pruned(spark, layout, [["name", "==", "u0123"]], manifest=mf).collect()
    assert [r.k for r in got] == [123]


def test_narrow_manifest_keeps_files_lacking_every_wanted_column(spark, tmp_path):
    """ADVICE r8: a file whose schema lacks EVERY manifest column used to
    emit zero manifest rows, so the manifest's file set silently dropped it
    and scan_pruned lost its rows. The sentinel row keeps it in that set
    (``pruned_file_list``); ``scan_pruned`` reads the live listing."""
    import os

    d = str(tmp_path / "drifted")
    os.makedirs(d)

    def write_one(name, df):
        stage = str(tmp_path / "stage")
        df.coalesce(1).write.parquet(stage, mode="overwrite")
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.replace(os.path.join(stage, part), os.path.join(d, name))

    write_one(
        "a.parquet",
        spark.range(100).select(
            F.col("id").alias("k"), F.col("id").cast("double").alias("hot")
        ),
    )
    # b lacks the hot (manifest) column entirely — schema evolution
    write_one("b.parquet", spark.range(100, 200).select(F.col("id").alias("k")))

    mf = build_manifest(spark, d, columns=["hot"])
    assert mf.select("file").distinct().count() == 2  # sentinel keeps b in the universe
    # filter on k (present in BOTH files; the manifest simply can't prune on
    # it): b's rows must survive — pre-fix, b had zero manifest rows and its
    # 100 rows vanished from the pruned scan
    kept = pruned_file_list(mf, [["k", ">=", 50]])
    assert any(f.endswith("b.parquet") for f in kept)
    got = scan_pruned(spark, d, [["k", ">=", 50]], manifest=mf, select=["k"])
    assert sorted(r.k for r in got.collect()) == list(range(50, 200))
    # a mistyped manifest column list must degrade to keep-everything too
    mistyped = build_manifest(spark, d, columns=["no_such_column"])
    all_rows = scan_pruned(spark, d, None, manifest=mistyped, select=["k"])
    assert all_rows.count() == 200


def test_stale_persisted_manifest_keeps_new_files(spark, tmp_path):
    """ADVICE r8: files published AFTER the manifest was persisted (and
    before a refresh) must still be scanned — scan_pruned/count_pruned union
    the live listing and keep uncovered files conservatively."""
    import os

    from parqueryd_spark.sources.manifest import count_pruned

    d = str(tmp_path / "growing")
    os.makedirs(d)

    def write_one(name, lo, hi):
        stage = str(tmp_path / "stage2")
        spark.range(lo, hi).select(
            F.col("id").alias("k"), F.col("id").cast("double").alias("value")
        ).coalesce(1).write.parquet(stage, mode="overwrite")
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.replace(os.path.join(stage, part), os.path.join(d, name))

    write_one("a.parquet", 0, 100)
    mf = build_manifest(spark, d).cache()
    mf.count()
    write_one("b.parquet", 100, 200)  # published after the manifest snapshot

    got = scan_pruned(spark, d, [["value", ">=", 50.0]], manifest=mf)
    assert sorted(r.k for r in got.collect()) == list(range(50, 200))
    assert count_pruned(spark, d, [["value", ">=", 50.0]], manifest=mf) == 150
    mf.unpersist()


def test_stale_manifest_after_compaction_reads_the_live_files(spark, tmp_path):
    """A manifest built before ``compact_parquet`` and one more publish
    still gives exact answers: the live listing is the file set, rows for
    the compacted-away files are ignored, and the compacted and new files
    (no manifest stats) are scanned. Stat-counting the vanished files
    double-counted a fully provable count (400 for 200 rows), and reading
    them raised ``PATH_NOT_FOUND``."""
    import os

    from parqueryd_spark.functions.compile import compile_where_terms
    from parqueryd_spark.sources.manifest import count_pruned, minmax_pruned
    from parqueryd_spark.sources.sinks import compact_parquet

    d = str(tmp_path / "compacted")
    spark.range(200).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("value")
    ).repartitionByRange(4, "value").write.parquet(d)
    mf = build_manifest(spark, d).cache()
    mf.count()
    assert compact_parquet(spark, d, 2) == 200
    stage = str(tmp_path / "stage")
    spark.range(-50, 0).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("value")
    ).coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.replace(os.path.join(stage, part), os.path.join(d, "late.parquet"))

    assert count_pruned(spark, d, [["value", ">=", 0.0]], manifest=mf) == 200
    for terms in ([["value", ">=", -20.0], ["value", "<", 150.0]], [["value", ">", 120.0]]):
        want = spark.read.parquet(d).filter(compile_where_terms(terms))
        got = scan_pruned(spark, d, terms, manifest=mf)
        assert sorted(r.k for r in got.collect()) == sorted(r.k for r in want.collect()), terms
        assert count_pruned(spark, d, terms, manifest=mf) == want.count(), terms
        lo, hi = want.agg(F.min("value"), F.max("value")).collect()[0]
        assert minmax_pruned(spark, d, "value", terms, manifest=mf) == (lo, hi), terms
    mf.unpersist()


def test_date_term_against_timestamp_column_prunes_soundly(spark, tmp_path):
    """ADVICE r8: dates and datetimes encode in ONE unit (epoch seconds) on
    both the term and footer sides — a date term against a timestamp column
    used to compare days to seconds and prune every file (silent empty
    results)."""
    path = str(tmp_path / "ts")
    df = spark.range(200).select(
        F.col("id").alias("k"),
        F.expr("timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0)").alias("ts"),
        F.date_add(F.to_date(F.lit("2026-01-01")), F.col("id").cast("int")).alias("d"),
    )
    df.repartitionByRange(4, "k").write.parquet(path)
    mf = build_manifest(spark, path)
    from parqueryd_spark.functions.compile import compile_where_terms

    cases = [
        [["ts", "<", dt.date(2026, 1, 3)]],        # date term, timestamp col
        [["ts", ">=", dt.datetime(2026, 1, 5, 12)]],
        [["d", "<", dt.datetime(2026, 3, 1, 6)]],  # datetime term, date col
        [["d", "==", dt.date(2026, 1, 5)]],
    ]
    for terms in cases:
        want = sorted(
            r.k for r in spark.read.parquet(path).filter(compile_where_terms(terms)).collect()
        )
        assert want, terms  # the case must actually match something
        got = sorted(r.k for r in scan_pruned(spark, path, terms, manifest=mf).collect())
        assert got == want, terms


def test_empty_prune_returns_empty_with_schema(spark, layout, manifest):
    out = scan_pruned(spark, layout, [["value", ">", 1e9]], manifest=manifest)
    assert out.count() == 0
    assert set(out.columns) == {"k", "value", "name", "d", "dead"}


def test_single_file_dataset_and_select(spark, manifest):
    """The testdata tables are single parquet FILES — list_files must treat
    a file path as a one-file dataset; select pushes projection."""
    path = "/root/testdata/sf0.001/events.parquet"
    mf = build_manifest(spark, path)
    assert mf.select("file").distinct().count() == 1
    out = scan_pruned(
        spark, path, [["event_type", "==", "click"]], manifest=mf, select=["event_id", "value"]
    )
    assert out.columns == ["event_id", "value"]
    exact = (
        spark.read.parquet(path).filter(F.col("event_type") == "click").count()
    )
    assert out.count() == exact


def test_refresh_manifest_is_incremental(spark, tmp_path):
    """refresh sweeps ONLY new files' footers, drops vanished files' rows,
    and the result equals a from-scratch rebuild."""
    import os

    from parqueryd_spark.sources.manifest import refresh_manifest

    path = str(tmp_path / "inc")
    os.makedirs(path)

    def write_one(name, lo, hi):
        spark.range(lo, hi).select(
            F.col("id").alias("k"), F.col("id").cast("double").alias("value")
        ).coalesce(1).write.parquet(str(tmp_path / "stage"), mode="overwrite")
        part = [
            f
            for f in os.listdir(str(tmp_path / "stage"))
            if f.endswith(".parquet")
        ][0]
        os.replace(str(tmp_path / "stage" / part), os.path.join(path, name))

    write_one("a.parquet", 0, 100)
    m1 = build_manifest(spark, path).cache()
    assert m1.select("file").distinct().count() == 1

    write_one("b.parquet", 100, 200)
    m2 = refresh_manifest(spark, path, m1).cache()
    rebuilt = build_manifest(spark, path)
    key = lambda r: (r.file, r.column)
    assert sorted(map(key, m2.collect())) == sorted(map(key, rebuilt.collect()))
    # prune still correct over the refreshed state
    assert len(pruned_file_list(m2, [["value", ">=", 150.0]])) == 1

    os.remove(os.path.join(path, "a.parquet"))
    m3 = refresh_manifest(spark, path, m2)
    files = [r.file for r in m3.select("file").distinct().collect()]
    assert len(files) == 1 and files[0].endswith("b.parquet")
    m1.unpersist()
    m2.unpersist()


def test_aggregate_files_prunes_shards_with_manifest(spark, tmp_path):
    """The parity surface's zone-map hook: aggregate_files(manifest=) skips
    shards whose bounds cannot match the where-terms (the stats-driven analog
    of the reference's per-shard metadata skip), with identical results."""
    import os

    from parqueryd_spark.core import aggregate_files

    d = str(tmp_path / "shards")
    os.makedirs(d)
    # 4 shards with disjoint value ranges
    for i in range(4):
        spark.range(i * 100, (i + 1) * 100).select(
            F.col("id").cast("double").alias("value"),
            F.pmod(F.col("id"), F.lit(3)).alias("grp"),
        ).coalesce(1).write.parquet(os.path.join(d, f"s{i}.parquet"))
    shards = [os.path.join(d, f"s{i}.parquet") for i in range(4)]
    mf = build_manifest(spark, d)
    terms = [["value", ">=", 150.0], ["value", "<", 250.0]]

    pruned = aggregate_files(
        spark, shards, ["grp"], [["value", "sum", "sv"]], terms, manifest=mf
    )
    plain = aggregate_files(spark, shards, ["grp"], [["value", "sum", "sv"]], terms)
    key = lambda r: (r.grp, round(r.sv, 6))
    assert sorted(map(key, pruned.collect())) == sorted(map(key, plain.collect()))
    # only the 2 overlapping shards are in the pruned plan's scan
    scanned = pruned.inputFiles()
    assert len(scanned) == 2 and all("/s1.parquet/" in f or "/s2.parquet/" in f for f in scanned)

    # fully-pruned query: empty aggregate with the right schema, not None
    none_match = aggregate_files(
        spark, shards, ["grp"], [["value", "sum", "sv"]],
        [["value", ">", 1e9]], manifest=mf,
    )
    assert none_match.columns == ["grp", "sv"] and none_match.count() == 0

    # engine facade pass-through
    from parqueryd_spark.core import ParquetEngine

    eng = ParquetEngine(spark, data_dir=d)
    via_engine = eng.groupby(
        [f"s{i}.parquet" for i in range(4)], ["grp"], [["value", "sum", "sv"]],
        terms, manifest=mf,
    )
    assert sorted(map(key, via_engine.collect())) == sorted(map(key, plain.collect()))


def test_count_pruned_matches_exact(spark, layout, manifest):
    """Metadata-only counting: stat-count fully-satisfying files, scan only
    boundary files — must equal the exact filtered count for every op."""
    from parqueryd_spark.functions.compile import compile_where_terms
    from parqueryd_spark.sources.manifest import count_pruned

    for terms in TERMS:
        pred = compile_where_terms(terms)
        full = spark.read.parquet(layout)
        want = (full.filter(pred) if pred is not None else full).count()
        got = count_pruned(spark, layout, terms, manifest=manifest)
        assert got == want, terms


def _overwrite_with_junk(path: str) -> None:
    """Replace every data file under ``path`` in place with bytes no parquet
    reader accepts: the files stay in the live listing, so any read of them
    raises."""
    import os

    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                with open(os.path.join(root, name), "wb") as f:
                    f.write(b"not a parquet file")


def test_count_pruned_is_metadata_only_when_provable(spark, tmp_path):
    """A predicate every file FULLY satisfies needs no data read at all:
    overwrite the data files with junk after building the manifest — a
    stat-only count still answers; any accidental scan would raise on the
    junk files."""
    from parqueryd_spark.sources.manifest import count_pruned

    path = str(tmp_path / "junk")
    spark.range(1000).select(F.col("id").cast("double").alias("value")).repartition(
        4
    ).write.parquet(path)
    mf = build_manifest(spark, path).cache()
    mf.count()
    _overwrite_with_junk(path)
    assert count_pruned(spark, path, [["value", ">=", 0.0]], manifest=mf) == 1000
    # a range ending mid-data needs its boundary files scanned — here they
    # are junk, so it must raise
    with pytest.raises(Exception):
        count_pruned(spark, path, [["value", ">=", 500.0]], manifest=mf)
    mf.unpersist()


def test_bloom_manifest_point_lookup(spark, tmp_path):
    """Bloom file-manifest: on an UNCLUSTERED key (where min/max zone maps
    keep everything), point lookups read ~1 file instead of all of them,
    results stay exact, and absent keys read nothing."""
    from parqueryd_spark.sources.manifest import (
        bloom_manifest,
        prune_files_bloom,
        scan_bloom_pruned,
    )

    path = str(tmp_path / "scattered")
    n, n_files = 20_000, 20
    # shuffle ids across files: every file spans the whole id domain
    spark.range(n).select(
        F.col("id").alias("k"), F.xxhash64("id").alias("scatter")
    ).repartitionByRange(n_files, "scatter").drop("scatter").write.parquet(path)

    # zone maps are useless here: every file's [min, max] covers the point
    zm = build_manifest(spark, path)
    assert len(pruned_file_list(zm, [["k", "==", 12345]])) == n_files

    bm = bloom_manifest(spark, path, "k", fpp=0.01).cache()
    assert bm.count() == n_files

    out = scan_bloom_pruned(spark, path, "k", [12345], bm)
    assert [r.k for r in out.collect()] == [12345]
    assert len(out.inputFiles()) <= 3  # 1 true file + ~fpp * 20 false posits

    # multi-value lookup: exact result set
    vals = [1, 7777, 19999]
    out3 = scan_bloom_pruned(spark, path, "k", vals, bm)
    assert sorted(r.k for r in out3.collect()) == vals

    # absent key: usually zero files survive (no false negatives ever)
    verdicts = prune_files_bloom(bm, [10**12], value_type="bigint")
    kept = verdicts.filter("keep").count()
    assert kept <= 2  # fpp noise only
    missing = scan_bloom_pruned(spark, path, "k", [10**12], bm)
    assert missing.count() == 0
    bm.unpersist()


def test_optimize_dataset_compacts_and_rebuilds_indexes(spark, tmp_path):
    """One-call OPTIMIZE: small scattered files -> few clustered files, with
    the zone-map and bloom manifests rebuilt and persisted so later pruned
    scans work off the fresh state (no phantom files)."""
    from parqueryd_spark.sources.manifest import optimize_dataset, scan_bloom_pruned

    d = str(tmp_path / "ds")
    mdir = str(tmp_path / "idx")
    spark.range(2000).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("value")
    ).repartition(16).write.parquet(d)  # 16 scattered files, unclustered

    stats = optimize_dataset(
        spark, d, 4, cluster_by=["value"], manifest_dir=mdir, bloom_cols=["k"]
    )
    assert stats["rows"] == 2000 and stats["files"] == 4

    zm = spark.read.parquet(mdir + "/zonemap")
    kept = pruned_file_list(zm, [["value", ">=", 1800.0]])
    assert len(kept) == 1  # clustering made the bounds tight
    got = scan_pruned(spark, d, [["value", ">=", 1800.0]], manifest=zm)
    assert got.count() == 200

    bm = spark.read.parquet(mdir + "/bloom=k")
    out = scan_bloom_pruned(spark, d, "k", [123], bm)
    assert [r.k for r in out.collect()] == [123]


def test_refresh_bloom_manifest_incremental(spark, tmp_path):
    """Bloom-manifest refresh: blooms built ONLY for new files with the OLD
    parameters (probe compatibility), vanished files' rows dropped, and the
    merged state serves exact lookups across old + new data."""
    import os
    import shutil

    from parqueryd_spark.sources.manifest import (
        bloom_manifest,
        refresh_bloom_manifest,
        scan_bloom_pruned,
    )

    path = str(tmp_path / "grow")
    os.makedirs(path)

    def add(name, lo, hi):
        stage = str(tmp_path / "st")
        spark.range(lo, hi).select(F.col("id").alias("k")).coalesce(1).write.parquet(
            stage, mode="overwrite"
        )
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.replace(os.path.join(stage, part), os.path.join(path, name))

    add("a.parquet", 0, 1000)
    m1 = bloom_manifest(spark, path, "k", fpp=0.01).cache()
    m1.count()
    p1 = m1.select("n_bits", "n_hashes").collect()[0]

    add("b.parquet", 1000, 2000)
    m2 = refresh_bloom_manifest(spark, path, "k", m1).cache()
    rows = m2.collect()
    assert len(rows) == 2
    assert all((r.n_bits, r.n_hashes) == (p1.n_bits, p1.n_hashes) for r in rows)
    # lookups hit both generations exactly
    out = scan_bloom_pruned(spark, path, "k", [5, 1500], m2)
    assert sorted(r.k for r in out.collect()) == [5, 1500]
    assert len(out.inputFiles()) == 2

    os.remove(os.path.join(path, "a.parquet"))
    m3 = refresh_bloom_manifest(spark, path, "k", m2)
    files = [r.file for r in m3.collect()]
    assert len(files) == 1 and files[0].endswith("b.parquet")
    m1.unpersist()
    m2.unpersist()


def test_scan_pruned_stacks_bloom_and_zonemap(spark, tmp_path):
    """Combined pruning: a range term prunes via min/max bounds while an
    equality term on an unclustered key prunes via per-file blooms — the
    verdicts intersect, and results stay exact."""
    from parqueryd_spark.sources.manifest import bloom_manifest, scan_pruned

    path = str(tmp_path / "both")
    n, n_files = 10_000, 10
    # clustered on value, scattered on k (k is a permutation of ids)
    spark.range(n).select(
        F.col("id").cast("double").alias("value"),
        F.pmod(F.xxhash64("id"), F.lit(10**9)).alias("k"),
    ).repartitionByRange(n_files, "value").sortWithinPartitions("value").write.parquet(path)

    zm = build_manifest(spark, path).cache()
    zm.count()
    bm = bloom_manifest(spark, path, "k", fpp=0.01).cache()
    bm.count()

    # pick a real (value, k) pair to look up
    row = spark.read.parquet(path).filter("value = 4321").collect()[0]
    terms = [["value", ">=", 4000.0], ["value", "<", 5000.0], ["k", "==", row.k]]
    out = scan_pruned(spark, path, terms, manifest=zm, bloom_manifests={"k": bm})
    assert [r.value for r in out.collect()] == [4321.0]
    assert len(out.inputFiles()) == 1  # range keeps 1-2, bloom confirms 1

    # a k from OUTSIDE the value range: intersection usually empty, result
    # exact (empty) either way
    other = spark.read.parquet(path).filter("value = 9000").collect()[0]
    out2 = scan_pruned(
        spark, path,
        [["value", ">=", 4000.0], ["value", "<", 5000.0], ["k", "==", other.k]],
        manifest=zm, bloom_manifests={"k": bm},
    )
    assert out2.count() == 0
    zm.unpersist()
    bm.unpersist()


def test_refresh_then_scan_equals_rebuild_then_scan(spark, tmp_path):
    """Serve-path contract (VERDICT r8 item #2): a persisted manifest
    maintained by refresh_manifest must drive scan_pruned/count_pruned to the
    SAME results as a from-scratch rebuild — the registry rows serve from
    published manifests, so refresh is the correctness-critical path."""
    import os

    from parqueryd_spark.sources.manifest import count_pruned, refresh_manifest

    d = str(tmp_path / "serve")
    os.makedirs(d)

    def write_one(name, lo, hi):
        stage = str(tmp_path / "sstage")
        spark.range(lo, hi).select(
            F.col("id").alias("k"), F.col("id").cast("double").alias("value")
        ).coalesce(1).write.parquet(stage, mode="overwrite")
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.replace(os.path.join(stage, part), os.path.join(d, name))

    write_one("a.parquet", 0, 500)
    mdir = str(tmp_path / "published_mf")
    build_manifest(spark, d).write.parquet(mdir)

    write_one("b.parquet", 500, 1000)
    refreshed = refresh_manifest(spark, d, spark.read.parquet(mdir))
    refreshed.write.mode("overwrite").parquet(mdir + "2")
    served = spark.read.parquet(mdir + "2")
    rebuilt = build_manifest(spark, d)

    terms = [["value", ">=", 250.0], ["value", "<", 750.0]]
    got = sorted(r.k for r in scan_pruned(spark, d, terms, manifest=served).collect())
    want = sorted(r.k for r in scan_pruned(spark, d, terms, manifest=rebuilt).collect())
    assert got == want == list(range(250, 750))
    assert count_pruned(spark, d, terms, manifest=served) == 500


def test_hive_partition_values_prune_and_survive_pruned_reads(spark, tmp_path):
    """VERDICT r8 item #6: directory-derived key=value partition values are
    manifest rows (min == max == value), so partition terms prune through the
    same verdict machinery as data stats AND compose with data-column terms;
    pruned subset reads keep the partition columns via basePath (the old
    non-hive restriction)."""
    from parqueryd_spark.functions.compile import compile_where_terms
    from parqueryd_spark.sources.manifest import count_pruned

    path = str(tmp_path / "hive")
    df = spark.range(1200).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("value"),
        F.pmod(F.col("id"), F.lit(3)).cast("int").alias("p"),
        F.date_add(F.to_date(F.lit("2026-01-01")), (F.col("id") % 4).cast("int")).alias("pd"),
    )
    # two partition levels (int + date), clustered data inside each partition
    df.repartitionByRange(4, "value").write.partitionBy("p", "pd").parquet(path)

    mf = build_manifest(spark, path).cache()
    mf.count()
    # partition columns appear as constant-per-file manifest rows
    pcols = {r.column for r in mf.select("column").distinct().collect()}
    assert {"p", "pd", "value", "k", ""} <= pcols

    cases = [
        [["p", "==", 1]],
        [["p", "in", [0, 2]]],
        [["pd", "==", dt.date(2026, 1, 3)]],
        [["pd", ">=", dt.date(2026, 1, 4)]],
        [["p", "==", 1], ["value", ">=", 900.0]],  # both layers compose
        [["p", "!=", 0]],
    ]
    total = mf.select("file").distinct().count()
    full_df = spark.read.parquet(path)
    for terms in cases:
        pred = compile_where_terms(terms)
        out = scan_pruned(spark, path, terms, manifest=mf)
        # partition columns survive the subset read
        assert {"k", "value", "p", "pd"} <= set(out.columns), terms
        got = sorted(r.k for r in out.collect())
        want = sorted(r.k for r in full_df.filter(pred).collect())
        assert got == want, terms
        assert want, terms  # every case matches something
        # the partition term must actually skip files
        kept = len(pruned_file_list(mf, terms))
        assert kept < total, terms
        # metadata-only counting composes with partition verdicts too
        assert count_pruned(spark, path, terms, manifest=mf) == len(want), terms

    s = skip_stats(mf, [["p", "==", 1], ["value", ">=", 900.0]])
    assert s["files_kept"] <= total // 3
    mf.unpersist()


def test_optimize_dataset_hive_layout_manifest_composes(spark, tmp_path):
    """optimize_dataset(partition_by=..., cluster_by=..., manifest_dir=...)
    produces a hive layout whose REBUILT manifest carries both the partition
    values and the in-partition cluster stats — a term on each prunes through
    one verdict pass (round-9 hive-aware manifest)."""
    from parqueryd_spark.sources.manifest import optimize_dataset

    d = str(tmp_path / "ds")
    mdir = str(tmp_path / "idx")
    spark.range(4000).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("value"),
        F.pmod(F.col("id"), F.lit(4)).cast("int").alias("p"),
    ).repartition(8).write.parquet(d)

    optimize_dataset(
        spark, d, 2, cluster_by=["value"], partition_by=["p"], manifest_dir=mdir
    )
    zm = spark.read.parquet(mdir + "/zonemap")
    total = zm.select("file").distinct().count()
    assert total >= 8  # 4 partitions x 2 files
    terms = [["p", "==", 2], ["value", ">=", 3000.0]]
    kept = pruned_file_list(zm, terms)
    assert 0 < len(kept) <= total // 4  # partition cut x cluster cut
    out = scan_pruned(spark, d, terms, manifest=zm)
    want = sorted(
        r.k for r in spark.read.parquet(d).filter("p = 2 AND value >= 3000.0").collect()
    )
    assert sorted(r.k for r in out.collect()) == want and want


def test_minmax_pruned_matches_exact(spark, layout, manifest):
    """Metadata-assisted MIN/MAX equals the exact filtered aggregate for
    every op family (numeric stats shortcut + boundary scans), including
    string columns (always scanned — parquet string stats may truncate) and
    empty results."""
    from parqueryd_spark.functions.compile import compile_where_terms
    from parqueryd_spark.sources.manifest import minmax_pruned

    for terms in TERMS + [[["value", ">", 1e9]]]:
        pred = compile_where_terms(terms)
        full = spark.read.parquet(layout)
        if pred is not None:
            full = full.filter(pred)
        for col in ("value", "k", "name"):
            row = full.agg(F.min(col), F.max(col)).collect()[0]
            got = minmax_pruned(spark, layout, col, terms, manifest=manifest)
            assert got == (row[0], row[1]), (col, terms)


def test_minmax_pruned_is_metadata_only_when_provable(spark, tmp_path):
    """An integer min/max whose predicate every file fully satisfies needs
    no data read: overwrite the files with junk after the manifest — stats
    still answer, and a predicate that needs a boundary scan raises. A
    double column always scans (its bounds leave NaN out), so it raises
    too."""
    from parqueryd_spark.sources.manifest import minmax_pruned

    path = str(tmp_path / "junk2")
    spark.range(5, 1005).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("value")
    ).repartition(4).write.parquet(path)
    mf = build_manifest(spark, path).cache()
    mf.count()
    assert minmax_pruned(spark, path, "k", [["value", ">=", 0.0]], manifest=mf) == (5, 1004)
    _overwrite_with_junk(path)
    # with the files unreadable, a fully-provable predicate still answers
    # from stats alone when the caller supplies the dtype (count_pruned
    # posture)
    got = minmax_pruned(spark, path, "k", [["value", ">=", 0.0]], manifest=mf, dtype="bigint")
    assert got == (5, 1004)
    with pytest.raises(Exception):
        minmax_pruned(spark, path, "k", [["value", ">=", 500.0]], manifest=mf, dtype="bigint")
    with pytest.raises(Exception):
        minmax_pruned(spark, path, "value", [["value", ">=", 0.0]], manifest=mf, dtype="double")
    mf.unpersist()
