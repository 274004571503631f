"""Core parity queries: the reference's groupby(filenames, groupby_cols,
agg_list, where_terms, aggregate=) surface (SURVEY.md §2 O1-O7).

Consolidated in round 3 so the whole registry fits the driver's 50-row
correctness window — every O1-O7 behavior that used to be its own query is
still exercised, just grouped into denser queries:

- ``q1_pricing_summary`` also carries a nonexistent shard path (O7
  missing-file contract: silently dropped, controller.py:618-621).
- ``groupby_agg_methods`` covers the bare-name sum shorthand plus
  min/max/std (formerly groupby_sum_shorthand / groupby_min_max /
  groupby_std).
- ``where_ops_raw_rows`` covers every where-term op including string ``==``
  AND the aggregate=False raw-rows mode (formerly where_ops_combo /
  where_eq_string / raw_mode_no_aggregate).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from parqueryd_spark.core import aggregate_files
from parqueryd_spark.queries import query, served_artifact, table_path
from parqueryd_spark.sources.parquet import read_resolved


def _li(sf_dir: str) -> str:
    return table_path(sf_dir, "lineitem")


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)      AS sum_qty,
           sum(l_extendedprice) AS sum_base_price,
           avg(l_quantity)      AS avg_qty,
           avg(l_extendedprice) AS avg_price,
           avg(l_discount)      AS avg_disc,
           count(l_orderkey)    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1 skeleton through the parqueryd-parity API
    (reference call shape: README.md:111, worker.py:379-397). The path list
    includes a nonexistent shard, which must be silently dropped
    (controller.py:618-621; RELEASE_NOTES.rst:63-65) without changing the
    result."""
    return aggregate_files(
        spark,
        [_li(sf_dir), os.path.join(sf_dir, "no_such_shard_xyz.parquet")],
        ["l_returnflag", "l_linestatus"],
        [
            ["l_quantity", "sum", "sum_qty"],
            ["l_extendedprice", "sum", "sum_base_price"],
            ["l_quantity", "mean", "avg_qty"],
            ["l_extendedprice", "mean", "avg_price"],
            ["l_discount", "mean", "avg_disc"],
            ["l_orderkey", "count", "count_order"],
        ],
        where_terms=[["l_shipdate", "<=", "1998-09-02"]],
    )


Q1_SHARDS = 32


def _lineitem_shards(spark: SparkSession, sf_dir: str) -> str:
    """A data dir whose lineitem is hash-split on ``l_orderkey`` into
    ``Q1_SHARDS`` files, kept by ``served_artifact`` per sf_dir: the
    many-small-shards layout the reference's calls fan out over."""

    def build(d: str) -> None:
        li = read_resolved(spark, [_li(sf_dir)])
        li.repartition(Q1_SHARDS, "l_orderkey").write.parquet(_li(d))

    return served_artifact("lineitem_shards", os.path.abspath(sf_dir), build)


@query(
    "q1_sharded",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)                AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           avg(l_quantity)                AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4)      AS avg_disc,
           count(l_orderkey)              AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    bench=True,
)
def q1_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``q1_pricing_summary`` over the same rows as ``Q1_SHARDS`` shards.
    The two rows sit on either side of ``aggregate_files``' one-task gate
    at sf0.1 on a few cores: one 10.8 MB file gets several Spark splits and
    keeps the shuffled plan, while 32 shards of ~0.3 MB cost more to open
    than to read, so Spark's split size covers them all and the call runs
    in one task. The shards change the order doubles are summed in, so the
    inexact aggregates are rounded on both engines: a sum of 2-decimal
    prices to cents, the means to 4 places (``sum_qty`` and ``avg_qty``
    sum whole numbers, which is exact)."""
    from pyspark.sql import functions as F

    out = q1_pricing_summary(spark, _lineitem_shards(spark, sf_dir))
    return out.withColumns(
        {
            "sum_base_price": F.round("sum_base_price", 2),
            "avg_price": F.round("avg_price", 4),
            "avg_disc": F.round("avg_disc", 4),
        }
    )


@query(
    "groupby_agg_methods",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)              AS l_quantity,
           min(l_extendedprice)         AS min_price,
           max(l_extendedprice)         AS max_price,
           min(l_shipdate)              AS min_ship,
           max(l_shipdate)              AS max_ship,
           round(stddev_samp(l_extendedprice), 4) AS std_price
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def groupby_agg_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agg-method coverage in one call: the bare-name shorthand ['col'] ->
    sum into the same name (README.md:105), min/max over numeric and
    timestamp columns, and sample-std (ddof=1, matching the pandas oracle the
    reference's differential test used, tests/test_simple_rpc.py:112-131).
    std is rounded to 4dp on both engines — like any float sum, the variance
    accumulation order differs cross-engine in the last ulps."""
    out = aggregate_files(
        spark,
        [_li(sf_dir)],
        ["l_returnflag", "l_linestatus"],
        [
            "l_quantity",  # shorthand: sum into same name
            ["l_extendedprice", "min", "min_price"],
            ["l_extendedprice", "max", "max_price"],
            ["l_shipdate", "min", "min_ship"],
            ["l_shipdate", "max", "max_ship"],
            ["l_extendedprice", "std", "std_price"],
        ],
    )
    from pyspark.sql import functions as F

    return out.withColumn("std_price", F.round("std_price", 4))


@query(
    "groupby_count_variants",
    oracle="""
    SELECT l_returnflag,
           count(l_partkey)                                  AS cnt,
           CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS cnt_na,
           count(DISTINCT l_partkey)                          AS cnt_distinct,
           count(DISTINCT l_suppkey)                          AS cnt_sorted_distinct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def groupby_count_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count / count_na / count_distinct / sorted_count_distinct (SURVEY §2 O5)."""
    return aggregate_files(
        spark,
        [_li(sf_dir)],
        ["l_returnflag"],
        [
            ["l_partkey", "count", "cnt"],
            ["l_partkey", "count_na", "cnt_na"],
            ["l_partkey", "count_distinct", "cnt_distinct"],
            ["l_suppkey", "sorted_count_distinct", "cnt_sorted_distinct"],
        ],
    )


@query(
    "where_ops_raw_rows",
    oracle="""
    SELECT l_returnflag, l_linestatus, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_returnflag != 'R'
      AND l_linestatus = 'O'
      AND l_quantity > 5 AND l_quantity <= 45
      AND l_extendedprice < 50000
      AND l_linenumber IN (1, 2, 3)
      AND l_suppkey NOT IN (1, 2)
      AND l_shipdate >= TIMESTAMP '1996-01-01'
    """,
)
def where_ops_raw_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every where-term op (== != > >= < <= in not-in) AND-combined (SURVEY §2
    O2), returned in aggregate=False raw-rows mode (worker.py:385, rpc.py:173
    — the client-side default): filtered + implicitly projected rows, no
    aggregation (O3+O6)."""
    return aggregate_files(
        spark,
        [_li(sf_dir)],
        ["l_returnflag", "l_linestatus"],
        [["l_quantity", "sum", "l_quantity"], ["l_extendedprice", "sum", "l_extendedprice"]],
        where_terms=[
            ["l_returnflag", "!=", "R"],
            ["l_linestatus", "==", "O"],
            ["l_quantity", ">", 5],
            ["l_quantity", "<=", 45],
            ["l_extendedprice", "<", 50000],
            ["l_linenumber", "in", [1, 2, 3]],
            ["l_suppkey", "not in", [1, 2]],
            ["l_shipdate", ">=", "1996-01-01"],
        ],
        aggregate=False,
    )


@query(
    "global_agg_no_keys",
    oracle="""
    SELECT sum(l_extendedprice) AS total_price,
           avg(l_discount)      AS avg_disc,
           count(l_orderkey)    AS cnt
    FROM lineitem
    """,
)
def global_agg_no_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty groupby list -> single-row global aggregate."""
    return aggregate_files(
        spark,
        [_li(sf_dir)],
        [],
        [
            ["l_extendedprice", "sum", "total_price"],
            ["l_discount", "mean", "avg_disc"],
            ["l_orderkey", "count", "cnt"],
        ],
    )


def _served_manifest(spark: SparkSession, sf_dir: str, table: str, kind: str, **kw):
    """The skipping indexes on their SERVE path (VERDICT r8 item #2): build
    the zone-map / bloom manifest once per (sf_dir, table[, col]), PUBLISH
    it as a ``served_artifact`` parquet dataset, and hand every call the
    read-back — the `served_ivf_index` pattern. Standing data pays the footer
    sweep (zone map) or key-column read (bloom) at ingest/OPTIMIZE time and
    amortizes it over every query; the registry/bench rows now time the scan,
    not a per-call index rebuild. Maintenance between publishes is
    `refresh_manifest` / `refresh_bloom_manifest` (O(new files) — equality
    with a from-scratch rebuild is pytest-pinned)."""
    from parqueryd_spark.sources.manifest import bloom_manifest, build_manifest

    def build(path: str) -> None:
        data = table_path(sf_dir, table)
        if kind == "zonemap":
            mf = build_manifest(spark, data)
        else:
            mf = bloom_manifest(spark, data, kw["key_col"], fpp=kw.get("fpp", 0.01))
        mf.write.mode("overwrite").parquet(path)

    key = (os.path.abspath(sf_dir), table, tuple(sorted(kw.items())))
    return read_resolved(spark, [served_artifact(f"{kind}_manifest", key, build)])


@query(
    "scan_zonemap_pruned",
    bench=True,
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
    FROM events
    WHERE value >= 50.0 AND value < 120.0 AND event_type IN ('click', 'view')
    GROUP BY event_type
    """,
)
def scan_zonemap_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping (sources/manifest.py): the same where-term
    triples the execution path compiles (functions/compile.py) are evaluated
    at PLAN time against a footer-derived per-file min/max manifest, pruning
    whole files before Spark schedules the read; the exact compiled filter
    then runs on the kept files. Identical results to a full scan by
    construction — this row proves it against the plain-SQL oracle."""
    from pyspark.sql import functions as F

    from parqueryd_spark.sources.manifest import scan_pruned

    terms = [
        ["value", ">=", 50.0],
        ["value", "<", 120.0],
        ["event_type", "in", ["click", "view"]],
    ]
    mf = _served_manifest(spark, sf_dir, "events", "zonemap")
    df = scan_pruned(spark, table_path(sf_dir, "events"), terms, manifest=mf)
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@query(
    "scan_zonemap_count",
    oracle="""
    SELECT count(*) AS n_rows FROM events
    WHERE value >= 100.0 AND event_type != 'error'
    """,
)
def scan_zonemap_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-assisted COUNT(*) (sources/manifest.py count_pruned): files
    the footer stats prove fully satisfy every term contribute their row
    counts without being read; boundary files are scanned with the exact
    predicate. The oracle is the plain SQL count, so the stat/scan split
    must reassemble the exact answer."""
    from parqueryd_spark.sources.manifest import count_pruned

    n = count_pruned(
        spark,
        table_path(sf_dir, "events"),
        [["value", ">=", 100.0], ["event_type", "!=", "error"]],
        manifest=_served_manifest(spark, sf_dir, "events", "zonemap"),
    )
    return spark.createDataFrame([(n,)], "n_rows bigint")


@query(
    "scan_bloom_lookup",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
    FROM events WHERE user_id IN (7, 42, 99)
    GROUP BY user_id
    """,
)
def scan_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-set lookup through the per-file Bloom manifest
    (sources/manifest.py bloom_manifest / scan_bloom_pruned) — the skipping
    mechanism for UNCLUSTERED high-cardinality keys, where min/max zone maps
    keep every file: each file's bloom proves the keys' absence, the probe
    has no false negatives, and the exact isin filter runs on the kept
    files, so the result equals the plain SQL lookup."""
    from pyspark.sql import functions as F

    from parqueryd_spark.sources.manifest import scan_bloom_pruned

    path = table_path(sf_dir, "events")
    bm = _served_manifest(spark, sf_dir, "events", "bloom", key_col="user_id")
    df = scan_bloom_pruned(spark, path, "user_id", [7, 42, 99], bm)
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def _drift_shards(spark: SparkSession, sf_dir: str) -> str:
    """Two orders shards with DRIFTED schemas, kept by ``served_artifact``
    per sf_dir — the data-model semantic SURVEY §1 carries from the
    reference's shard files (one logical table, per-shard schemas free to
    evolve): shard_even has every column, shard_odd predates the
    ``o_orderpriority`` column. Deterministic content (keyed split of the
    standing table), so the DuckDB oracle can reproduce the merged read from
    the registered view alone."""
    from pyspark.sql import functions as F

    def build(d: str) -> None:
        orders = read_resolved(spark, [table_path(sf_dir, "orders")])
        orders.filter(F.col("o_orderkey") % 2 == 0).coalesce(1).write.parquet(
            os.path.join(d, "shard_even.parquet")
        )
        orders.filter(F.col("o_orderkey") % 2 == 1).drop("o_orderpriority").coalesce(
            1
        ).write.parquet(os.path.join(d, "shard_odd.parquet"))

    return served_artifact("drift", os.path.abspath(sf_dir), build)


@query(
    "shard_schema_drift",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           count(CASE WHEN o_orderkey % 2 = 0 THEN o_orderpriority END) AS n_priority,
           CAST(round(sum(o_totalprice), 4) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def shard_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard SCHEMA DRIFT under the parity reader (VERDICT r8 item #5): one
    logical table whose shards disagree on schema — ``shard_odd`` predates
    ``o_orderpriority`` — read via ``read_parquet(..., merge_schema=True)``
    (sources/parquet.py; reference shards share no enforced schema, the
    bcolz-era files evolved independently), with a missing shard name in the
    list exercising the silent-missing contract (controller.py:618-621) in
    the same call. Rows from the pre-drift shard surface the absent column
    as NULL — the oracle reconstructs exactly that from the standing view,
    so the merged read is value-checked, not just row-counted."""
    from pyspark.sql import functions as F

    from parqueryd_spark.sources.parquet import read_parquet

    d = _drift_shards(spark, sf_dir)
    merged = read_parquet(
        spark,
        ["shard_even.parquet", "shard_odd.parquet", "no_such_shard.parquet"],
        data_dir=d,
        merge_schema=True,
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("o_orderpriority").alias("n_priority"),
        F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
    )


def _hive_events(spark: SparkSession, sf_dir: str) -> tuple:
    """(data_dir, manifest) for a hive-partitioned copy of events, kept by
    ``served_artifact`` per sf_dir: rows land under ``events/event_type=<v>/``
    dirs and files inside each partition are value-range-clustered, the
    layout where BOTH pruning layers bite (directory values prune event_type
    terms, file zone maps prune value terms). The manifest is published
    beside it under ``manifest/`` and read back — the serve path, same as
    _served_manifest."""
    from parqueryd_spark.sources.manifest import build_manifest
    from parqueryd_spark.sources.parquet import load_table

    def build(base: str) -> None:
        d = os.path.join(base, "events")
        ev = load_table(spark, sf_dir, "events").drop("ts")
        (
            ev.repartitionByRange(4, "value")
            .sortWithinPartitions("value")
            .write.partitionBy("event_type")
            .parquet(d)
        )
        build_manifest(spark, d).write.parquet(os.path.join(base, "manifest"))

    base = served_artifact("hive", os.path.abspath(sf_dir), build)
    mf = read_resolved(spark, [os.path.join(base, "manifest")])
    return os.path.join(base, "events"), mf


@query(
    "scan_hive_partition_pruned",
    bench=True,
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(round(sum(value), 4) AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    WHERE event_type IN ('click', 'purchase') AND value >= 120.0
    """,
)
def scan_hive_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed two-layer file skipping on a hive layout (VERDICT r8 item
    #6): events re-published under ``event_type=<v>/`` partition dirs with
    value-clustered files inside; the where-term triples prune via the
    directory-derived partition values AND the footer zone maps in ONE
    manifest pass (sources/manifest.py hive-aware rows), the pruned subset
    read keeps the partition column via basePath, and the exact compiled
    filter runs on the survivors — so the result must equal the plain SQL
    over the standing events view."""
    from pyspark.sql import functions as F

    from parqueryd_spark.sources.manifest import scan_pruned

    d, mf = _hive_events(spark, sf_dir)
    terms = [["event_type", "in", ["click", "purchase"]], ["value", ">=", 120.0]]
    df = scan_pruned(spark, d, terms, manifest=mf)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


@query(
    "scan_metadata_stats",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(min(value) AS DOUBLE) AS min_value,
           CAST(max(value) AS DOUBLE) AS max_value
    FROM events
    WHERE event_type = 'view' AND value < 80.0
    """,
)
def scan_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-assisted COUNT + MIN/MAX in one row (sources/manifest.py
    count_pruned / minmax_pruned) over the hive-partitioned events copy:
    the ``event_type = 'view'`` term is fully proven by the directory
    partition value for every file in that partition, and files of the
    other partitions or wholly above the range are never read. ``value``
    is a double, whose footer bounds leave NaN rows out, so ``value <
    80.0`` proves no file full and the kept files get the exact scan. The
    oracle computes the plain aggregates, so the stat/scan split must
    reassemble exactly."""
    from parqueryd_spark.sources.manifest import count_pruned, minmax_pruned

    d, mf = _hive_events(spark, sf_dir)
    terms = [["event_type", "==", "view"], ["value", "<", 80.0]]
    n = count_pruned(spark, d, terms, manifest=mf)
    lo, hi = minmax_pruned(spark, d, "value", terms, manifest=mf)
    return spark.createDataFrame(
        [(n, lo, hi)], "n_rows bigint, min_value double, max_value double"
    )
