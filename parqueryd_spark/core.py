"""The parqueryd-parity query surface, Spark-first.

The reference's flagship call is
``rpc.groupby(filenames, groupby_cols, agg_list, where_terms, aggregate=)``
(reference: parqueryd/rpc.py:121-190, controller.py:599-646, worker.py:367-408).
Its distributed execution — per-file fan-out, locality scheduling, Arrow
gather/concat — is subsumed by Spark; what remains is a compiler from that call
shape to a DataFrame plan:

    read_resolved(existing_shards) -> filter(where) -> groupBy(keys).agg(...)

The one exception is a small input: shards whose bytes are at most the
split size Spark picks for their scan are read through ``coalesce(1)``, so
the call runs as one local pass in one task, like the reference's per-file
worker pass, instead of a shuffled two-stage plan.

Deliberate semantic deviation (documented, SURVEY.md §2 O7): the reference
concatenates per-shard partial aggregates WITHOUT a final merge, so duplicate
group keys can reach the client and per-shard ``mean`` is unmergeable. Spark's
partial+final aggregation gives the correct global answer; the reference's own
single-file differential test (tests/test_simple_rpc.py:112-131) is the semantic
oracle we match.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession

from parqueryd_spark.functions.compile import (
    compile_agg_list,
    compile_where_terms,
    normalize_agg_list,
)
from parqueryd_spark.sources.parquet import read_parquet, read_resolved, resolve_paths


def aggregate_files(
    spark: SparkSession,
    paths: Sequence[str] | str,
    groupby_cols: Sequence[str],
    agg_list: Sequence,
    where_terms: Sequence[Sequence] | None = None,
    aggregate: bool = True,
    data_dir: str | None = None,
    shard_merge: str = "global",
    manifest: DataFrame | None = None,
) -> DataFrame | None:
    """Run the reference's ``groupby`` call shape over parquet shards.

    Parameters mirror the 4-arg RPC (controller.py:608-615) plus the
    ``aggregate`` kwarg (worker.py:385):

    - ``aggregate=True``: global filter -> groupBy -> agg.
    - ``aggregate=False``: filtered, projected raw rows (no aggregation) — the
      projection is groupby cols + agg input cols, the column set the reference
      materializes (worker.py:382-384).

    ``shard_merge`` selects the cross-shard semantics:

    - ``"global"`` (default): one correct global aggregation over all shards —
      Spark's partial+final merge (our documented deviation from O7).
    - ``"concat"``: bug-for-bug reference parity — aggregate each shard
      independently and UNION ALL the partials WITHOUT re-aggregation, so
      duplicate group keys across shards survive into the result, exactly as
      the reference controller's ``pa.concat_tables`` does
      (controller.py:276-294; client-side re-agg was never implemented,
      rpc.py:208).

    Missing shards are silently ignored; if none exist, returns ``None``
    (reference empty-result protocol — callers may prefer
    :meth:`ParquetEngine.groupby`, which returns an empty DataFrame instead).

    ``manifest`` (a ``sources.manifest.build_manifest`` DataFrame, typically
    persisted next to the data) turns the where-terms into PLAN-TIME shard
    skipping: shards whose footer min/max bounds cannot contain a match are
    dropped before Spark lists them — the stats-driven analog of the
    reference's per-shard metadata skip. Pruning never changes results (the
    exact predicate still runs; a fully-pruned query returns the same empty
    aggregate a fully-filtered one would, not the all-missing ``None``).

    Planning runs at most one Spark job: shards are read through
    ``read_resolved``, whose schema comes from one driver-side footer read
    rather than Spark's inference job (for every ``concat`` part too), so
    only the zone-map planner's collect of the manifest's stats rows — one
    job over a cached manifest, whose verdicts are then computed on the
    driver — runs before the caller's action.

    Execution is one task below Spark's split size: when a read's bytes are
    at most the split size Spark picks for that scan (the plain read, each
    ``concat`` part, the fully-pruned empty read; see ``_read``), it goes
    through ``coalesce(1)`` and the aggregate needs no Exchange, so the
    action runs one job. Both numbers come from the file index's own
    listing, so this adds no job to planning. Above the bound the plan is
    unchanged.
    """
    if shard_merge not in ("global", "concat"):
        raise ValueError(f"shard_merge must be 'global' or 'concat', got {shard_merge!r}")

    # validate the full call shape BEFORE shard resolution so a malformed query
    # raises consistently whether or not its shards exist
    pred = compile_where_terms(where_terms)
    triples = normalize_agg_list(agg_list)
    aggs = compile_agg_list(agg_list) if aggregate else None

    def _one(df: DataFrame) -> DataFrame:
        if pred is not None:
            df = df.filter(pred)
        if not aggregate:
            proj: list[str] = []
            for c in list(groupby_cols) + [t[0] for t in triples]:
                if c not in proj:
                    proj.append(c)
            return df.select(*proj)
        if groupby_cols:
            return df.groupBy(*groupby_cols).agg(*aggs)
        return df.agg(*aggs)

    existing = resolve_paths(paths, data_dir=data_dir, spark=spark)
    if not existing:
        return None
    if manifest is not None:
        from pyspark.sql import functions as _F

        from parqueryd_spark.sources.manifest import prune_paths

        kept = prune_paths(manifest, existing, where_terms)
        if not kept:
            # every shard provably disjoint from the predicate: same result
            # as filtering everything out (schema from a real shard, 0 rows)
            return _one(_read(spark, existing[:1]).filter(_F.lit(False)))
        existing = kept

    if shard_merge == "concat" and aggregate:
        parts = [_one(_read(spark, [p])) for p in existing]
        return reduce(DataFrame.unionByName, parts)
    return _one(_read(spark, existing))


def _read(spark: SparkSession, paths: Sequence[str]) -> DataFrame:
    """``read_resolved(spark, paths)``, through ``coalesce(1)`` when the
    scan's bytes are at most the split size Spark picks for it — F1 Query's
    centralized execution for small queries.

    The split size is Spark's own ``FilePartition.maxSplitBytes``:
    ``min(maxPartitionBytes, max(openCostInBytes, (bytes + files *
    openCostInBytes) / defaultParallelism))``. So one task takes an input
    under ``openCostInBytes`` (4 MB), or many files whose average size is
    under ``openCostInBytes / (defaultParallelism - 1)``, where Spark's cost
    model says opening them costs more than reading them; a few large files
    keep every core. Both sizes come from the listing Spark's file index did
    when the DataFrame was built, so reading them runs no job."""
    df = read_resolved(spark, paths)
    files = df._jdf.queryExecution().analyzed().relation().location()
    nil = spark._jvm.PythonUtils.toSeq([])
    split = JavaClass(
        "org.apache.spark.sql.execution.datasources.FilePartition", spark._jvm._gateway_client
    ).maxSplitBytes(spark._jsparkSession, files.listFiles(nil, nil))
    return df.coalesce(1) if files.sizeInBytes() <= split else df


# agg methods whose output type is knowable without reading any shard; the
# rest (sum/min/max/...) inherit the input column's type, which an all-missing
# query cannot know — those default to string (the widest lossless render)
_AGG_OUT_TYPES = {
    "count": "bigint",
    "count_na": "bigint",
    "count_distinct": "bigint",
    "sorted_count_distinct": "bigint",
    "mean": "double",
    "std": "double",
}


def _empty_result_schema(groupby_cols, agg_list, aggregate: bool):
    """The DECLARED output schema of an all-missing groupby (VERDICT r10
    item #7): column names exactly as a non-empty result would carry them, so
    callers composing on expected columns fail at the true source (missing
    shards) rather than with a downstream AnalysisException on a 0-column
    frame. Types: counts/means are knowable (bigint/double); key columns and
    type-inheriting aggs have no shard to read a type from and default to
    string — documented superset behavior, same spirit as returning an empty
    frame where the reference returns None."""
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    types = {"bigint": LongType(), "double": DoubleType(), "string": StringType()}
    if not aggregate:
        seen = []
        for c in list(groupby_cols) + [t[0] for t in normalize_agg_list(agg_list)]:
            if c not in seen:
                seen.append(c)
        return StructType([StructField(c, StringType()) for c in seen])
    fields = [StructField(c, StringType()) for c in groupby_cols]
    fields += [
        StructField(outp, types[_AGG_OUT_TYPES.get(method, "string")])
        for _inp, method, outp in normalize_agg_list(agg_list)
    ]
    return StructType(fields)


class ParquetEngine:
    """Client-facing facade with the reference RPC's surface.

    ``ParquetEngine(spark, data_dir).groupby([...], ...)`` is the drop-in for
    ``parqueryd.rpc.RPC(...).groupby(...)``: bare filenames resolve against
    ``data_dir`` (worker.py:388), missing shards are ignored, and an all-missing
    query returns an empty DataFrame carrying the DECLARED groupby+agg output
    schema rather than the reference's ``None`` (documented superset;
    rpc.py:151-153; see :func:`_empty_result_schema` for the type contract).
    """

    def __init__(self, spark: SparkSession, data_dir: str | None = None):
        self.spark = spark
        self.data_dir = data_dir
        self._tickets: dict[str, "Ticket"] = {}
        #: Wall-clock seconds of the most recent groupby/sql/apply_pandas
        #: call — parity with the reference's only client-side timing surface
        #: (rpc.py:186-187 stamps rpc.last_call_duration after every RPC).
        #: Here calls return LAZY DataFrames, so this measures the facade
        #: call (resolution + plan construction; the collect submission for
        #: wait=False) — cluster execution time lives in the Spark UI/metrics.
        self.last_call_duration: float | None = None

    def _stamp(self, t0: float):
        import time

        self.last_call_duration = time.perf_counter() - t0

    def groupby(
        self,
        filenames: Sequence[str] | str,
        groupby_cols: Sequence[str],
        agg_list: Sequence,
        where_terms: Sequence[Sequence] | None = None,
        aggregate: bool = True,
        wait: bool = True,
        manifest: DataFrame | None = None,
    ) -> DataFrame | "Ticket":
        """The flagship call. ``wait=False`` submits the collect as an async
        ticket (reference fire-and-forget surface, controller.py:524-530) —
        poll ``status()``, then ``result()`` for the rows. ``manifest``
        enables zone-map shard skipping (see :func:`aggregate_files`)."""
        import time

        t0 = time.perf_counter()
        result = aggregate_files(
            self.spark,
            filenames,
            groupby_cols,
            agg_list,
            where_terms=where_terms,
            aggregate=aggregate,
            data_dir=self.data_dir,
            manifest=manifest,
        )
        if result is None:
            result = self.spark.createDataFrame(
                [], schema=_empty_result_schema(groupby_cols, agg_list, aggregate)
            )
        if wait:
            self._stamp(t0)
            return result
        ticket = self.submit(result.collect, description=f"groupby({groupby_cols})")
        self._stamp(t0)
        return ticket

    # --- service-surface analogs (SURVEY.md §2.3) ---

    def ping(self) -> str:
        """Liveness (controller.py:496-497)."""
        return "pong"

    def info(self) -> dict:
        """Cluster topology snapshot (controller.py:683-701 analog). Includes
        the data_dir's parquet file list — the files_map equivalent (workers
        advertise their data files, worker.py:155-168; here shared storage
        makes every file visible to every executor) — plus the reference's
        per-worker introspection facts re-expressed for executors: uptime
        (per-worker 'uptime', controller.py:692), busy/total counts
        ('busy_workers', controller.py:697-699), and per-executor host/core
        facts from the status tracker."""
        import os
        import time

        sc = self.spark.sparkContext
        data_files: list[str] = []
        if self.data_dir:
            # scheme-aware listing (files_map must see s3a://-style data_dirs
            # too — the reference's files_map serves object-store-downloaded
            # data); absent/empty dirs just report no files
            from parqueryd_spark.sources.fs import HadoopFS

            fs = HadoopFS(self.spark, self.data_dir)
            if fs.is_dir(self.data_dir):
                data_files = sorted(
                    f for f in fs.listdir(self.data_dir) if f.endswith(".parquet")
                )
        tracker = sc.statusTracker()
        # Per-executor host/task/memory detail has no public PySpark surface
        # (only the Scala SparkStatusTracker exposes getExecutorInfos), so the
        # py4j gateway call is best-effort: introspection detail must never
        # break info() on a py4j/Spark version where the private chain moved.
        executors: list[dict] = []
        try:
            executors = [
                {
                    "host_port": f"{e.host()}:{e.port()}",
                    "running_tasks": e.numRunningTasks(),
                    "storage_memory_used": e.usedOnHeapStorageMemory()
                    + e.usedOffHeapStorageMemory(),
                }
                for e in sc._jsc.sc().statusTracker().getExecutorInfos()
            ]
        except Exception:
            pass
        return {
            "app_name": sc.appName,
            "app_id": sc.applicationId,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "spark_version": self.spark.version,
            "uptime_seconds": round(time.time() - sc.startTime / 1000.0, 3),
            "active_jobs": len(tracker.getActiveJobsIds()),
            "active_stages": len(tracker.getActiveStageIds()),
            "executors": executors,
            "data_dir": self.data_dir,
            "data_files": data_files,
        }

    def attach_tables(self, names: Sequence[str] | None = None) -> list[str]:
        """Register every ``<data_dir>/<name>.parquet`` as a temp view named
        ``<name>`` (``names`` restricts the set). Returns the registered
        names. Scheme-aware (same Hadoop listing as :meth:`info`), so an
        object-store data_dir attaches the same way. Views are lazy —
        attaching costs a schema read, not a scan."""
        if not self.data_dir:
            raise ValueError("attach_tables requires an engine data_dir")
        from parqueryd_spark.sources.fs import HadoopFS
        from parqueryd_spark.sources.parquet import load_table

        fs = HadoopFS(self.spark, self.data_dir)
        found = (
            [f[: -len(".parquet")] for f in fs.listdir(self.data_dir) if f.endswith(".parquet")]
            if fs.is_dir(self.data_dir)
            else []
        )
        attach = sorted(set(found) & set(names) if names is not None else set(found))
        for name in attach:
            load_table(self.spark, self.data_dir, name).createOrReplaceTempView(name)
        return attach

    def sql(self, query: str) -> DataFrame:
        """Raw ANSI SQL over the data_dir's tables — the surface the
        reference never had (its only expression language is filter triples,
        SURVEY.md §2.2) and the one Catalyst gives for free: every view from
        :meth:`attach_tables` plus anything the session registered. Full
        optimizer treatment (pushdown, pruning, join reordering, AQE) applies
        — this is ``spark.sql`` with the engine's table resolution."""
        import time

        t0 = time.perf_counter()
        self.attach_tables()
        out = self.spark.sql(query)
        self._stamp(t0)
        return out

    def apply_pandas(
        self,
        filenames,
        fn,
        schema,
        wait: bool = True,
    ) -> DataFrame | "Ticket":
        """Typed replacement for the reference's ``execute_code`` RPC
        (controller.py:524-530 — arbitrary dotted-path import on a worker,
        documented as an accepted RCE tradeoff, README.md:119-125). Here user
        code runs as an Arrow-batched ``mapInPandas`` over the data instead:
        ``fn(iterator_of_pandas_batches) -> iterator_of_pandas_batches`` with a
        declared output ``schema`` — sandbox-equivalent to any other Spark job,
        no dynamic import surface.

        ``wait=False`` mirrors the reference's dispatched-not-awaited mode
        ("OK, <fn> dispatched", controller.py:530): the transform is submitted
        as an async ticket that collects in the background.
        """
        import time

        t0 = time.perf_counter()
        df = read_parquet(self.spark, filenames, data_dir=self.data_dir)
        if df is None:
            df = self.spark.createDataFrame([], schema=schema)
        out = df.mapInPandas(fn, schema=schema)
        if wait:
            self._stamp(t0)
            return out
        ticket = self.submit(out.collect, description="apply_pandas")
        self._stamp(t0)
        return ticket

    def loglevel(self, level: str) -> None:
        """Propagate log level (controller.py:498-510 analog)."""
        self.spark.sparkContext.setLogLevel(level)

    # --- async tickets (reference wait=False / download-ticket surface) ---

    def submit(self, action, description: str = "") -> "Ticket":
        """Fire-and-forget any driver-side action (a closure over DataFrame
        actions: collect/count/write). Returns a :class:`Ticket` immediately —
        the analog of the reference's download-ticket protocol
        (controller.py:556-597): poll ``status()`` for task-level progress,
        ``cancel()`` to abandon, ``result()`` to fetch."""
        from parqueryd_spark.tickets import submit as _submit

        ticket = _submit(self.spark, action, description)
        self._tickets[ticket.ticket_id] = ticket
        return ticket

    def prefetch(self, filenames, name: str, wait: bool = False) -> "Ticket":
        """Materialize shards into the cluster cache under a temp-view name —
        the ``download`` analog (S3/Azure -> local disk, controller.py:556-597;
        here object store -> executor storage memory). Always returns a ticket;
        ``wait=True`` blocks until the cache is hot, like the reference's
        ``download(wait=True)`` (controller.py:592-596)."""
        df = read_parquet(self.spark, filenames, data_dir=self.data_dir)
        if df is None:
            raise FileNotFoundError(f"no shards found for {filenames!r}")
        df.createOrReplaceTempView(name)
        self.spark.catalog.cacheTable(name)
        warmed = self.spark.table(name)
        ticket = self.submit(lambda: warmed.count(), description=f"prefetch {name}")
        if wait:
            ticket.result()
        return ticket

    def tickets(self) -> list[dict]:
        """Status of every ticket submitted through this engine (the analog of
        the controller's ticket registry scan, controller.py:460-471)."""
        return [t.status() for t in self._tickets.values()]
