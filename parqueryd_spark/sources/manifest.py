"""Zone-map data skipping: a file-level min/max manifest built from parquet
footers, and a scan that prunes files BEFORE Spark plans the read.

Vanilla Spark pushes predicates into the parquet reader, but that pruning
happens per row group INSIDE each scheduled task — every file is still
listed, split, and scheduled. At 100 TB a selective query over a
well-clustered layout (``sources/layout.py``: range-sorted or Z-ordered
writes) should not schedule a task per file just to discover min/max
disjointness; that is the file-skipping layer table formats (Delta, Iceberg,
Hudi — and the reference's bcolz-era per-shard metadata) add over a bare
directory of parquet. This module is that layer as plain DataFrames:

- ``build_manifest``: one distributed pass over the footers (mapInPandas —
  each task opens only metadata, never data pages) producing one row per
  (file, column): row count, null count, and min/max encoded both
  numerically and lexically. The manifest is itself a small DataFrame —
  persist it next to the data and rebuild incrementally per publish batch
  (it unions/overwrites per file, like the other incremental indexes).
- ``_plan``: evaluate the reference's ``[[col, op, value], ...]``
  where-terms (the same triples ``functions/compile.py`` executes, through
  the same op normalization — one predicate language for execution AND
  planning) against the manifest, yielding one verdict per file. Every
  pruned scan, count, min/max and skip statistic takes its file set from it.
- ``scan_pruned``: read only the kept files, then apply the exact compiled
  filter — pruning is an optimization, never a semantics change.

The file set is the live listing — the dataset's, or for the parity hook
``prune_paths`` its shards' — and the manifest only supplies stats. A live
file without manifest stats is scanned, and a manifest row whose file no
longer exists is ignored, so a stale manifest (files published or compacted
away since its last refresh) costs speed, never rows. ``prune_paths`` drops
a shard only when every live data file under it is ruled out.

Soundness: the parquet spec defines ``min_value``/``max_value`` as BOUNDS
(they may be truncated toward wider ranges, e.g. long strings), so interval
disjointness proves a file has no matching row; missing statistics or an
unprunable op keep the file. NULL semantics make every where-op
unsatisfiable on an all-null chunk (``x != v`` is NULL for NULL x), so
``null_count == n_rows`` skips for every op. The residual exact filter makes
even a pruning bug a perf bug, not a wrong answer — but the property test
asserts kept ⊇ matching-files anyway.

Every per-file verdict — keep, full satisfaction, row count, one column's
bounds — comes from ONE ``groupBy("file")`` aggregation over the manifest
(``_file_verdicts``): each term is a ``bool_and`` over the file's stats row
for the term's column, so the number of terms never adds joins or stages.
The keep and full verdicts are each ONE SQL expression (``F.expr``), built
as text with every term value and column name rendered by ``_lit`` — a
handful of py4j calls whatever the term count, and no user value is ever
quoted or escaped. ``build_manifest`` and ``refresh_manifest`` return the
manifest hash-partitioned on ``file`` (``_by_file``), so once it is cached
the aggregation plans no Exchange: planning a pruned scan, a provable count
or min/max, or a skip statistic is one Spark job, and it is the only one a
``manifest=`` call of the parity API runs before its query. The driver then
collects one small row per file (``_collect_by_file``) — the same O(files)
planning-time listing Spark's own FileIndex does. ``prune_paths`` without
where-terms keeps every path, lists nothing and runs no job at all.

Hive-partitioned layouts compose: ``build_manifest`` records
directory-derived ``key=value`` partition values as constant-per-file stats
rows (so partition terms prune through the same verdict machinery as data
stats), and pruned subset reads pass ``basePath`` so the partition columns
survive — a query filtering on a partition key AND a clustered data column
skips via both layers at once.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterable, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from parqueryd_spark.functions.compile import compile_where_terms, normalize_where_terms
from parqueryd_spark.sources.fs import HadoopFS
from parqueryd_spark.sources.parquet import read_resolved

MANIFEST_SCHEMA = StructType(
    [
        StructField("file", StringType(), False),
        StructField("column", StringType(), False),
        StructField("n_rows", LongType(), False),
        StructField("null_count", LongType(), True),
        StructField("has_min_max", BooleanType(), False),
        StructField("min_num", DoubleType(), True),
        StructField("max_num", DoubleType(), True),
        StructField("min_str", StringType(), True),
        StructField("max_str", StringType(), True),
    ]
)

_EPOCH_DT = _dt.datetime(1970, 1, 1)
_EPOCH_D = _dt.date(1970, 1, 1)


def _norm_path(u: str) -> str:
    """Normalize URI spelling differences (``file:/x`` vs ``/x`` vs
    ``file:///x``) so manifest rows (input_file_name / lister spellings)
    match caller paths."""
    return "/" + u.split(":", 1)[-1].lstrip("/") if ":" in u else u


def _coerce_num(value) -> float | None:
    """Python term-value -> the manifest's numeric encoding (None = not
    numeric). Dates AND datetimes both encode as epoch SECONDS (dates at
    midnight, matching Spark's date->timestamp cast), mirroring the
    footer-side encoding in ``build_manifest``, so a ``date`` term against a
    timestamp column (or vice versa) compares in ONE unit — encoding dates
    as days would silently prune everything on mixed-type terms (the
    day-count ~2e4 sits below every epoch-second bound ~2e9)."""
    if isinstance(value, bool):
        return float(value)
    if isinstance(value, (int, float)):
        return float(value)
    if isinstance(value, _dt.datetime):
        base = _EPOCH_DT.replace(tzinfo=value.tzinfo) if value.tzinfo else _EPOCH_DT
        return (value - base).total_seconds()
    if isinstance(value, _dt.date):
        return float((value - _EPOCH_D).days) * 86400.0
    return None


def build_manifest(
    spark: SparkSession, path: str, columns: Sequence[str] | None = None
) -> DataFrame:
    """One (file, column) stats row per data file under ``path`` — a
    distributed footer sweep; data pages are never read. ``columns`` limits
    the manifest to the hot filter columns (pruning treats absent columns as
    unprunable, so a narrow manifest stays sound)."""
    return _by_file(_sweep_footers(spark, path, HadoopFS(spark, path).list_files(path), columns))


def _by_file(mf: DataFrame) -> DataFrame:
    """``mf`` hash-partitioned on ``file`` into the session's default
    parallelism: every per-file aggregation over the cached result plans no
    Exchange. A manifest read back from disk is not clustered and plans as
    before."""
    return mf.repartition(mf.sparkSession.sparkContext.defaultParallelism, "file")


def _sweep_footers(
    spark: SparkSession, path: str, files: Sequence[str], columns: Sequence[str] | None
) -> DataFrame:
    """Manifest rows for ``files`` (under the dataset root ``path``): one
    mapInPandas task per slice of files, each opening footers only."""
    if not files:
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return (
        spark.createDataFrame([(f,) for f in files], "file string")
        .repartition(min(len(files), 64))
        .mapInPandas(
            _footer_reader(list(columns) if columns else None, root=path),
            MANIFEST_SCHEMA,
        )
    )


def _footer_reader(wanted: list[str] | None, root: str | None = None):
    """mapInPandas fn over a ``file string`` column of parquet URIs ->
    MANIFEST_SCHEMA rows. Returned closure is self-contained (imports
    inside, no module globals) so executors never need the repo importable.

    With ``root``, hive-style ``key=value`` path segments between the root
    and each file ALSO become manifest rows (min == max == the partition
    value, encoded both lexically and — when it parses as a number or ISO
    date — numerically; ``__HIVE_DEFAULT_PARTITION__`` registers as all-null)
    so where-terms on partition columns prune through the SAME verdict
    machinery as data-column stats, and the two pruning layers compose."""
    out_cols = [f.name for f in MANIFEST_SCHEMA.fields]
    norm_root = _norm_path(root).rstrip("/") if root is not None else None

    def _footers(batches):
        # self-contained closure: executors must not need the repo on their
        # import path (cloudpickled by value, imports inside)
        import datetime as dt
        from urllib.parse import unquote

        import pandas as pd
        import pyarrow.parquet as pq

        epoch_dt = dt.datetime(1970, 1, 1)
        epoch_d = dt.date(1970, 1, 1)

        def hive_parts(uri):
            if norm_root is None:
                return []
            p = "/" + uri.split(":", 1)[-1].lstrip("/") if ":" in uri else uri
            if not p.startswith(norm_root + "/"):
                return []
            out = []
            for seg in p[len(norm_root) + 1 :].split("/")[:-1]:  # dirs only
                if "=" in seg:
                    k, _, v = seg.partition("=")
                    out.append((k, unquote(v)))
            return out

        def part_num(v):
            try:
                return float(int(v))
            except ValueError:
                pass
            try:
                return float(v)
            except ValueError:
                pass
            try:
                return float((dt.date.fromisoformat(v) - epoch_d).days) * 86400.0
            except ValueError:
                return None

        def num(v):
            if v is None:
                return None
            if isinstance(v, bool):
                return float(v)
            if isinstance(v, (int, float)):
                return float(v)
            if isinstance(v, dt.datetime):
                base = epoch_dt.replace(tzinfo=v.tzinfo) if v.tzinfo else epoch_dt
                return (v - base).total_seconds()
            if isinstance(v, dt.date):
                # epoch SECONDS (midnight), same unit as datetimes — keeps
                # date/timestamp cross-type terms comparable (see _coerce_num)
                return float((v - epoch_d).days) * 86400.0
            return None

        def lex(v):
            return v if isinstance(v, str) else None

        for batch in batches:
            rows = []
            for uri in batch["file"]:
                local = uri[5:] if uri.startswith("file:") else uri
                md = pq.ParquetFile(local).metadata
                n_rows = md.num_rows
                # fold row-group chunk stats to file grain: min of mins /
                # max of maxs is still a valid bound; ANY chunk without
                # stats poisons the file's bounds (has_min_max=False)
                acc = {}
                for rg in range(md.num_row_groups):
                    for ci in range(md.num_columns):
                        cc = md.row_group(rg).column(ci)
                        name = cc.path_in_schema
                        if wanted is not None and name not in wanted:
                            continue
                        st = cc.statistics
                        cur = acc.setdefault(name, {"null": 0, "ok": True, "mins": [], "maxs": []})
                        if st is None or not st.has_min_max:
                            cur["ok"] = False
                        else:
                            cur["mins"].append(st.min)
                            cur["maxs"].append(st.max)
                        if cur["null"] is not None:
                            nc = (
                                st.null_count
                                if st is not None and st.has_null_count
                                else None
                            )
                            cur["null"] = None if nc is None else cur["null"] + nc
                # directory-derived hive partition columns: constant per file
                # (min == max == value; exact-zero nulls), so equality/range
                # terms on them prune files exactly like clustered data stats
                for pk, pv in hive_parts(uri):
                    if wanted is not None and pk not in wanted:
                        continue
                    is_null = pv == "__HIVE_DEFAULT_PARTITION__"
                    rows.append(
                        {
                            "file": uri,
                            "column": pk,
                            "n_rows": n_rows,
                            "null_count": n_rows if is_null else 0,
                            "has_min_max": not is_null,
                            "min_num": None if is_null else part_num(pv),
                            "max_num": None if is_null else part_num(pv),
                            "min_str": None if is_null else pv,
                            "max_str": None if is_null else pv,
                        }
                    )
                # sentinel coverage row (column=""): EVERY swept file gets at
                # least one manifest row, so a narrowed manifest over a file
                # whose schema lacks every wanted column still carries its
                # row count and stays in the manifest's own file set
                # (pruned_file_list, skip_stats), its absent
                # columns unprunable instead of its rows silently dropped
                rows.append(
                    {
                        "file": uri,
                        "column": "",
                        "n_rows": n_rows,
                        "null_count": None,
                        "has_min_max": False,
                        "min_num": None,
                        "max_num": None,
                        "min_str": None,
                        "max_str": None,
                    }
                )
                for name, cur in acc.items():
                    ok = cur["ok"] and cur["mins"]
                    mn = min(cur["mins"]) if ok else None
                    mx = max(cur["maxs"]) if ok else None
                    rows.append(
                        {
                            "file": uri,
                            "column": name,
                            "n_rows": n_rows,
                            "null_count": cur["null"],
                            "has_min_max": bool(ok),
                            "min_num": num(mn),
                            "max_num": num(mx),
                            "min_str": lex(mn),
                            "max_str": lex(mx),
                        }
                    )
            yield pd.DataFrame(rows, columns=out_cols)

    return _footers


def refresh_manifest(
    spark: SparkSession,
    path: str,
    old: DataFrame,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Incrementally maintain a persisted manifest: footer-sweep ONLY files
    not already covered, drop rows for files that vanished (compaction /
    atomic_publish swaps). Cost is O(new files), the same increment contract
    as the minhash/IVF/HLL indexes — a 100 TB corpus appending a daily batch
    re-reads a day of footers, not the standing corpus's."""
    live = _split_refresh(spark, path, old)
    if live is None:
        return _by_file(spark.createDataFrame([], MANIFEST_SCHEMA))
    kept, new_files = live
    if new_files:
        kept = kept.unionByName(_sweep_footers(spark, path, new_files, columns))
    return _by_file(kept)


def _split_refresh(
    spark: SparkSession, path: str, old: DataFrame
) -> tuple[DataFrame, list[str]] | None:
    """The refresh increment of a per-file index ``old`` over the dataset
    at ``path``: (old's rows for files still live, live files old doesn't
    cover), or None when ``path`` holds no files. Files match on
    ``_norm_path``, because index rows may carry ``input_file_name()``
    spellings (``file:///x``) while the lister yields ``file:/x``."""
    current = HadoopFS(spark, path).list_files(path)
    if not current:
        return None
    live = {_norm_path(f) for f in current}
    known = [r.file for r in old.select("file").distinct().collect()]
    still = spark.createDataFrame([(f,) for f in known if _norm_path(f) in live], "file string")
    # semi join, not a giant isin literal: the file list can be millions long
    kept = old.join(still, "file", "left_semi")
    known_n = {_norm_path(f) for f in known}
    return kept, sorted(f for f in current if _norm_path(f) not in known_n)


def _lit(value) -> str:
    """SQL literal for a term value or a column name: a double as
    ``CAST('<repr>' AS DOUBLE)`` (``inf``/``nan`` included), a string as
    ``CAST(X'<utf-8 hex>' AS STRING)`` — no user text ever lands in the SQL
    unescaped."""
    if isinstance(value, str):
        return f"CAST(X'{value.encode('utf-8').hex()}' AS STRING)"
    return f"CAST('{float(value)!r}' AS DOUBLE)"


def _bounds(value):
    """``(lo, hi, v)`` SQL comparing ``value`` against the stats row's
    bounds of its encoding family — numeric (numbers, dates, datetimes) or
    lexical (strings) — or None for a value neither family encodes. Bounds
    of the wrong family (a numeric term on a string column) are NULL, and
    each caller coalesces NULL to its conservative answer."""
    v_num = _coerce_num(value)
    if v_num is not None:
        return "min_num", "max_num", _lit(v_num)
    if isinstance(value, str):
        return "min_str", "max_str", _lit(value)
    return None


def _window_pred(value) -> str:
    """SQL predicate: could [min, max] contain ``value``?"""
    b = _bounds(value)
    if b is None:
        return "true"  # unencodable type: never prune on it
    lo, hi, v = b
    return f"coalesce({lo} <= {v} AND {hi} >= {v}, true)"


def _point_pred(value) -> str:
    """SQL predicate: is the file constant at exactly ``value``?"""
    b = _bounds(value)
    if b is None:
        return "false"
    lo, hi, v = b
    return f"coalesce({lo} = {v} AND {hi} = {v}, false)"


def _bound_pred(op: str, value) -> str:
    """Keep-verdict SQL for one normalized term over a (file, column) stats
    row that HAS min/max bounds. Conservative by construction: anything
    uncertain evaluates to keep."""
    if op == "==":
        return _window_pred(value)
    if op == "in":
        return "(" + " OR ".join(["false", *map(_window_pred, value)]) + ")"
    if op == "!=":
        # a constant-at-v file has no satisfying non-null row; NULLs never
        # satisfy != either, so null_count is irrelevant here
        return f"NOT {_point_pred(value)}"
    if op == "not in":
        return "NOT (" + " OR ".join(["false", *map(_point_pred, value)]) + ")"
    b = _bounds(value)
    if b is None:
        return "true"
    lo, hi, v = b
    # x > v is possible iff max > v; x < v is possible iff min < v
    return f"coalesce({hi if op[0] == '>' else lo} {op} {v}, true)"


def _keep_pred(op: str, value) -> str:
    """Keep-verdict SQL for one normalized term over any (file, column)
    stats row: an all-null chunk satisfies no op (SQL NULL comparison
    semantics); a chunk without bounds is unprunable."""
    return (
        "CASE WHEN null_count IS NOT NULL AND null_count = n_rows THEN false"
        f" WHEN NOT has_min_max THEN true ELSE {_bound_pred(op, value)} END"
    )


def _full_pred(op: str, value) -> str:
    """Keep-verdict complement as SQL: does EVERY non-null row of a (file,
    column) stats row satisfy the normalized term? Conservative toward
    False (uncertain files get scanned, never stat-counted)."""
    b = None if op in ("in", "not in") else _bounds(value)
    if b is None:
        # set-membership terms and unencodable values are never proved
        # file-wide: such files scan
        return "false"
    lo, hi, v = b
    if op == "==":
        core = f"{lo} = {v} AND {hi} = {v}"
    elif op == "!=":
        core = f"{hi} < {v} OR {lo} > {v}"
    else:
        # every x > v iff min > v; every x < v iff max < v
        core = f"{lo if op[0] == '>' else hi} {op} {v}"
    # NULL rows never satisfy a predicate, so a stat-counted file must have
    # a proven-zero null count for the term's column
    return (
        "has_min_max AND null_count IS NOT NULL AND null_count = 0"
        f" AND coalesce({core}, false)"
    )


def _file_verdicts(
    mf: DataFrame, terms: list, full: bool = False, stats_col: str | None = None
) -> DataFrame:
    """Every per-file planning fact in ONE ``groupBy("file")`` aggregation
    over the manifest, for normalized ``terms`` (AND-combined):

    - ``n_rows``, and ``keep``: could the file hold a matching row?
    - with ``full``, ``full``: does every non-null row provably match?
    - with ``stats_col``, that column's ``has_min_max``/``min_num``/``max_num``.

    Each term reads only its own column's stats row, as
    ``bool_and(CASE WHEN column = <col> THEN <pred> END)``. A file without
    that row (the column is absent from the manifest or from the file) gets
    NULL, which coalesces to keep=True and full=False: absent stats never
    prune and never prove. Every aggregate is one ``F.expr`` over SQL text,
    so building them costs the same few py4j calls for any number of
    terms."""

    def all_terms(pred, missing: str) -> str:
        per_term = (
            f"coalesce(bool_and(CASE WHEN `column` = {_lit(c)} THEN {pred(op, v)} END), {missing})"
            for c, op, v in terms
        )
        return " AND ".join(["true", *per_term])

    aggs = {"n_rows": "max(n_rows)", "keep": all_terms(_keep_pred, "true")}
    if full:
        aggs["full"] = all_terms(_full_pred, "false")
    if stats_col is not None:
        on = f"`column` = {_lit(stats_col)}"
        aggs["has_min_max"] = f"bool_and(CASE WHEN {on} THEN has_min_max END)"
        aggs["min_num"] = f"min(CASE WHEN {on} THEN min_num END)"
        aggs["max_num"] = f"max(CASE WHEN {on} THEN max_num END)"
    return mf.groupBy("file").agg(*(F.expr(f"{sql} AS {name}") for name, sql in aggs.items()))


class _Verdict(NamedTuple):
    """One file's planning facts (the ``_file_verdicts`` columns). A live
    file the manifest has no stats for keeps these defaults: kept, never
    proven full, no row count or bounds — it is scanned."""

    file: str
    keep: bool = True
    full: bool = False
    n_rows: int | None = None
    has_min_max: bool | None = None
    min_num: float | None = None
    max_num: float | None = None


def _collect_by_file(verdicts: DataFrame) -> dict[str, Row]:
    """Collect per-file verdict rows, keyed by ``_norm_path(file)`` — the
    one planning-time collect every pruning call makes (O(files), the analog
    of Spark's own driver-side file listing)."""
    return {_norm_path(r.file): r for r in verdicts.collect()}


def _plan(
    mf: DataFrame,
    terms: list,
    files: Sequence[str] | None = None,
    full: bool = False,
    stats_col: str | None = None,
) -> list[_Verdict]:
    """The zone-map planner: one verdict per file for normalized ``terms``,
    from one collect of ``_file_verdicts``. With ``files`` (a live listing)
    those are the set, in order, and the manifest only supplies stats (a
    live file without stats is kept, a row for a vanished file is ignored);
    without it the manifest's own files are the set."""
    rows = _collect_by_file(_file_verdicts(mf, terms, full=full, stats_col=stats_col))
    if files is None:
        return [_Verdict(**r.asDict()) for r in rows.values()]
    plan = []
    for f in files:
        r = rows.get(_norm_path(f))
        plan.append(_Verdict(f) if r is None else _Verdict(**{**r.asDict(), "file": f}))
    return plan


def pruned_file_list(
    manifest: DataFrame, where_terms: Sequence[Sequence] | None
) -> list[str]:
    """The manifest files that may hold a row matching the AND-combined
    where-terms (the reference's triple syntax — ``functions/compile.py``).
    A term whose column is absent from the manifest keeps every file; an
    all-null chunk satisfies no op (SQL NULL comparison semantics) and is
    skipped."""
    return sorted(v.file for v in _plan(manifest, normalize_where_terms(where_terms)) if v.keep)


def prune_paths(
    manifest: DataFrame,
    paths: Sequence[str],
    where_terms: Sequence[Sequence] | None,
) -> list[str]:
    """Filter a caller-resolved shard list by the manifest's verdicts — the
    hook the parity API uses (``aggregate_files(..., manifest=)``): the
    reference's worker skipped work via per-shard metadata; here the same
    where-term triples skip whole shards before Spark plans the read.

    A shard path may be a FILE or a DIRECTORY of part-files (Spark writes).
    Each is listed now (one ``HadoopFS`` per call), and the planner gives
    one verdict per live data file (``_plan``): a shard is kept when any of
    its live files is kept, or when it lists no data file (the plain read
    then decides). A live file with no manifest row is kept and a row for a
    vanished file is ignored, so a shard republished after the manifest was
    built is planned on its new files, never its old files' stats.

    Without where-terms every path is kept, nothing is listed and no Spark
    job runs.
    """
    terms = normalize_where_terms(where_terms)
    if not terms or not paths:
        return list(paths)
    fs = HadoopFS(manifest.sparkSession, paths[0])
    listed = [(p, fs.list_files(p)) for p in paths]
    plan = _plan(manifest, terms, [f for _p, files in listed for f in files])
    keep = {v.file: v.keep for v in plan}
    return [p for p, files in listed if not files or any(keep[f] for f in files)]


def skip_stats(manifest: DataFrame, where_terms: Sequence[Sequence] | None) -> dict:
    """How much the layout lets this predicate skip: files/rows total vs
    kept over the manifest's files, summed on the driver from the planner's
    verdicts. ``rows_kept`` is the scheduling bound (rows in files we must
    read), not the match count."""
    plan = _plan(manifest, normalize_where_terms(where_terms))
    kept = [v for v in plan if v.keep]
    return {
        "files_total": len(plan),
        "files_kept": len(kept),
        "rows_total": sum(v.n_rows for v in plan),
        "rows_kept": sum(v.n_rows for v in kept),
    }


def scan_pruned(
    spark: SparkSession,
    path: str,
    where_terms: Sequence[Sequence] | None,
    manifest: DataFrame | None = None,
    select: Iterable[str] | None = None,
    bloom_manifests: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Read only the live files the manifest cannot rule out, then apply
    the EXACT compiled predicate — identical results to a full scan + filter
    (property-tested), minus the skipped files' tasks. A file the manifest
    has no stats for is read (see ``_plan``). Pass a persisted
    ``manifest`` for standing data; omitting it builds one on the fly (a
    footer sweep — still cheaper than a data scan for selective queries,
    but the point of the layer is to build once per publish).

    ``bloom_manifests`` ({column: bloom_manifest DataFrame}) stacks the
    second pruning mechanism: for each ``==``/``in`` term on a covered
    column, the per-file blooms rule out files the min/max bounds can't —
    the two verdict sets INTERSECT, so a query like "value in this range
    AND key == X" reads only files passing both. Sound either way (bloom:
    no false negatives; zone map: spec bounds; exact filter regardless)."""
    mf = manifest if manifest is not None else build_manifest(spark, path)
    terms = normalize_where_terms(where_terms)
    live = HadoopFS(spark, path).list_files(path)
    kept = [v.file for v in _plan(mf, terms, live) if v.keep]
    if bloom_manifests:
        dtypes = {f.name: f.dataType for f in read_resolved(spark, [path]).schema.fields}
        for col_name, op, value in terms:
            if col_name not in bloom_manifests or op not in ("==", "in"):
                continue
            vals = value if op == "in" else [value]
            kept = _bloom_kept(kept, bloom_manifests[col_name], vals, dtypes.get(col_name))
    if not kept:
        base = read_resolved(spark, [path]).filter(F.lit(False))
    else:
        base = _read_kept(spark, path, kept, where_terms)
    if select is not None:
        base = base.select(*select)
    return base


def _read_kept(
    spark: SparkSession, path: str, files: Sequence[str], where_terms: Sequence[Sequence] | None
) -> DataFrame:
    """Read the kept ``files`` of the dataset at ``path`` and apply the
    EXACT compiled filter. ``basePath`` keeps directory-derived (hive)
    partition columns alive on a subset-of-files read — without it a pruned
    read of a partitioned dataset would silently drop those columns. It is
    only meaningful when ``path`` is a directory above the kept files."""
    subset = any(_norm_path(f) != _norm_path(path) for f in files)
    df = read_resolved(spark, files, base_path=path if subset else None)
    pred = compile_where_terms(where_terms)
    return df if pred is None else df.filter(pred)


def count_pruned(
    spark: SparkSession,
    path: str,
    where_terms: Sequence[Sequence] | None,
    manifest: DataFrame | None = None,
) -> int:
    """COUNT(*) under AND-combined where-terms with METADATA-ONLY counting
    where the stats prove it: a file every term fully satisfies contributes
    its footer row count without being read; a file no term can match
    contributes nothing; only BOUNDARY files — possibly-matching but not
    provably-all-matching — are scanned with the exact predicate. On a
    clustered layout (sources/layout.py) a range count touches the two edge
    files of the range and sums the interior from kilobytes of manifest —
    the zone-map analog of partition-level count pushdown. Only live files
    count, and one without manifest stats is a boundary file (see
    ``_plan``)."""
    mf = manifest if manifest is not None else build_manifest(spark, path)
    live = HadoopFS(spark, path).list_files(path)
    plan = _plan(mf, normalize_where_terms(where_terms), live, full=True)
    stat_count = sum(v.n_rows for v in plan if v.keep and v.full)
    boundary = [v.file for v in plan if v.keep and not v.full]
    if not boundary:
        return int(stat_count)
    return int(stat_count + _read_kept(spark, path, boundary, where_terms).count())


def minmax_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    where_terms: Sequence[Sequence] | None = None,
    manifest: DataFrame | None = None,
    dtype: str | None = None,
) -> tuple:
    """(MIN(col), MAX(col)) under AND-combined where-terms with
    METADATA-ONLY answers where the stats prove them — the min/max analog of
    :func:`count_pruned`: a kept file every term fully satisfies contributes
    its footer ``[min, max]`` for ``col`` WITHOUT being read; only boundary
    files (possibly-matching but not provably-all-matching, or lacking exact
    stats) are scanned with the exact predicate.

    Soundness: this shortcut applies ONLY to numerically-encoded stats
    (ints/floats — exact by the parquet spec; string min/max may be
    TRUNCATED toward wider bounds, so string columns always scan), only when
    the file fully satisfies every term (so every non-null row — including
    the extremes — is in the result set), and the footer min/max of a fully-
    matching file ARE its contribution to the aggregate (MIN/MAX ignore
    NULLs, which the stats exclude by construction). Date/timestamp columns
    also scan: their numeric encoding (epoch seconds) is planning-grade, not
    value-grade. Returns ``(None, None)`` when no rows match.

    ``dtype`` (a Spark type string, e.g. ``"double"``) skips the schema
    lookup — pass it when the answer must come from the manifest ALONE (the
    count_pruned posture: a fully-provable predicate then reads no data
    file, it only lists them)."""
    num_types = {"tinyint", "smallint", "int", "bigint", "float", "double"}
    if dtype is None:
        dtype = dict(read_resolved(spark, [path]).dtypes).get(col)
    metadata_ok = dtype in num_types
    mf = manifest if manifest is not None else build_manifest(spark, path)
    live = HadoopFS(spark, path).list_files(path)
    plan = _plan(mf, normalize_where_terms(where_terms), live, full=True, stats_col=col)
    lo = hi = None
    boundary = []
    for v in plan:
        if not v.keep:
            continue
        if metadata_ok and v.full and v.has_min_max and v.min_num is not None:
            lo = v.min_num if lo is None else min(lo, v.min_num)
            hi = v.max_num if hi is None else max(hi, v.max_num)
        else:
            boundary.append(v.file)
    if boundary:
        scan = _read_kept(spark, path, boundary, where_terms)
        row = scan.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
        s_lo, s_hi = row["lo"], row["hi"]
        if s_lo is not None:
            if not metadata_ok:
                # non-numeric columns never take the stats shortcut, so the
                # scan result IS the answer, in the column's native type
                return (s_lo, s_hi)
            s_lo, s_hi = float(s_lo), float(s_hi)
            lo = s_lo if lo is None else min(lo, s_lo)
            hi = s_hi if hi is None else max(hi, s_hi)
        elif not metadata_ok:
            return (None, None)
    if lo is None:
        return (None, None)
    if dtype in {"tinyint", "smallint", "int", "bigint"}:
        return (int(lo), int(hi))
    return (float(lo), float(hi))


def bloom_manifest(
    spark: SparkSession,
    path: str,
    key_col: str,
    fpp: float = 0.01,
    num_bits: int | None = None,
    num_hashes: int | None = None,
) -> DataFrame:
    """Per-FILE Bloom filters for point-lookup skipping on UNCLUSTERED
    columns — the skipping mechanism min/max zone maps can't provide: when a
    high-cardinality key is scattered (not range-clustered), every file's
    [min, max] spans the whole domain and the zone map keeps everything,
    but a key lives in few files and each file's bloom proves its absence
    from the rest. One row per file ``(file, n_bits, n_hashes, bitmap)`` —
    the operators/membership.py filter at file grain, same double-hashing
    probe, so no false negatives and lookups stay EXACT after the residual
    filter.

    Build reads the key column once (unlike the footer manifest) — an
    ingest-time cost amortized over every lookup; sizing defaults to the
    largest file's row count at ``fpp``. NULL keys are excluded (a NULL
    never equals a lookup value). Persist the rows next to the data and
    maintain per publish batch like the other incremental indexes."""
    return _file_blooms(read_resolved(spark, [path]), key_col, fpp, num_bits, num_hashes)


def _file_blooms(
    df: DataFrame,
    key_col: str,
    fpp: float,
    num_bits: int | None = None,
    num_hashes: int | None = None,
) -> DataFrame:
    """``(file, n_bits, n_hashes, bitmap)``, one row per data file of ``df``,
    over its non-NULL ``key_col`` values. Without both parameters the
    filters are sized for the largest file's row count at ``fpp``."""
    from parqueryd_spark.operators.membership import _SEED2, _positions_sql, bloom_params

    base = df.select(F.input_file_name().alias("file"), F.col(key_col).alias("__k")).where(
        F.col("__k").isNotNull()
    )
    if num_bits is None or num_hashes is None:
        mx = base.groupBy("file").agg(F.count(F.lit(1)).alias("n")).agg(F.max("n")).collect()[0][0]
        num_bits, num_hashes = bloom_params(int(mx or 1), fpp)
    lanes = (
        base.select(
            "file",
            F.xxhash64("__k").alias("__h1"),
            F.xxhash64("__k", F.lit(_SEED2)).alias("__h2"),
        )
        .select(
            "file",
            F.explode(
                F.expr(_positions_sql("__h1", "__h2", str(num_hashes), f"{num_bits}L"))
            ).alias("pos"),
        )
        .select(
            "file",
            F.expr("CAST(pos DIV 64 AS INT)").alias("word"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("lane"),
        )
        .groupBy("file", "word")
        .agg(F.expr("bit_or(lane)").alias("bits"))
    )
    return lanes.groupBy("file").agg(
        F.lit(int(num_bits)).cast("bigint").alias("n_bits"),
        F.lit(int(num_hashes)).cast("int").alias("n_hashes"),
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("bitmap"),
    )


def prune_files_bloom(bloom_mf: DataFrame, values: Sequence, value_type=None) -> DataFrame:
    """Per-file keep verdicts for ``key IN values``: a file is kept iff ANY
    lookup value probes positive in its bloom (expected kept ≈ true hits +
    fpp x files). IMPORTANT: hash equality requires TYPE equality — cast
    ``values`` to the key column's exact Spark type via ``value_type``
    (``scan_bloom_pruned`` does this from the data schema automatically)."""
    from parqueryd_spark.operators.membership import _SEED2, _positions_sql

    spark = bloom_mf.sparkSession
    vals = spark.createDataFrame([(v,) for v in values], ["__v"])
    if value_type is not None:
        vals = vals.select(F.col("__v").cast(value_type).alias("__v"))
    vals = vals.select(
        F.xxhash64("__v").alias("__h1"), F.xxhash64("__v", F.lit(_SEED2)).alias("__h2")
    )
    hit = F.expr(
        "forall("
        + _positions_sql("__h1", "__h2", "n_hashes", "n_bits")
        + ", p -> (shiftright(coalesce(element_at(bitmap, CAST(p DIV 64 AS INT)), 0L),"
        "            CAST(p % 64 AS INT)) & 1) = 1)"
    )
    return (
        bloom_mf.crossJoin(F.broadcast(vals))
        .withColumn("__hit", hit)
        .groupBy("file")
        .agg(F.expr("bool_or(__hit)").alias("keep"))
    )


def _bloom_kept(files: Sequence[str], bloom_mf: DataFrame, values: Sequence, value_type) -> list[str]:
    """The ``files`` whose bloom may contain one of ``values``; a file
    without a bloom row is kept (conservative)."""
    verdicts = _collect_by_file(prune_files_bloom(bloom_mf, values, value_type=value_type))
    return [f for f in files if (r := verdicts.get(_norm_path(f))) is None or r.keep]


def scan_bloom_pruned(
    spark: SparkSession,
    path: str,
    key_col: str,
    values: Sequence,
    bloom_mf: DataFrame,
) -> DataFrame:
    """Point-in-set lookup reading only files whose bloom may contain one of
    ``values``; the exact ``isin`` filter then runs on the survivors —
    identical results to a full scan. Files without manifest coverage are
    kept (conservative), matching the other pruned-scan contracts."""
    dtype = read_resolved(spark, [path]).schema[key_col].dataType
    kept = _bloom_kept(HadoopFS(spark, path).list_files(path), bloom_mf, values, dtype)
    typed = [F.lit(v).cast(dtype) for v in values]
    if not kept:
        return read_resolved(spark, [path]).filter(F.lit(False))
    return read_resolved(spark, kept).filter(F.col(key_col).isin(*typed))


def refresh_bloom_manifest(
    spark: SparkSession,
    path: str,
    key_col: str,
    old: DataFrame,
) -> DataFrame:
    """Incrementally maintain a persisted bloom manifest: build blooms ONLY
    for files not already covered (reading just their key column), drop rows
    for vanished files, and reuse the OLD rows' (n_bits, n_hashes) so every
    file probes identically — the refresh_manifest contract for the bloom
    layer. Cost is O(new files' rows), never the standing corpus."""
    live = _split_refresh(spark, path, old)
    if live is None:
        return old.limit(0)
    kept, new_files = live
    if not new_files:
        return kept
    params = old.select("n_bits", "n_hashes").limit(1).collect()
    # an empty old manifest sizes the filters from the new files
    num_bits, num_hashes = (params[0].n_bits, params[0].n_hashes) if params else (None, None)
    fresh = _file_blooms(read_resolved(spark, new_files), key_col, 0.01, num_bits, num_hashes)
    return kept.unionByName(fresh)


def optimize_dataset(
    spark: SparkSession,
    dataset_dir: str,
    target_partitions: int,
    cluster_by: Sequence[str] | None = None,
    partition_by: Sequence[str] | None = None,
    manifest_dir: str | None = None,
    manifest_columns: Sequence[str] | None = None,
    bloom_cols: Sequence[str] | None = None,
    bloom_fpp: float = 0.01,
) -> dict:
    """The OPTIMIZE maintenance op for plain parquet, one call: compact
    small files and re-cluster (``sinks.compact_parquet`` — range-sort for
    one ``cluster_by`` column, Z-order for several, readers stay on the old
    generation until the atomic swap), then REBUILD the skipping indexes the
    rewrite just invalidated — the zone-map manifest (every file is new, so
    a full footer sweep IS the increment) and optional per-column Bloom
    manifests — persisting them under ``manifest_dir`` (``zonemap/`` and
    ``bloom=<col>/`` datasets) for every later ``scan_pruned`` /
    ``scan_bloom_pruned`` / ``aggregate_files(manifest=)`` call. This is the
    moment skipping indexes should be refreshed: clustering is what makes
    zone-map bounds tight, and stale manifests after a rewrite would keep
    phantom files. Returns {'rows', 'files', 'manifest_rows'}."""
    import os

    from parqueryd_spark.sources.sinks import compact_parquet

    n_rows = compact_parquet(
        spark,
        dataset_dir,
        target_partitions,
        list(partition_by) if partition_by else None,
        list(cluster_by) if cluster_by else None,
    )
    out = {"rows": int(n_rows), "files": len(HadoopFS(spark, dataset_dir).list_files(dataset_dir))}
    if manifest_dir is not None:
        mf = build_manifest(
            spark, dataset_dir, list(manifest_columns) if manifest_columns else None
        )
        zdir = os.path.join(manifest_dir, "zonemap")
        mf.write.mode("overwrite").parquet(zdir)
        out["manifest_rows"] = read_resolved(spark, [zdir]).count()
        for c in bloom_cols or []:
            bloom_manifest(spark, dataset_dir, c, fpp=bloom_fpp).write.mode(
                "overwrite"
            ).parquet(os.path.join(manifest_dir, f"bloom={c}"))
    return out
