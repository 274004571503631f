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
bounds — comes from ONE collect in ``_plan``: the manifest rows for the
terms' columns, the coverage row and the statistics column, selected with
``F.col("column").isin(...)`` (no user value ever becomes SQL text). The
keep and full rules then run on the driver over those few rows per file
(``_keep``, ``_full``), in Spark's comparison order (NaN above every
number; strings by code point). Over a cached manifest that collect is one
Spark job, and it is the only one a ``manifest=`` call of the parity API
runs before its query; ``build_manifest`` and ``refresh_manifest`` return
at most the session's default parallelism partitions (``_bounded``), so it
stays a handful of tasks — the same O(files) planning-time listing Spark's
own FileIndex does. ``prune_paths`` without where-terms keeps every path,
lists nothing and runs no job at all.

Hive-partitioned layouts compose: ``build_manifest`` records
directory-derived ``key=value`` partition values as constant-per-file stats
rows (so partition terms prune through the same verdict machinery as data
stats), and pruned subset reads pass ``basePath`` so the partition columns
survive — a query filtering on a partition key AND a clustered data column
skips via both layers at once.
"""

from __future__ import annotations

import datetime as _dt
import operator
from collections.abc import Collection, Iterable, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    FloatType,
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
    return _bounded(_sweep_footers(spark, path, HadoopFS(spark, path).list_files(path), columns))


def _bounded(mf: DataFrame) -> DataFrame:
    """``mf`` in at most the session's default parallelism partitions, by a
    coalesce (no shuffle): the planner's collect over the cached manifest
    runs one task per partition, so neither a build over many files nor a
    chain of refreshes may grow the count."""
    return mf.coalesce(mf.sparkSession.sparkContext.defaultParallelism)


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
                        # a NaN bound (parquet-mr writes NaN maxima) bounds
                        # nothing usable: NaN sorts above every number
                        if st is None or not st.has_min_max or st.min != st.min or st.max != st.max:
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
        return _bounded(spark.createDataFrame([], MANIFEST_SCHEMA))
    kept, new_files = live
    if new_files:
        kept = kept.unionByName(_sweep_footers(spark, path, new_files, columns))
    return _bounded(kept)


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


def _key(x):
    """Comparison key in Spark's order: NaN above every number and equal to
    itself (Python's ``<`` would make ``v < NaN`` false). Strings compare by
    code point, which is Spark's UTF-8 byte order."""
    return (True, 0.0) if isinstance(x, float) and x != x else (False, x)


def _bounds(r: Row, value):
    """``(lo, hi, v)`` keys comparing ``value`` against the stats row's
    bounds of its encoding family — numeric (numbers, dates, datetimes) or
    lexical (strings) — or None when the value is neither or the row lacks
    a bound of that family (a numeric term on a string column). Each caller
    takes None as its conservative answer: keep, and never full."""
    v_num = _coerce_num(value)
    if v_num is not None:
        lo, hi, v = r.min_num, r.max_num, v_num
    elif isinstance(value, str):
        lo, hi, v = r.min_str, r.max_str, value
    else:
        return None
    if lo is None or hi is None:
        return None
    return _key(lo), _key(hi), _key(v)


def _window(r: Row, value) -> bool:
    """Could the row's [min, max] contain ``value``?"""
    b = _bounds(r, value)
    return b is None or b[0] <= b[2] <= b[1]


def _point(r: Row, value) -> bool:
    """Is the row's column constant at exactly ``value``?"""
    b = _bounds(r, value)
    return b is not None and b[0] == b[2] == b[1]


_CMP = {">": operator.gt, ">=": operator.ge, "<": operator.lt, "<=": operator.le}


def _keep(r: Row, op: str, value) -> bool:
    """Could the (file, column) stats row hold a row matching the normalized
    term? An all-null chunk satisfies no op (``x != v`` is NULL for NULL
    x) but ``not in []``, which every row satisfies; a chunk without
    bounds, and anything uncertain, is kept."""
    if op == "not in" and not value:
        return True
    if r.null_count is not None and r.null_count == r.n_rows:
        return False
    if not r.has_min_max:
        return True
    if op == "in":
        return any(_window(r, v) for v in value)
    if op == "not in":
        return not any(_point(r, v) for v in value)
    if op == "==":
        return _window(r, value)
    if op == "!=":
        # NULLs never satisfy != either, so null_count is irrelevant here
        return not _point(r, value)
    b = _bounds(r, value)
    if b is None:
        return True
    lo, hi, v = b
    # x > v is possible iff max > v; x < v is possible iff min < v
    return _CMP[op](hi if op[0] == ">" else lo, v)


def _full(r: Row, op: str, value, is_float: bool) -> bool:
    """Does EVERY row of the (file, column) stats row provably match the
    normalized term? Conservative toward False (uncertain files get
    scanned, never stat-counted). NULL rows match no term, so the null
    count must be a proven zero. Float bounds leave NaN rows out (pyarrow
    writes no NaN into its statistics), and in Spark's order NaN rows
    satisfy exactly ``>``, ``>=`` and ``!=`` with a non-NaN value, so only
    those prove a FLOAT/DOUBLE column full."""
    if op in ("in", "not in") or not r.has_min_max or r.null_count != 0:
        return False
    if is_float and (op not in (">", ">=", "!=") or value != value):
        return False
    b = _bounds(r, value)
    if b is None:
        return False
    lo, hi, v = b
    if op == "==":
        return lo == v == hi
    if op == "!=":
        return hi < v or lo > v
    # every x > v iff min > v; every x < v iff max < v
    return _CMP[op](lo if op[0] == ">" else hi, v)


class _Verdict(NamedTuple):
    """One file's planning facts. A live file the manifest has no stats for
    keeps these defaults: kept, never proven full, no row count or bounds —
    it is scanned."""

    file: str
    keep: bool = True
    full: bool = False
    n_rows: int | None = None
    bounds: tuple[float, float] | None = None  # stats_col's numeric [min, max]


def _plan(
    mf: DataFrame,
    terms: list,
    files: Sequence[str] | None = None,
    stats_col: str | None = None,
    floats: Collection[str] = (),
) -> list[_Verdict]:
    """The zone-map planner: one verdict per file for normalized ``terms``
    (AND-combined), from ONE collect of the manifest rows for the terms'
    columns, the coverage row (``column = ""``) and ``stats_col``, evaluated
    on the driver. With ``files`` (a live listing) those are the set, in
    order, and the manifest only supplies stats (a live file without stats
    is kept, a row for a vanished file is ignored); without it the
    manifest's own files are the set.

    Per file: ``keep`` (could it hold a matching row?), ``full`` (does
    every row provably match? ``floats`` names the FLOAT/DOUBLE columns,
    see ``_full``), ``n_rows``, and with ``stats_col`` that column's
    numeric ``bounds``. Repeated (file, column) rows are ANDed; a term whose
    column has no row for the file keeps it and never proves it full."""
    wanted = {c for c, _op, _v in terms} | {"", stats_col or ""}
    stats: dict[str, dict[str, list[Row]]] = {}
    for r in mf.where(F.col("column").isin(*wanted)).collect():
        stats.setdefault(_norm_path(r.file), {}).setdefault(r.column, []).append(r)

    def verdict(file: str, by_col: dict[str, list[Row]]) -> _Verdict:
        keep = all(_keep(r, op, v) for c, op, v in terms for r in by_col.get(c, ()))
        full = all(
            c in by_col and all(_full(r, op, v, c in floats) for r in by_col[c])
            for c, op, v in terms
        )
        bounds = None
        col_rows = by_col.get(stats_col, [])
        if col_rows and all(
            r.has_min_max and r.min_num is not None and r.max_num is not None for r in col_rows
        ):
            bounds = (min(r.min_num for r in col_rows), max(r.max_num for r in col_rows))
        n_rows = max(r.n_rows for rows in by_col.values() for r in rows)
        return _Verdict(file, keep, full, n_rows, bounds)

    if files is None:
        files = [next(iter(by_col.values()))[0].file for by_col in stats.values()]
    return [
        _Verdict(f) if (by_col := stats.get(_norm_path(f))) is None else verdict(f, by_col)
        for f in files
    ]


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
    terms = normalize_where_terms(where_terms)
    live = HadoopFS(spark, path).list_files(path)
    plan = _plan(mf, terms, live, floats=_float_cols(spark, path, terms))
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

    Soundness: this shortcut applies ONLY to integer columns (exact by the
    parquet spec), only when the file fully satisfies every term (so every
    non-null row — including the extremes — is in the result set), and the
    footer min/max of a fully-matching file ARE its contribution to the
    aggregate (MIN/MAX ignore NULLs, which the stats exclude by
    construction). Every other column scans: string min/max may be
    TRUNCATED toward wider bounds, float bounds leave NaN out (Spark's MAX
    of a column holding NaN is NaN), and the date/timestamp encoding (epoch
    seconds) is planning-grade, not value-grade. Returns ``(None, None)``
    when no rows match.

    ``dtype`` (a Spark type string, e.g. ``"double"``) skips the schema
    lookup — pass it when the answer must come from the manifest ALONE (the
    count_pruned posture: a fully-provable predicate then reads no data
    file, it only lists them)."""
    if dtype is None:
        dtype = dict(read_resolved(spark, [path]).dtypes).get(col)
    metadata_ok = dtype in ("tinyint", "smallint", "int", "bigint")
    mf = manifest if manifest is not None else build_manifest(spark, path)
    terms = normalize_where_terms(where_terms)
    live = HadoopFS(spark, path).list_files(path)
    floats = _float_cols(spark, path, terms)
    plan = [v for v in _plan(mf, terms, live, stats_col=col, floats=floats) if v.keep]
    proven = [v.bounds for v in plan if metadata_ok and v.full and v.bounds]
    boundary = [v.file for v in plan if not (metadata_ok and v.full and v.bounds)]
    if boundary:
        scan = _read_kept(spark, path, boundary, where_terms)
        row = scan.agg(F.min(col), F.max(col)).collect()[0]
        if row[0] is not None:
            proven.append((row[0], row[1]))
    if not proven:
        return (None, None)
    lo, hi = min(b[0] for b in proven), max(b[1] for b in proven)
    # stats bounds are doubles; a column without the shortcut keeps the
    # scan's native values
    return (int(lo), int(hi)) if metadata_ok else (lo, hi)


def _float_cols(spark: SparkSession, path: str, terms: list) -> set[str]:
    """The FLOAT/DOUBLE columns of the dataset at ``path`` (see ``_full``),
    from its schema — a driver footer read, no Spark job — and only when a
    term's full proof depends on it: with every term ``>``, ``>=`` or
    ``!=`` a non-NaN value (or a set op, never full), a provable count or
    min/max reads no data file at all."""
    if all(op in ("in", "not in") or (op in (">", ">=", "!=") and v == v) for _c, op, v in terms):
        return set()
    fields = read_resolved(spark, [path]).schema.fields
    return {f.name for f in fields if isinstance(f.dataType, (FloatType, DoubleType))}


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
    verdicts = prune_files_bloom(bloom_mf, values, value_type=value_type).collect()
    keep = {_norm_path(r.file): r.keep for r in verdicts}
    return [f for f in files if keep.get(_norm_path(f), True)]


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
