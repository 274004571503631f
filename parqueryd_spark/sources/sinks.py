"""Sinks — the reference's result-egress surface, Spark-first, and the one
owner of published state.

The reference ships results as Arrow IPC bytes to the client (worker.py:400-403,
O10) and creates data with ``parquery.write.df_to_parquet`` (O11, README.md:25-28).
Spark equivalents: ``to_pandas_result`` (Arrow-backed collect at the client
edge, with the empty-result protocol) and ``write_parquet`` (distributed writer).

Datasets are published whole through ``atomic_publish`` (the moveparquet
barrier, worker.py:689-779). Maintained state — sketches, rollups, LM/NB
counts, dedup and ANN indexes, stream outputs — is a directory of
``batch=<id>`` partitions, and this module is the only code that knows that
format:

- ``write_batch`` lands one idempotent ``batch=<id>`` partition (a replayed
  batch overwrites itself, so at-least-once delivery stays exactly-once);
- ``read_batches`` is the merge-on-read view: every batch's rows, without
  the ``batch`` column;
- ``publish_batch`` atomically replaces the whole state with one batch (an
  index publish), and ``compact_batches`` folds all batches into one
  ``batch=-1`` generation that way, carrying the ``_meta`` sidecar along;
- ``write_meta`` / ``read_meta`` write and read a state's ``_meta``
  sidecar (``read_meta`` is None only when it is missing).

Every read of published data goes through ``sources/parquet.read_resolved``,
which takes the schema from a driver-side footer read instead of a Spark job.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from parqueryd_spark.sources.fs import HadoopFS
from parqueryd_spark.sources.parquet import read_resolved


def to_pandas_result(df: DataFrame | None, none_on_empty: bool = False) -> pd.DataFrame | None:
    """Client-edge materialization (Arrow-backed toPandas).

    ``none_on_empty=True`` reproduces the reference's empty-result protocol —
    a 0-row result arrives as ``None`` at the client (rpc.py:151-153) — for
    drop-in parity; default is the saner empty-DataFrame superset.
    """
    if df is None:
        return None
    pdf = df.toPandas()
    if none_on_empty and len(pdf) == 0:
        return None
    return pdf


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Distributed parquet writer (df_to_parquet analog). ``partition_by``
    produces hive-style directory partitioning — the 100 TB replacement for the
    reference's manual shard files; ``max_records_per_file`` bounds file sizes
    for downstream scan parallelism."""
    writer = df.write.mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def atomic_publish(
    df: DataFrame,
    dataset_dir: str,
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    sidecars: list[tuple[DataFrame, str]] | None = None,
) -> None:
    """All-or-nothing dataset publication — the Spark analog of the
    reference's moveparquet barrier (worker.py:689-779): files become visible
    only after ALL of them are completely written, never a partial mix.

    The full dataset is written to a hidden incoming directory next to the
    target (the write can read FROM the current target — the source stays
    intact until the write finishes), then swapped in via directory renames
    and the old generation deleted. All filesystem ops go through Hadoop
    ``FileSystem`` resolved from the path's scheme, so ``file:``/``hdfs:``
    URIs (and bare paths on the default FS) work the same way — the
    reference's moveparquet exists to serve object-store-sourced data
    (worker.py:544-594), so a local-only publish path would miss its point.
    On HDFS/POSIX each rename is atomic; the window between the two renames
    is the same one the reference's file-by-file swap has (worker.py:694-727).
    On true object stores rename is copy+delete — promote this pattern to a
    manifest/table-format commit (Delta/Iceberg) where the swap is a single
    metadata operation.

    ``sidecars`` publishes auxiliary datasets INSIDE the same generation:
    each (df, relative_path) is written under the incoming directory before
    the swap, so the main data and its sidecars become visible together —
    never a new generation serving an old (or missing) sidecar. Use
    underscore-prefixed relative paths (``_meta``) so parquet listing hides
    them from merge-on-read readers; this is how the streaming LM/NB
    compactions carry their (k, n)/(n_buckets, salt) meta through the swap.
    """
    fs = HadoopFS(df.sparkSession, dataset_dir)
    target = fs.qualify(dataset_dir)
    parent, base = fs.parent(target), fs.name(target)
    fs.mkdirs(parent)
    token = uuid.uuid4().hex[:12]
    incoming = f"{parent}/.incoming_{token}_{base}"
    old = f"{parent}/.old_{token}_{base}"
    try:
        write_parquet(
            df, incoming, partition_by=partition_by, max_records_per_file=max_records_per_file
        )
        for side_df, rel in sidecars or []:
            if rel.startswith("/") or ".." in rel.split("/"):
                raise ValueError(f"sidecar path must be relative and inside the dataset: {rel!r}")
            write_parquet(side_df, f"{incoming}/{rel}")
    except Exception:
        # a failed write must not orphan a half-written generation next to
        # the target (repeated failures would accumulate full dataset copies)
        fs.delete(incoming)
        raise
    try:
        if fs.exists(target):
            fs.rename_or_raise(target, old)
        fs.rename_or_raise(incoming, target)
    except OSError:
        # roll back: never leave the serving path missing
        if not fs.exists(target) and fs.exists(old):
            fs.rename(old, target)
        fs.delete(incoming)
        raise
    fs.delete(old)


def atomic_publish_many(datasets: list[tuple[DataFrame, str]]) -> None:
    """Ticket-level barrier publication: N datasets become visible together
    or not at all — the reference's moveparquet contract, where files move
    into the serving dir only after EVERY node reports DONE for EVERY file of
    the ticket (worker.py:741-773 barrier scan before any swap).

    Phase 1 writes every dataset's new generation to a hidden incoming dir;
    any failure here deletes all incomings and leaves every serving path
    untouched. Phase 2 swaps them in via renames; a failure mid-sequence
    rolls already-swapped datasets back to their previous generation, so
    readers never observe a mix of old and new across the set. Old
    generations are deleted only after every swap has succeeded. Filesystem
    ops resolve per-path through Hadoop ``FileSystem``, so the N datasets may
    even live on different schemes. (The mid-swap window is the same one the
    reference's file-by-file move loop has; on object stores promote this to
    a multi-table metadata commit.)
    """
    plans = []
    for df, dataset_dir in datasets:
        fs = HadoopFS(df.sparkSession, dataset_dir)
        target = fs.qualify(dataset_dir)
        parent, base = fs.parent(target), fs.name(target)
        fs.mkdirs(parent)
        token = uuid.uuid4().hex[:12]
        incoming = f"{parent}/.incoming_{token}_{base}"
        old = f"{parent}/.old_{token}_{base}"
        plans.append((df, fs, target, incoming, old))
    # Phase 1: write everything before anything becomes visible.
    try:
        for df, _fs, _target, incoming, _old in plans:
            write_parquet(df, incoming)
    except Exception:
        for _df, fs, _target, incoming, _old in plans:
            fs.delete(incoming)
        raise
    # Phase 2: swap in sequence, rolling back on failure.
    swapped: list[tuple[HadoopFS, str, str, str]] = []
    try:
        for _df, fs, target, incoming, old in plans:
            if fs.exists(target):
                fs.rename_or_raise(target, old)
            fs.rename_or_raise(incoming, target)
            swapped.append((fs, target, incoming, old))
    except OSError:
        for fs, target, incoming, old in reversed(swapped):
            # undo: new generation back to incoming, previous back to serving
            if fs.exists(target):
                fs.rename(target, incoming)
            if fs.exists(old):
                fs.rename(old, target)
        # the dataset whose own swap failed may have parked its previous
        # generation under old without completing the incoming rename
        for _df, fs, target, incoming, old in plans:
            if not fs.exists(target) and fs.exists(old):
                fs.rename(old, target)
            fs.delete(incoming)
        raise
    for _df, fs, _target, _incoming, old in plans:
        fs.delete(old)


def upsert_parquet(
    spark: SparkSession,
    dataset_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    delete_col: str | None = None,
) -> None:
    """MERGE INTO for a plain-parquet dataset: rows in ``updates`` replace
    base rows with the same key, new keys are inserted, and (when
    ``delete_col`` names a boolean column in ``updates``) flagged keys are
    removed — the CDC-apply operation a mutable 100 TB table needs without a
    table format.

    Plan shape: ``base LEFT ANTI JOIN updates ON keys`` then union the
    surviving inserts. The anti-join is the scale story — CDC batches are
    tiny relative to the base, so AQE broadcasts the update keys and the base
    is NEVER shuffled; a window-over-key merge would shuffle the full base
    every run. The result is swapped in through :func:`atomic_publish`
    (readers stay on the old generation until the new one is complete; the
    write may read FROM the current generation).

    For a hive-partitioned base where updates touch few partitions, use
    :func:`upsert_partitioned` — this full-table variant rewrites everything,
    and rejects a hive-partitioned target outright (rewriting it flat would
    silently break partition-pruned readers).
    """
    fs = HadoopFS(spark, dataset_dir)
    qualified = fs.qualify(dataset_dir)
    part_dirs = [
        d for d in fs.listdir(qualified) if "=" in d and fs.is_dir(f"{qualified}/{d}")
    ]
    if part_dirs:
        raise ValueError(
            f"{dataset_dir} is hive-partitioned (e.g. {part_dirs[0]}); use "
            "upsert_partitioned to preserve the layout and rewrite only the "
            "touched partitions"
        )
    base = read_resolved(spark, [dataset_dir])
    inserts = updates
    if delete_col is not None:
        inserts = inserts.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
            delete_col
        )
    merged = base.join(updates.select(*key_cols), key_cols, "left_anti").unionByName(
        inserts.select(*base.columns)
    )
    atomic_publish(merged, dataset_dir)


def upsert_partitioned(
    spark: SparkSession,
    dataset_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
    delete_col: str | None = None,
) -> list:
    """Partition-pruned MERGE for a hive-partitioned base: only the
    partitions present in ``updates`` are read, merged, and rewritten —
    untouched partitions are never scanned. This is the upsert shape that
    holds at 100 TB: cost scales with the changed slice (typically one day's
    partition), not the table.

    Mechanics: collect the distinct ``partition_col`` values from the updates
    (metadata-scale — the number of touched partitions, not rows), filter the
    base scan to them (partition pruning skips every other directory), apply
    the same anti-join + insert merge as :func:`upsert_parquet`, and write
    with dynamic partition overwrite so ONLY the touched directories are
    replaced. Returns the list of rewritten partition values.

    Caveat: dynamic overwrite commits per-partition, not atomically across
    partitions (the same window the reference's file-by-file moveparquet swap
    has, worker.py:694-727); a multi-partition batch that must be all-or-
    nothing should go through a table format's metadata commit instead.
    """
    touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
    base = read_resolved(spark, [dataset_dir])
    slice_df = base.filter(F.col(partition_col).isin(touched))
    inserts = updates
    if delete_col is not None:
        inserts = inserts.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
            delete_col
        )
    merged = slice_df.join(
        updates.select(*key_cols), key_cols, "left_anti"
    ).unionByName(inserts.select(*base.columns))
    # dynamic overwrite only replaces partitions PRESENT in the output — a
    # touched partition whose rows were all deleted would silently keep its
    # stale files. Persist the merge once, learn which touched partitions
    # still have rows, and drop the emptied ones explicitly after the write.
    merged = merged.persist()
    try:
        present = {r[0] for r in merged.select(partition_col).distinct().collect()}
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(dataset_dir)
        )
    finally:
        merged.unpersist()
    fs = HadoopFS(spark, dataset_dir)
    qualified = fs.qualify(dataset_dir)
    for v in touched:
        if v not in present:
            fs.delete(f"{qualified}/{_partition_dir(spark, partition_col, v)}")
    return touched


def _partition_dir(spark: SparkSession, col: str, value) -> str:
    """Hive-encoded partition directory name for a value — the writer escapes
    special characters (spaces, ':', '%', ...) and spells null as
    __HIVE_DEFAULT_PARTITION__, so a raw f-string would miss those dirs and
    leave stale files serving deleted rows. Uses Spark's own escaper via the
    JVM gateway, falling back to the raw value if that private surface moves
    (correct for the plain alphanumeric values partitions usually hold)."""
    if value is None:
        return f"{col}=__HIVE_DEFAULT_PARTITION__"
    try:
        esc = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(
            str(value)
        )
        return f"{col}={esc}"
    except Exception:
        return f"{col}={value}"


def write_batch(
    df: DataFrame, state_dir: str, batch, partition_by: list[str] | None = None
) -> None:
    """Land ``df`` as the ``batch=<batch>`` partition of the state at
    ``state_dir``, replacing only that partition: a replayed batch rewrites
    itself, so at-least-once delivery yields exactly-once state. The id is
    hive-escaped as Spark's partition writer would. ``partition_by`` names
    sub-partition columns below the batch directory (``bucket``,
    ``centroid_id``)."""
    target = f"{state_dir.rstrip('/')}/{_partition_dir(df.sparkSession, 'batch', batch)}"
    write_parquet(df, target, partition_by=partition_by)


def batch_ids(spark: SparkSession, state_dir: str) -> list[str]:
    """The (hive-escaped) ids of the ``batch=<id>`` partitions under
    ``state_dir``; empty when it does not exist. One directory listing."""
    fs = HadoopFS(spark, state_dir)
    if not fs.is_dir(state_dir):
        return []
    return [d.split("=", 1)[1] for d in fs.listdir(state_dir) if d.startswith("batch=")]


def read_batches(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merge-on-read view of the state at ``state_dir``: the rows of every
    published ``batch=<id>`` partition, without the ``batch`` column. A
    missing or empty state directory raises Spark's ``PATH_NOT_FOUND`` or
    ``UNABLE_TO_INFER_SCHEMA``."""
    return read_resolved(spark, [state_dir]).drop("batch")


_META = "_meta"


def _meta_path(state_dir: str) -> str:
    return f"{state_dir.rstrip('/')}/{_META}"


def _read_meta_files(spark: SparkSession, state_dir: str) -> DataFrame:
    """The ``_meta`` sidecar of ``state_dir``, read through its part files:
    Spark ignores a ``_``-prefixed path it is handed as hidden (and logs
    ``All paths were ignored``). A missing sidecar raises Spark's
    ``PATH_NOT_FOUND``."""
    path = _meta_path(state_dir)
    return read_resolved(spark, HadoopFS(spark, path).list_files(path) or [path])


def publish_batch(
    df: DataFrame,
    state_dir: str,
    batch,
    partition_by: list[str] | None = None,
    meta: DataFrame | None = None,
) -> None:
    """Replace the whole state at ``state_dir`` with ``df`` as its only
    ``batch=<batch>`` partition, through :func:`atomic_publish` (readers see
    the old batches or the new one, never a mix). Index publishes start
    their batches over this way; later increments land beside it with
    :func:`write_batch`. ``meta`` (one row of model parameters) becomes the
    state's ``_meta`` sidecar inside the same generation, so the codes and
    the parameters they were encoded at become visible together."""
    atomic_publish(
        df.withColumn("batch", F.lit(batch)),
        state_dir,
        partition_by=["batch", *(partition_by or [])],
        sidecars=None if meta is None else [(meta, _META)],
    )


def compact_batches(
    spark: SparkSession,
    state_dir: str,
    fold: Callable[[DataFrame], DataFrame],
    partition_by: list[str] | None = None,
) -> int:
    """Fold every batch of the state at ``state_dir`` into one ``batch=-1``
    generation and swap it in with :func:`publish_batch`. ``fold`` maps
    :func:`read_batches` to the compacted rows and must be the merge readers
    perform anyway, so answers do not change. The hive ``batch`` layout (and
    any ``partition_by`` sub-partitioning) is kept, so later batches land
    beside ``batch=-1``; a ``_meta`` sidecar is republished inside the same
    generation. Run between availableNow drains. Returns the compacted row
    count."""
    path = _meta_path(state_dir)
    meta = _read_meta_files(spark, state_dir) if HadoopFS(spark, path).exists(path) else None
    publish_batch(fold(read_batches(spark, state_dir)), state_dir, -1, partition_by, meta)
    return read_resolved(spark, [state_dir]).count()


def write_meta(df: DataFrame, state_dir: str) -> None:
    """Write ``df`` (one row of model parameters that travel with the state)
    as the ``_meta`` sidecar of the state at ``state_dir``, replacing any
    earlier one. :func:`compact_batches` carries it through the swap."""
    df.write.mode("overwrite").parquet(_meta_path(state_dir))


def read_meta(spark: SparkSession, state_dir: str) -> Row | None:
    """The one-row ``_meta`` sidecar of the state at ``state_dir``, or None
    when it does not exist — the pre-meta layout. Any other failure (a
    corrupt or unreadable file) raises: silently defaulting could serve a
    model at the wrong parameters."""
    try:
        return _read_meta_files(spark, state_dir).collect()[0]
    except AnalysisException as e:
        cls = e.getCondition() or ""
        if "PATH_NOT_FOUND" in cls or "Path does not exist" in str(e):
            return None
        raise


def _start_available_now(
    stream: DataFrame, process: Callable[[DataFrame, int], None], checkpoint_dir: str
):
    """Start ``stream`` as an availableNow ``foreachBatch(process)`` query
    checkpointed at ``checkpoint_dir``; ``process`` typically ends in
    :func:`write_batch`. Returns the started StreamingQuery (callers
    ``awaitTermination()``)."""
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_parquet(
    spark: SparkSession,
    dataset_dir: str,
    target_partitions: int,
    partition_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a dataset into ``target_partitions``
    files and atomically swap it into place. Returns the row count.

    The maintenance op every long-lived 100 TB dataset needs — streaming
    sinks and per-shard writers accumulate small files until scan task count
    explodes and the driver drowns in file listings. Reading and rewriting
    through :func:`atomic_publish` keeps readers on the old generation until
    the new one is complete. Uses repartition (not coalesce): compaction's
    whole point is rebalancing, and coalesce would chain the write's
    parallelism to the skewed input layout.

    A hive-partitioned dataset MUST be compacted with the same
    ``partition_by`` it was written with — rewriting without it would fold
    the partition columns back into plain files and silently break
    partition-pruned readers, so that case is rejected.

    ``cluster_by`` re-clusters while compacting — the natural moment, since
    the data is being rewritten anyway: one column gets a range-partition +
    sort (selective row-group min-max stats on that column); two or more go
    through Z-order (``sources/layout.zorder_layout``) so min-max skipping
    prunes on every listed column.
    """
    if partition_by is None:
        fs = HadoopFS(spark, dataset_dir)
        qualified = fs.qualify(dataset_dir)
        part_dirs = [
            d for d in fs.listdir(qualified) if "=" in d and fs.is_dir(f"{qualified}/{d}")
        ]
        if part_dirs:
            raise ValueError(
                f"{dataset_dir} is hive-partitioned (e.g. {part_dirs[0]}); pass partition_by "
                "to preserve the layout — compacting without it would flatten the partitioning"
            )
    df = read_resolved(spark, [dataset_dir])
    if cluster_by and len(cluster_by) >= 2:
        from parqueryd_spark.sources.layout import zorder_layout

        df = zorder_layout(df, cluster_by, target_partitions=target_partitions)
    elif cluster_by:
        from parqueryd_spark.sources.layout import optimize_layout

        df = optimize_layout(df, cluster_by, target_partitions=target_partitions)
    else:
        df = df.repartition(target_partitions)
    atomic_publish(df, dataset_dir, partition_by=partition_by)
    return read_resolved(spark, [dataset_dir]).count()


def publish_versioned(
    df: DataFrame,
    dataset_dir: str,
    keep_generations: int = 3,
    partition_by: list[str] | None = None,
) -> int:
    """Versioned publication with retained history — time-travel-lite on
    plain parquet. Each publish writes a fresh ``gen=<n>`` directory, then
    flips the current pointer by adding a higher-sequence marker file (see
    ``_write_pointer``: append-then-prune, so no reader ever observes a
    pointerless instant), and prunes generations beyond ``keep_generations``
    — never the one being pointed at. Returns the new generation number.

    Readers via :func:`read_current` always see one complete generation;
    :func:`read_generation` time-travels; :func:`rollback_generation` flips
    the pointer back without rewriting data (instant undo of a bad publish —
    the capability the in-place swap can't offer once the old generation is
    deleted). All filesystem ops go through Hadoop ``FileSystem``, so any
    supported scheme works; on object stores the pointer rename is the only
    non-atomic step and is a single small file.
    """
    fs = HadoopFS(df.sparkSession, dataset_dir)
    root = fs.qualify(dataset_dir)
    fs.mkdirs(root)
    gens = _generations(fs, root)
    new_gen = (max(gens) + 1) if gens else 0
    write_parquet(df, f"{root}/gen={new_gen}", partition_by=partition_by)
    _write_pointer(fs, root, new_gen)
    for g in sorted(gens + [new_gen])[:-keep_generations]:
        if g != new_gen:
            fs.delete(f"{root}/gen={g}")
    return new_gen


def _generations(fs: HadoopFS, root: str) -> list[int]:
    if not fs.is_dir(root):
        return []
    out = []
    for d in fs.listdir(root):
        if d.startswith("gen="):
            try:
                out.append(int(d[4:]))
            except ValueError:
                pass
    return out


def _pointer_entries(fs: HadoopFS, root: str) -> list[tuple[int, int, str]]:
    """Parsed ``_ptr.<seq>.<gen>`` marker files as (seq, gen, name)."""
    out = []
    if not fs.is_dir(root):
        return out
    for d in fs.listdir(root):
        if d.startswith("_ptr."):
            try:
                _, seq, gen = d.split(".")
                out.append((int(seq), int(gen), d))
            except ValueError:
                pass
    return out


def _write_pointer(fs: HadoopFS, root: str, gen: int) -> None:
    # append-only pointer: a NEW marker file ``_ptr.<seq>.<gen>`` appears via
    # rename to a unique name (atomic; never replaces anything), readers take
    # the highest seq, and older markers are pruned only AFTER the new one
    # exists — so there is no instant with zero pointers, unlike a
    # delete-then-rename of a single _CURRENT file (Hadoop rename refuses to
    # overwrite, so single-file flips can't be atomic). The generation rides
    # in the NAME: readers never open the file, so partial content can't lie.
    entries = _pointer_entries(fs, root)
    seq = (max(e[0] for e in entries) + 1) if entries else 0
    tmp = f"{root}/._ptrtmp_{uuid.uuid4().hex[:8]}"
    fs.touch(tmp)
    fs.rename_or_raise(tmp, f"{root}/_ptr.{seq:010d}.{gen}")
    for _seq, _gen, name in entries:
        fs.delete(f"{root}/{name}")


def current_generation(spark: SparkSession, dataset_dir: str) -> int:
    """The generation the highest-sequence pointer marker names."""
    fs = HadoopFS(spark, dataset_dir)
    root = fs.qualify(dataset_dir)
    entries = _pointer_entries(fs, root)
    if not entries:
        raise FileNotFoundError(f"no publication pointer under {dataset_dir}")
    return max(entries)[1]


def read_current(spark: SparkSession, dataset_dir: str) -> DataFrame:
    """The currently-published generation."""
    return read_generation(spark, dataset_dir, current_generation(spark, dataset_dir))


def read_generation(spark: SparkSession, dataset_dir: str, gen: int) -> DataFrame:
    """Time travel: read a retained historical generation."""
    return read_resolved(spark, [f"{dataset_dir}/gen={gen}"])


def rollback_generation(spark: SparkSession, dataset_dir: str, gen: int) -> None:
    """Flip ``_CURRENT`` back to a retained generation — metadata-only undo."""
    fs = HadoopFS(spark, dataset_dir)
    root = fs.qualify(dataset_dir)
    if gen not in _generations(fs, root):
        raise ValueError(f"generation {gen} is not retained under {dataset_dir}")
    _write_pointer(fs, root, gen)


def list_generations(spark: SparkSession, dataset_dir: str) -> list[tuple[int, bool]]:
    """Retained generations as (gen, is_current), ascending — the audit view
    of the publish history (metadata-only: one directory listing)."""
    fs = HadoopFS(spark, dataset_dir)
    root = fs.qualify(dataset_dir)
    gens = sorted(_generations(fs, root))
    entries = _pointer_entries(fs, root)
    cur = max(entries)[1] if entries else None
    return [(g, g == cur) for g in gens]


def vacuum_generations(spark: SparkSession, dataset_dir: str, keep_last: int = 1) -> list[int]:
    """On-demand retention: delete all but the newest ``keep_last`` retained
    generations — ALWAYS protecting the currently-pointed-at one, so a
    vacuum after a rollback can never delete the generation readers are on
    (the pointer target wins over recency). Returns the deleted generation
    numbers. The publish-time prune (``publish_versioned(keep_generations=)``)
    bounds steady-state growth; this is the explicit reclaim for storage
    pressure or post-incident cleanup.
    """
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    fs = HadoopFS(spark, dataset_dir)
    root = fs.qualify(dataset_dir)
    gens = sorted(_generations(fs, root))
    entries = _pointer_entries(fs, root)
    cur = max(entries)[1] if entries else None
    keep = set(gens[-keep_last:])
    if cur is not None:
        keep.add(cur)
    deleted = []
    for g in gens:
        if g not in keep:
            fs.delete(f"{root}/gen={g}")
            deleted.append(g)
    return deleted


def generation_diff(
    spark: SparkSession,
    dataset_dir: str,
    gen_a: int,
    gen_b: int,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """What changed between two retained generations: (status, keys...) rows
    with status in added/removed/changed (operators/quality.py:table_diff —
    scan-reduced digests, one full-outer key join, diff-sized output). The
    audit that answers "what did that publish actually do" without replaying
    the pipeline."""
    from parqueryd_spark.operators.quality import table_diff

    return table_diff(
        read_generation(spark, dataset_dir, gen_a),
        read_generation(spark, dataset_dir, gen_b),
        keys,
        compare_cols,
    )
