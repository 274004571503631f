"""Data layout: hive-partitioned writes, range-sorted and Z-ordered files.

At 100 TB, layout IS performance: partition pruning turns full scans into
single-partition reads, and range-sorted files give parquet row-group min/max
stats real selectivity. Atomic publication lives in
``parqueryd_spark.sources.sinks.atomic_publish`` (the moveparquet-barrier
analog).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: dict[str, Column | str],
    mode: str = "overwrite",
) -> None:
    """Write hive-partitioned parquet, deriving partition columns on the fly
    (e.g. ``{"event_date": F.to_date("ts")}``). Queries filtering on the
    partition column scan only matching directories (PartitionFilters in the
    plan — asserted in tests/test_layout.py)."""
    out = df
    names = []
    for name, expr in partition_cols.items():
        out = out.withColumn(name, F.col(expr) if isinstance(expr, str) else expr)
        names.append(name)
    out.write.mode(mode).partitionBy(*names).parquet(path)


def optimize_layout(
    df: DataFrame, sort_cols: list[str], target_partitions: int | None = None
) -> DataFrame:
    """Range-partition + sort-within-partitions on the hot filter columns so
    parquet row-group min/max statistics become selective (poor-man's
    clustering; the single-dimension case of Z-ordering)."""
    parts = target_partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(parts, *sort_cols).sortWithinPartitions(*sort_cols)


def zorder_key(bucket_cols: list[Column], bits: int = 8) -> Column:
    """Morton (Z-curve) interleave of per-column bucket indices, each in
    ``[0, 2^bits)`` — pure bitwise Column arithmetic, codegen-eligible.
    Column i's bit b lands at interleaved position ``b * n_cols + i``."""
    n = len(bucket_cols)
    key = F.lit(0).cast("long")
    for i, c in enumerate(bucket_cols):
        x = c.cast("long")
        for b in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), b * n + i)
            )
    return key


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    target_partitions: int | None = None,
    bits: int = 8,
) -> DataFrame:
    """Multi-dimensional clustering: range-partition + sort by the Morton
    interleave of the hot filter columns, so parquet row-group/file min-max
    stats are selective on EVERY listed column at once —
    :func:`optimize_layout` generalized past one dimension (a lexicographic
    sort clusters only its leading column; Z-order trades a little locality
    on each column for locality on all of them).

    Per column, bucket boundaries come from ONE driver-side
    ``approxQuantile`` pass (2^bits - 1 cut points — metadata-scale, the
    Greenwald-Khanna sketch is computed distributed) and rows map to buckets
    with a broadcast binary-searchable literal array; the Z-key itself is
    pure bit arithmetic. Write the result with ``write.parquet`` (or through
    ``atomic_publish``) and filters on any clustered column prune most files.
    """
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    buckets = []
    for c in cols:
        cuts = df.approxQuantile(c, probs, 0.001)
        arr = F.array(*[F.lit(float(x)) for x in cuts])
        # bucket = count of cut points <= value  (0 .. 2^bits - 1)
        buckets.append(
            F.size(F.filter(arr, lambda cut: cut <= F.col(c).cast("double")))
        )
    out = df.withColumn("_zkey", zorder_key(buckets, bits))
    parts = target_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (
        out.repartitionByRange(parts, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )
