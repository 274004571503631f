"""CSV / JSON ingest sources.

The reference's documented data-onboarding workflow is pandas.read_csv ->
df_to_parquet -> shard files (reference: README.md:25-43); here ingestion is a
distributed read + parquet write. Schema inference is opt-in: at 100 TB an
inference pass is a full extra scan, so production callers pass an explicit
schema (samplingRatio bounds the cost when they don't).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    timestamp_cols: list[str] | None = None,
    **options,
) -> DataFrame:
    """CSV reader; ``timestamp_cols`` mirrors the reference's parse_dates
    convention (tests/test_simple_rpc.py:23-25)."""
    opts = {"header": header, "inferSchema": schema is None, **options}
    df = spark.read.options(**opts).csv(path, schema=schema)
    for c in timestamp_cols or []:
        from pyspark.sql import functions as F

        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    multiline: bool = False,
    **options,
) -> DataFrame:
    """JSON-lines reader (multiline=True for whole-file JSON documents)."""
    return spark.read.options(**{"multiLine": multiline, **options}).json(path, schema=schema)


def ingest_to_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    target_file_rows: int | None = None,
) -> None:
    """The CSV->parquet onboarding step (df_to_parquet analog), distributed.
    Replaces the reference's manual shard loop (README.md:30-43): Spark writes
    one file per task; ``target_file_rows`` caps file sizes explicitly."""
    from parqueryd_spark.sources.sinks import write_parquet

    write_parquet(df, path, partition_by=partition_by, max_records_per_file=target_file_rows)


def read_orc(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    **options,
) -> DataFrame:
    """ORC reader — the other columnar interchange format a migrating
    warehouse is likely to hold. Same vectorized scan + pushdown machinery as
    parquet (Spark's built-in orc source); pair with ``ingest_to_parquet``
    to convert a legacy ORC lake into this engine's parquet layout."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.orc(path)
