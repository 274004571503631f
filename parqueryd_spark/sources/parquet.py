"""Parquet source: path resolution with the reference's silent-missing semantics.

The reference controller filters the requested filename list against the files it
knows about and silently proceeds with the survivors; an all-missing query yields
an empty result, not an error (reference: parqueryd/controller.py:618-621,
RELEASE_NOTES.rst:63-65 "Ignore missing files instead of throwing an error").
Spark's ``read.parquet`` raises on missing paths, so we pre-filter for existence.

At scale the "table" is a directory of many Parquet files on shared storage;
``spark.read.parquet(*paths)`` maps each row-group/split to a task, which strictly
generalizes the reference's 1-file-=-1-worker model (controller.py:628-645).

Planning a read touches no data and runs no Spark job, as the reference
controller plans from its in-memory ``files_map`` (controller.py:618-645).
``spark.read.parquet`` infers the schema with a one-task job over one footer;
``read_resolved`` reads that same footer on the driver through the JVM code
the inference task runs and hands Spark the schema, so building the
DataFrame costs a few py4j calls instead of a job.
"""

from __future__ import annotations

import os
import re
from collections.abc import Sequence

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string

from parqueryd_spark.sources.fs import HadoopFS

# URI scheme prefix (s3a://, hdfs://, file://, abfss://, gs://, ...)
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def _exists(path: str, spark: SparkSession | None) -> bool:
    """Existence check that honors the path's storage scheme.

    Scheme-qualified URIs go through ``HadoopFS`` (the same ``FileSystem``
    resolution Spark's own reader uses), so object-store shards are
    checked for real instead of being silently dropped by an ``os.path`` test
    that can never see them — the reference's missing-file contract skips only
    files that are genuinely absent from its files_map (controller.py:618-621,
    RELEASE_NOTES.rst:63-65), and its whole download layer exists to serve
    object-store data (worker.py:544-594). Bare/local paths keep the cheap
    local check. With no active session to reach the JVM, a scheme-qualified
    path is assumed present (Spark's reader will raise if it truly isn't —
    fail loud beats silently returning an empty result for a valid dataset).
    """
    if not _SCHEME_RE.match(path):
        return os.path.exists(path)
    if spark is None:
        from pyspark.sql import SparkSession as _S

        spark = _S.getActiveSession()
        if spark is None:
            return True
    return HadoopFS(spark, path).exists(path)


def resolve_paths(
    paths: Sequence[str] | str,
    data_dir: str | None = None,
    spark: SparkSession | None = None,
) -> list[str]:
    """Resolve bare filenames against ``data_dir`` (the reference's worker
    ``data_dir`` convention, worker.py:388) and drop paths that don't exist.

    Directories (multi-file datasets) count as existing; bare names get the
    ``.parquet`` extension tried as a fallback, mirroring the reference's
    ``DATA_FILE_EXTENSION`` convention (worker.py:44). Existence of
    scheme-qualified URIs (``s3a://`` etc.) is checked through ``HadoopFS``
    — see ``_exists``.
    """
    if isinstance(paths, str):
        paths = [paths]
    out: list[str] = []
    for p in paths:
        candidates = [p]
        if data_dir is not None and not os.path.isabs(p) and not _SCHEME_RE.match(p):
            candidates = [
                data_dir.rstrip("/") + "/" + p if _SCHEME_RE.match(data_dir) else os.path.join(data_dir, p),
                p,
            ]
        resolved = None
        for c in candidates:
            if _exists(c, spark):
                resolved = c
                break
            if not c.endswith(".parquet") and _exists(c + ".parquet", spark):
                resolved = c + ".parquet"
                break
        if resolved is not None:
            out.append(resolved)
    return out


def read_parquet(
    spark: SparkSession,
    paths: Sequence[str] | str,
    data_dir: str | None = None,
    merge_schema: bool = False,
) -> DataFrame | None:
    """Read one logical table from N parquet shards, silently ignoring missing
    shards. Returns ``None`` when *no* shard exists (the reference's empty-result
    protocol, controller.py:303-305 / rpc.py:151-153); callers decide whether to
    surface ``None`` or an empty DataFrame."""
    existing = resolve_paths(paths, data_dir=data_dir, spark=spark)
    if not existing:
        return None
    return read_resolved(spark, existing, merge_schema=merge_schema)


def read_resolved(
    spark: SparkSession,
    paths: Sequence[str],
    merge_schema: bool = False,
    base_path: str | None = None,
) -> DataFrame:
    """``spark.read.parquet(*paths)`` over already-resolved shards, without
    Spark's schema-inference job: the schema comes from one footer read on
    the driver (``_footer_schema``) and is passed as ``.schema(S)``, so
    partition discovery and the scan plan are Spark's own. Spark's
    non-merging inference also reads a single footer, so the two agree.
    This is the one read path for published datasets and state.

    ``base_path`` is Spark's ``basePath`` option: a read of files below a
    hive-partitioned directory keeps that directory's partition columns.
    ``merge_schema=True`` keeps Spark's merging inference (it must read
    every footer). When no footer can be read — a missing path, no data
    file under the first path, or an unreadable one — this is a plain
    ``spark.read.parquet`` and Spark raises its own error
    (``PATH_NOT_FOUND``, ``UNABLE_TO_INFER_SCHEMA``)."""
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    if merge_schema:
        return reader.option("mergeSchema", "true").parquet(*paths)
    schema = _footer_schema(spark, paths[0])
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The data schema Spark infers for ``path``, from the footer of its
    first data file (``HadoopFS.first_file``), converted on the driver
    by the calls Spark's inference task makes:
    ``ParquetFileReader.readFooter`` without row groups, then
    ``ParquetFileFormat.readSchemaFromFooter`` with a converter built from
    the session conf (``binaryAsString``, ``int96AsTimestamp``,
    ``inferTimestampNTZ``, ``nanosAsLong``). None when there is no file or
    its footer does not convert.

    Classes are named in full through ``JavaClass``: one reflection call per
    member used, where a ``spark._jvm.org.apache...`` lookup pays one per
    package segment."""

    def jclass(name: str) -> JavaClass:
        return JavaClass(name, spark._jvm._gateway_client)

    spark_pq = "org.apache.spark.sql.execution.datasources.parquet."
    try:
        first = HadoopFS(spark, path).first_file(path)
        if first is None:
            return None
        jpath = jclass("org.apache.hadoop.fs.Path")(first)
        meta = jclass("org.apache.parquet.hadoop.ParquetFileReader").readFooter(
            spark._jsc.hadoopConfiguration(),
            jpath,
            jclass("org.apache.parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
        )
        schema = jclass(spark_pq + "ParquetFileFormat").readSchemaFromFooter(
            jclass("org.apache.parquet.hadoop.Footer")(jpath, meta),
            jclass(spark_pq + "ParquetToSparkSchemaConverter")(
                spark._jsparkSession.sessionState().conf()
            ),
        )
    except Py4JJavaError:
        return None
    return _parse_datatype_json_string(schema.json())


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md) by name.

    The events table's ``ts`` physical type has varied across testdata
    generations — TIMESTAMP(NANOS), TIMESTAMP(MICROS) without UTC adjustment
    (read as TIMESTAMP_NTZ), or plain TIMESTAMP — so normalize adaptively from
    the schema Spark actually inferred rather than assuming one encoding:

    - bigint (nanos read under ``nanosAsLong``): exact integer ``div 1000`` to
      micros (not ``/`` — a double loses precision at 1e18), matching DuckDB's
      ns->us truncation on read.
    - timestamp_ntz: cast to TIMESTAMP. With the session zone forced to UTC the
      wall-clock values are preserved and match DuckDB's naive read, while
      downstream watermarks / double-casts that require plain TIMESTAMP work.
    - timestamp: already normalized.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Legacy conf lets TIMESTAMP(NANOS) shards load at all (vectorized
        # reader rejects nanos otherwise); no effect on micros-encoded data.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        from pyspark.sql import functions as F

        df = read_resolved(spark, [path])
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if ts_type == "timestamp_ntz":
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return read_resolved(spark, [path])
