"""Published ``batch=<id>`` state through its one helper set
(``sources/sinks.write_batch`` / ``read_batches`` / ``compact_batches`` /
``read_meta``) and reads of published data through ``read_resolved``: the
layout each helper produces, the answers it keeps, and the Spark jobs a read
submits (none for planning — the schema comes from a driver-side footer
read)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import jobs_submitted


def test_first_file_is_first_of_full_listing(spark, tmp_path):
    """``HadoopFS.first_file`` (the footer-schema file) equals the head of
    the full sorted ``list_files`` listing on every dataset layout the
    package reads: a flat file, a Spark dir with ``_SUCCESS``, a hive dir,
    nested ``postings/batch=<id>/bucket=<b>`` state, ids whose names and
    paths sort differently (``s`` vs ``s-1``), and a
    ``batch=`` dir with a ``_meta`` sibling."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parqueryd_spark.sources.fs import HadoopFS
    from parqueryd_spark.sources.sinks import write_batch

    flat = str(tmp_path / "flat.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), flat)
    rows = spark.range(12).select("id", (F.col("id") % 3).alias("p"))
    spark_dir = str(tmp_path / "spark_dir")
    rows.coalesce(2).write.parquet(spark_dir)
    hive_dir = str(tmp_path / "hive_dir")
    rows.write.partitionBy("p").parquet(hive_dir)
    postings = str(tmp_path / "index" / "postings")
    for b in (2, -1, 10):
        write_batch(rows.withColumnRenamed("p", "bucket"), postings, b, partition_by=["bucket"])
    string_ids = str(tmp_path / "string_ids")
    for b in ("s", "s-1"):
        write_batch(rows, string_ids, b)
    state = str(tmp_path / "state")
    for b in (1, 0):
        write_batch(rows, state, b)
    spark.createDataFrame([(0.5, 2)], "k double, n int").write.parquet(os.path.join(state, "_meta"))
    assert os.path.exists(os.path.join(spark_dir, "_SUCCESS"))

    for path in (flat, spark_dir, hive_dir, postings, string_ids, state):
        fs = HadoopFS(spark, path)
        assert fs.first_file(path) == fs.list_files(path, suffix=None)[0], path
    assert "/batch=-1/bucket=0/" in HadoopFS(spark, postings).first_file(postings)
    assert "/batch=s-1/" in HadoopFS(spark, string_ids).first_file(string_ids)
    empty = tmp_path / "empty" / "batch=0"
    empty.mkdir(parents=True)
    (empty / "_SUCCESS").touch()
    assert HadoopFS(spark, str(empty.parent)).first_file(str(empty.parent)) is None


def test_list_files_skips_hidden_entries_and_recurses(spark, tmp_path):
    """``HadoopFS.list_files`` (filtered JVM-side) skips ``_SUCCESS``,
    ``.crc``, ``_metadata`` and a ``_meta`` sidecar dir at every level, and
    still recurses into ``key=value`` dirs; ``first_file`` is its head."""
    from parqueryd_spark.sources.fs import HadoopFS

    root = tmp_path / "ds"
    visible = ["part-2.parquet", "k=1/part-0.parquet", "k=2/part-1.parquet"]
    hidden = [
        "_SUCCESS",
        ".part-2.parquet.crc",
        "_metadata",
        "_meta/part-9.parquet",
        "k=1/_SUCCESS",
        "k=2/.part-1.parquet.crc",
        "k=2/_hidden.parquet",
    ]
    for rel in visible + hidden + ["notes.txt"]:
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).touch()

    fs = HadoopFS(spark, str(root))
    want = sorted(fs.qualify(str(root / rel)) for rel in visible)
    assert fs.list_files(str(root)) == want
    everything = fs.list_files(str(root), suffix=None)
    assert everything == sorted(want + [fs.qualify(str(root / "notes.txt"))])
    assert fs.first_file(str(root)) == everything[0]


def test_batch_state_lifecycle_and_read_jobs(spark, tmp_path):
    """write_batch → write_meta → read_batches → compact_batches →
    read_meta: replayed ids overwrite themselves (int and hive-escaped
    string ids alike), the merge-on-read view drops ``batch`` and plans with
    no Spark job (Spark's own inference read submits one), compaction keeps
    the folded answer and the ``_meta`` sidecar, and ``read_meta`` is None
    only for a state without one."""
    from parqueryd_spark.sources.sinks import (
        batch_ids,
        compact_batches,
        read_batches,
        read_meta,
        write_batch,
        write_meta,
    )

    state = str(tmp_path / "state")
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        read_batches(spark, state)

    def rows(key, n):
        return spark.createDataFrame([(key, n)], "key string, n long")

    write_batch(rows("a", 1), state, 0)
    write_batch(rows("b", 2), state, 1)
    write_batch(rows("c", 99), state, "late a:b")
    write_batch(rows("c", 3), state, "late a:b")  # replay: overwrites itself
    assert sorted(batch_ids(spark, state)) == ["0", "1", "late a%3Ab"]
    write_meta(spark.createDataFrame([(0.5, 2)], "k double, n int"), state)
    assert os.path.isdir(os.path.join(state, "_meta"))

    parts, jobs = jobs_submitted(spark, "read-batches", lambda: read_batches(spark, state))
    assert jobs == []
    assert parts.columns == ["key", "n"]
    assert sorted(map(tuple, parts.collect())) == [("a", 1), ("b", 2), ("c", 3)]
    _, inference_jobs = jobs_submitted(
        spark, "spark-read-batches", lambda: spark.read.parquet(state).drop("batch")
    )
    assert len(inference_jobs) == 1

    def total(df):
        return df.agg(F.sum("n").alias("n"))

    assert compact_batches(spark, state, total) == 1
    assert batch_ids(spark, state) == ["-1"]
    assert [tuple(r) for r in read_batches(spark, state).collect()] == [(6,)]
    assert tuple(read_meta(spark, state)) == (0.5, 2)
    write_batch(spark.createDataFrame([(4,)], "n long"), state, 2)  # lands beside -1
    assert read_batches(spark, state).agg(F.sum("n")).head()[0] == 10

    assert read_meta(spark, str(tmp_path / "no_such_state")) is None
    corrupt = tmp_path / "corrupt_state"
    (corrupt / "_meta").mkdir(parents=True)
    (corrupt / "_meta" / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        read_meta(spark, str(corrupt))


def test_missing_state_reads_raise_no_deprecation_warning(spark, tmp_path):
    """A missing ``_meta`` sidecar (``read_meta``) and a missing LM store
    (the gram-width check of ``streaming/lm.py``) are recognised from the
    error's condition without the deprecated ``getErrorClass``, which
    pyspark 4 reports with a ``FutureWarning``."""
    import warnings

    from parqueryd_spark.sources.sinks import read_meta
    from parqueryd_spark.streaming.lm import _validate_order

    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        assert read_meta(spark, str(tmp_path / "no_such_state")) is None
        assert _validate_order(spark, str(tmp_path / "no_such_lm"), 2) is None


def test_meta_sidecar_is_read_through_its_part_files(spark, tmp_path, monkeypatch):
    """``read_meta`` and the meta read of ``compact_batches`` hand Spark the
    sidecar's part files, not the ``_meta`` directory (Spark ignores a
    ``_``-prefixed path it is given and logs ``All paths were ignored``);
    the row still round-trips through a compaction."""
    from parqueryd_spark.sources import sinks

    state = str(tmp_path / "state")
    sinks.write_batch(spark.createDataFrame([(1,)], "n long"), state, 0)
    sinks.write_meta(spark.createDataFrame([(0.5, 2)], "k double, n int"), state)
    seen = []
    read = sinks.read_resolved

    def spy(spark_, paths, **kw):
        seen.extend(paths)
        return read(spark_, paths, **kw)

    monkeypatch.setattr(sinks, "read_resolved", spy)
    assert tuple(sinks.read_meta(spark, state)) == (0.5, 2)
    assert sinks.compact_batches(spark, state, lambda df: df) == 1
    assert tuple(sinks.read_meta(spark, state)) == (0.5, 2)
    meta_reads = [p for p in seen if "/_meta" in p]
    assert meta_reads, seen
    assert all("/_meta/part-" in p and p.endswith(".parquet") for p in meta_reads), meta_reads


def test_lm_load_and_read_current_plan_without_inference_jobs(spark, tmp_path):
    """Loading a published LM runs only its 1-row meta collect (the parent
    read path ran 3 jobs: two inferences and the collect), and opening the
    current versioned generation runs none (1 inference job before)."""
    from parqueryd_spark.operators.lm import lm_append, lm_load, lm_publish
    from parqueryd_spark.sources.sinks import publish_versioned, read_current

    docs = spark.createDataFrame([(0, "a b a c"), (1, "b c a b")], "doc_id int, text string")
    lm_dir = str(tmp_path / "lm")
    lm_publish(spark, lm_dir, docs, n=2)
    lm_append(spark, lm_dir, docs.where("doc_id = 1"), batch="inc1")
    lm, jobs = jobs_submitted(spark, "lm-load", lambda: lm_load(spark, lm_dir))
    assert len(jobs) == 1
    assert lm.n == 2

    versioned = str(tmp_path / "versioned")
    publish_versioned(docs, versioned)
    cur, jobs = jobs_submitted(spark, "read-current", lambda: read_current(spark, versioned))
    assert jobs == []
    assert cur.count() == 2
