"""The two lifetimes of reused data (``queries.served_artifact``): published
standing state is built once per process under one removable root, and a
frame reused inside a call leaves nothing in the CacheManager once the
call's action has run — so no timed trial is served from an earlier one."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import uuid

import pytest

from tests.conftest import REPO_DIR, SF_SMOKE


def _writer(built: list[str]):
    def build(path: str) -> None:
        built.append(path)
        with open(os.path.join(path, "part"), "w") as f:
            f.write("x")

    return build


def test_served_artifact_builds_once_and_rebuilds_a_gone_dir():
    from parqueryd_spark.queries import served_artifact

    key = uuid.uuid4().hex
    built: list[str] = []
    first = served_artifact("unit", key, _writer(built))
    assert served_artifact("unit", key, _writer(built)) == first
    assert built == [first]
    assert os.path.basename(first).startswith("parqueryd_spark_unit_")

    shutil.rmtree(first)
    again = served_artifact("unit", key, _writer(built))
    assert built == [first, again] and again != first
    assert os.path.isfile(os.path.join(again, "part"))


def test_served_artifact_failed_build_leaves_no_dir_and_no_entry():
    from parqueryd_spark import queries as Q

    key = uuid.uuid4().hex
    tried: list[str] = []

    def broken(path: str) -> None:
        tried.append(path)
        with open(os.path.join(path, "partial"), "w") as f:
            f.write("x")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        Q.served_artifact("unit", key, broken)
    assert not os.path.exists(tried[0])
    assert ("unit", key) not in Q._SERVED

    built: list[str] = []
    path = Q.served_artifact("unit", key, _writer(built))
    assert built == [path] and path != tried[0]


def test_served_artifacts_share_one_root_removed_at_exit():
    from parqueryd_spark.queries import served_artifact

    paths = [
        served_artifact(kind, uuid.uuid4().hex, _writer([])) for kind in ("unit", "other")
    ]
    roots = {os.path.dirname(p) for p in paths}
    assert len(roots) == 1
    assert os.path.basename(roots.pop()).startswith("parqueryd_spark_served_")

    code = (
        "from parqueryd_spark.queries import served_artifact\n"
        "print(served_artifact('unit', 1, lambda p: None))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO_DIR, capture_output=True, text=True, check=True
    )
    child = out.stdout.strip().splitlines()[-1]
    assert child.startswith("/") and not os.path.exists(os.path.dirname(child))


def test_registry_rows_leave_nothing_in_the_cache_manager(spark):
    """The rows that reuse an intermediate inside the call (shingle arrays,
    KN levels) take it through ``localCheckpoint``: after each row's action
    the CacheManager holds nothing the row created."""
    from parqueryd_spark.queries import REGISTRY

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for name in ("dedup_ngram_jaccard", "dedup_ngram_capped", "text_kn3_lm_score"):
        REGISTRY[name].fn(spark, SF_SMOKE).write.mode("overwrite").format("noop").save()
        assert cache_manager.isEmpty(), f"{name} left a CacheManager entry behind"
