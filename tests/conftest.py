from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@contextmanager
def session_conf(spark, conf: dict):
    """``conf`` set on the test session for the block, restored after it.
    With ``spark.sql.files.maxPartitionBytes`` below the input's bytes, a
    parity call keeps the shuffled plan instead of reading through one task
    (``core._read``)."""
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def max_partition_bytes(spark, n: int):
    return session_conf(spark, {"spark.sql.files.maxPartitionBytes": n})


def jobs_submitted(spark, group: str, fn):
    """``(fn(), ids of the Spark jobs fn submitted)``, tracked by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from parqueryd_spark.session import get_spark

    # retainedStages high for the same reason as bench.py: the full suite
    # crosses the 1000-stage default, and test_shuffle_telemetry's byte
    # deltas must never span a status-store eviction (which silently
    # understates or negates them depending on test order)
    spark = get_spark(
        "parqueryd_spark-tests", extra_conf={"spark.ui.retainedStages": "1000000"}
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata tables registered as views at
    sf0.01 — mirrors the driver's oracle harness."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_CORRECT, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "examples: executes examples/*.py end-to-end against sf0.001"
    )


def _slow_manifest() -> set[str]:
    """Test IDs marked `slow` (see tests/slow_tests.txt for the policy)."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "slow_tests.txt")
    ids: set[str] = set()
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line and not line.startswith("#"):
                ids.add(line)
    return ids


@pytest.hookimpl(tryfirst=True)
def pytest_collection_modifyitems(config, items):
    """Apply the `slow` marker from the manifest so the default run
    (`addopts = -m "not slow"`, pytest.ini) fits the driver's verification
    window (VERDICT r15 item #1a). Matching is on the repo-root-relative
    nodeid, exactly as recorded by --durations.

    A manifest entry that names a collected file but matches none of its
    items is stale (a renamed or deleted slow test, whose new name would land
    in the default tier unannounced): collection fails. The check runs before
    -k/-m/--deselect drop items (tryfirst), skips entries whose file was not
    collected, and skips a run that selects only part of a file (a node id on
    the command line, --lf, --sw)."""
    slow_ids = _slow_manifest()
    collected = set()
    for item in items:
        nodeid = item.nodeid.replace(os.sep, "/")
        if not nodeid.startswith("tests/"):
            nodeid = "tests/" + nodeid.split("tests/")[-1]
        collected.add(nodeid)
        if nodeid in slow_ids:
            item.add_marker(pytest.mark.slow)
    partial = any("::" in str(a) for a in config.args) or any(
        config.getoption(opt, False) for opt in ("lf", "stepwise")
    )
    files = {nodeid.split("::")[0] for nodeid in collected}
    stale = sorted(i for i in slow_ids if i.split("::")[0] in files and i not in collected)
    if stale and not partial:
        raise pytest.UsageError(
            "tests/slow_tests.txt names tests that were not collected "
            "(renamed or deleted?):\n  " + "\n  ".join(stale)
        )
