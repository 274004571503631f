"""Shared machinery: the Spark session, per-call job accounting, the
calibration probe, closed-loop clients, percentiles and the result line."""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

NCORES = len(os.sched_getaffinity(0))
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    import sys

    print(f"perfbench [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


class Env:
    """Paths of one run. Everything the run writes lives under ``work``,
    inside the checkout and ignored by git."""

    def __init__(self, root: str, workload: str, seed: int, trace: bool):
        base = os.path.join(root, ".perfbench_work")
        self.work = os.path.join(base, f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.inputs = os.path.join(self.work, "inputs")
        self.data = os.path.join(self.work, "data")
        self.artifacts = os.path.join(base, "artifacts")
        for d in (self.tmp, self.inputs, self.data, self.artifacts):
            os.makedirs(d, exist_ok=True)
        # keep the JVM, Python workers and Spark's scratch inside the checkout
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "spark-local")
        os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(self.tmp, "warehouse")
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
        # no hsperfdata files in /tmp from the launcher JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        import tempfile

        tempfile.tempdir = self.tmp

    def spark_conf(self) -> dict[str, str]:
        return {
            # job and stage counts are read per call from the status store;
            # these keep every job of a run retained so no count spans an eviction
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }


def start_spark(env: Env, rec):
    from parqueryd_spark.session import get_spark

    t0 = time.perf_counter()
    with rec.span("session.get_spark"):
        spark = get_spark("perfbench", cores=NCORES, extra_conf=env.spark_conf())
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM (and
    the Python workers it forked) to exit."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@contextmanager
def job_group(spark, gid: str):
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def job_stats(spark, gid: str) -> dict[str, int]:
    """Jobs, executed stages, completed and failed tasks of one job group,
    once the status store has seen every finished job's events."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(gid)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = failed = 0
    for s in stage_ids:
        si = tracker.getStageInfo(s)
        if si is not None and si.numCompletedTasks + si.numFailedTasks > 0:
            stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def calibration(spark, trials: int = 5) -> list[float]:
    """The fixed host-noise probe of ``bench.py``: a cached 1k-row frame
    aggregated into a noop sink. It depends on no input, so a shift in it is
    the host, not the program."""
    from pyspark.sql import functions as F

    base = spark.range(1000).select(F.col("id"), (F.col("id") * 7 % 97).alias("v")).cache()
    base.count()
    out = []
    for _ in range(trials):
        t0 = time.perf_counter()
        base.groupBy((F.col("id") % 10).alias("b")).agg(F.sum("v").alias("s"), F.count("*").alias("n")).write.mode(
            "overwrite"
        ).format("noop").save()
        out.append(time.perf_counter() - t0)
    base.unpersist()
    return out


def cpu_ticks() -> dict[str, int]:
    """Whole-machine CPU ticks from /proc/stat (busy, idle, steal); steal is
    time the hypervisor gave this machine's CPUs to someone else."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return {}
    return {"busy": v[0] + v[1] + v[2] + v[5] + v[6], "idle": v[3] + v[4], "steal": v[7] if len(v) > 7 else 0}


def steal_share(t0: dict, t1: dict) -> float | None:
    """Share of CPU time stolen between two :func:`cpu_ticks` readings."""
    if not t0 or not t1:
        return None
    d = {k: t1[k] - t0[k] for k in t0}
    total = sum(d.values())
    return d["steal"] / total if total else None


def windowed(spark, seconds: float, clients) -> dict:
    """The timed window: ``clients(deadline)`` returns the closed-loop client
    bodies, run in their own threads until each has stopped. Around it, two
    calibration probes and the CPU steal share during the window make the
    run-hygiene record, with the window's start time."""
    before = calibration(spark)
    t0 = cpu_ticks()
    start = time.perf_counter()
    run_threads(clients(start + seconds))
    steal = steal_share(t0, cpu_ticks())
    return {"before": before, "after": calibration(spark), "steal_share": steal, "start": start}


def run_threads(targets) -> None:
    """Run each target in its own Spark-aware thread; re-raise the first
    error after all have ended."""
    from pyspark import InheritableThread

    errors: list[BaseException] = []

    def guard(fn):
        def body():
            try:
                fn()
            except BaseException as e:  # surfaced below, never swallowed
                errors.append(e)

        return body

    threads = [InheritableThread(target=guard(t)) for t in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def pctl(xs: list[float], p: float) -> float:
    """The ``p``-quantile (0<p<1) by linear interpolation."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for d, _dirs, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
            files += 1
    return total, files


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )


def table(title: str, rows: list[tuple[str, float, str, int | str]]) -> str:
    lines = [title, f"  {'metric':<52} {'value':>14} {'unit':<8} n"]
    for name, value, unit, n in rows:
        lines.append(f"  {name:<52} {value:>14.6g} {unit:<8} {n}")
    return "\n".join(lines)

