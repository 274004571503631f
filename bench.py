"""Benchmark harness (driver contract, BASELINE.md).

Runs the headline queries from the registry at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``.

Output contract (VERDICT r7 item #1): the FINAL stdout line is the compact
driver-parseable JSON ``{"metric","value","unit","queries","sf",
"value_median"}`` — nothing else may follow it, and it must stay small enough
to survive the driver's stdout tail capture (r7 regression: the 5-trial
diagnostics grew the single output line past the capture window and the driver
recorded ``parsed: null``). The per-trial diagnostics (median/spread/raw
trials) now go to an EARLIER stdout line and to the ``BENCH_TRIALS.json``
sidecar, so ambient-load swing on the shared host stays distinguishable from a
plan regression (VERDICT r6 item #2) without risking the driver channel.
``tests/test_bench_contract.py`` pins this shape.

Each query is executed once to warm (JVM/codegen/file listing) and then timed
over 5 trials; timing includes full materialization (noop sink) so lazy plans
can't cheat. ``queries`` reports the per-query MIN (steady-state, comparable
with BENCH_r1-r7).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

TRIALS = 5

# Driver-parseable final line: exactly these keys, in this order. NOTHING
# else may ride this line: round 12 put per-query shuffle_kb on it, the line
# grew past the driver's stdout tail capture, and BENCH_r12.json recorded
# ``parsed: null`` (its ``tail`` field is exactly DRIVER_TAIL_WINDOW chars
# starting mid-JSON — the measured capture window). shuffle_kb now rides the
# EARLIER diagnostics line + the untracked sidecar (VERDICT r12 item #1).
# ``calib`` (r14, VERDICT r13 item #2): min seconds over TRIALS of a fixed
# 1k-row cached-frame aggregate timed through the exact run_once path — a
# data-independent host-noise normalizer, so cross-round total swings can be
# attributed (calib moved too => environment; calib flat => plans).
# ``calib_samples_min``/``calib_samples_max``: the range of the mid-run calib
# re-probes (see ``calib_samples`` below), so a row read against host noise
# can be read against the whole run's spread from the final line alone.
FINAL_LINE_KEYS = (
    "metric", "value", "unit", "queries", "sf", "value_median", "calib",
    "calib_samples_min", "calib_samples_max",
)
# Measured: the driver keeps only the last ~2000 bytes of stdout. The final
# line must fit ENTIRELY inside that window with margin for a trailing newline.
DRIVER_TAIL_WINDOW = 2000
FINAL_LINE_MAX_BYTES = 1500


def build_outputs(
    timings: dict[str, float],
    medians: dict[str, float],
    trials: dict[str, list[float]],
    sf: float,
    shuffle: dict[str, tuple[int, int]] | None = None,
    calib_trials: list[float] | None = None,
    calib_samples: dict[str, float] | None = None,
) -> tuple[dict, dict]:
    """Split results into (diagnostics payload, compact final payload).

    Pure so tests/test_bench_contract.py can pin the contract without Spark:
    the final payload has exactly FINAL_LINE_KEYS and serializes well under
    FINAL_LINE_MAX_BYTES at the current query count. ``shuffle`` maps query
    -> (read_bytes, write_bytes) for one steady-state run; the final line
    carries the compact total KiB, the sidecar keeps the split.
    ``calib_trials`` are the host-noise calibration timings (see
    FINAL_LINE_KEYS comment); the final line carries their min, the
    diagnostics the full list. ``calib_samples`` are the mid-run re-probes;
    the final line carries their min and max. The contract gates raise
    RuntimeError, not assert, so they survive ``python -O`` (ADVICE r13)."""
    shuffle = shuffle or {}
    calib_trials = calib_trials or []
    calib_samples = calib_samples or {}
    spreads = {n: round(max(ts) - min(ts), 4) for n, ts in trials.items()}
    # cross-round comparable subtotal (VERDICT r14 item #7): the bench set
    # grows by appending at END (BENCH_ORDER rule), so the sum over the
    # frozen first-32 historical rows is the number to compare against
    # BENCH_r13-and-earlier totals without hand-summing. Diagnostics only —
    # the driver line's byte budget stays reserved for the compact keys.
    from parqueryd_spark.queries import BENCH_ORDER

    hist32 = [n for n in BENCH_ORDER[:32] if n in timings]
    diagnostics = {
        "bench_diagnostics": True,  # marker: NOT the driver line
        "trials_per_query": TRIALS,
        "value_32row": round(sum(timings[n] for n in hist32), 4),
        "queries_median": medians,
        "queries_spread": spreads,
        "queries_trials": trials,
        "calib_trials": calib_trials,
        # MID-RUN calibration re-probes (VERDICT r15 item #1b): the same
        # fixed calib query re-timed after every K bench rows, keyed by the
        # last row completed before the probe. The start-of-run calib cannot
        # see a mid-run host-degradation window (r15's 32-core tail block —
        # a contiguous 0.2-0.4x stretch in BENCH_ORDER with byte-identical
        # plans); these samples make such a window detectable from the
        # artifact itself. The final line carries only their min and max.
        "calib_samples": calib_samples,
        "shuffle_read_bytes": {n: rw[0] for n, rw in shuffle.items()},
        "shuffle_write_bytes": {n: rw[1] for n, rw in shuffle.items()},
        # per-query shuffle read+write KiB — the 100 TB axis wall time can't
        # see on local[32] (VERDICT r11 item #3). Lives HERE, never on the
        # final line (r12's parsed:null regression).
        "shuffle_kb": {n: int((rw[0] + rw[1]) // 1024) for n, rw in shuffle.items()},
    }
    final = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "value_median": round(sum(medians.values()), 4),
        "calib": round(min(calib_trials), 4) if calib_trials else None,
        "calib_samples_min": min(calib_samples.values(), default=None),
        "calib_samples_max": max(calib_samples.values(), default=None),
    }
    if tuple(final) != FINAL_LINE_KEYS:
        raise RuntimeError(f"final-line keys drifted: {tuple(final)}")
    line_bytes = len(json.dumps(final).encode())
    if line_bytes > FINAL_LINE_MAX_BYTES:
        raise RuntimeError(
            f"driver line {line_bytes}B exceeds {FINAL_LINE_MAX_BYTES}B budget"
        )
    return diagnostics, final


def make_calib(spark):
    """Fixed host-noise calibration query (VERDICT r13 item #2): a 1k-row
    cached frame aggregated through the SAME run_once noop-write path as
    every bench row. Data-independent and plan-trivial, so its timing moves
    ONLY with host load + JVM state — the normalizer that lets a
    cross-round total swing be attributed to environment vs plans. Returns
    a registry-shaped ``(spark, sf_dir) -> DataFrame`` callable."""
    from pyspark.sql import functions as F

    calib_base = (
        spark.range(1000)
        .select(F.col("id"), (F.col("id") * 7 % 97).alias("v"))
        .cache()
    )
    calib_base.count()  # materialize the cache before any timing

    def calib_fn(spark_, sf_dir_):
        return calib_base.groupBy((F.col("id") % 10).alias("b")).agg(
            F.sum("v").alias("s"), F.count("*").alias("n")
        )

    return calib_fn


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"

    from parqueryd_spark import queries as Q
    from parqueryd_spark.session import get_spark

    # retain enough stage history that per-query shuffle deltas never span an
    # eviction (default 1000 stages undercounts — a full bench run crosses it
    # and deltas go negative when old stages age out mid-measurement)
    spark = get_spark(
        "parqueryd_spark-bench", extra_conf={"spark.ui.retainedStages": "100000"}
    )

    def run_once(fn) -> float:
        t0 = time.perf_counter()
        # one full materialization of every result row, no driver collect cost
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    from parqueryd_spark.plans.telemetry import ShuffleDelta

    bench = Q.bench_queries()

    calib_fn = make_calib(spark)

    # UNTIMED throwaway before position 0 (VERDICT r13 item #2): the pinned
    # BENCH_ORDER made q1 pay the whole JVM/codegen/noop-sink cold start
    # (2.04 s first vs 0.45-0.62 s warm for the identical plan). Run the
    # first bench row through the full timed path once and discard it.
    run_once(next(iter(bench.values())))

    calib_ts = [round(run_once(calib_fn), 4) for _ in range(TRIALS)]

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    trials: dict[str, list[float]] = {}
    shuffle: dict[str, tuple[int, int]] = {}
    # mid-run host-noise re-probes (VERDICT r15 item #1b): one calib timing
    # after every CALIB_EVERY rows and after the final row, so a degradation
    # window confined to part of the run is visible in the diagnostics
    calib_samples: dict[str, float] = {}
    CALIB_EVERY = 8
    n_rows = len(bench)
    for i, (name, fn) in enumerate(bench.items()):
        fn(spark, sf_dir).count()  # warm-up: JVM, codegen, file listing, caches
        # shuffle bytes around the FIRST timed trial (steady-state; volumes
        # are deterministic per plan so one measurement suffices)
        with ShuffleDelta(spark) as d:
            first = round(run_once(fn), 4)
        shuffle[name] = (d.read, d.write)
        ts = [first] + [round(run_once(fn), 4) for _ in range(TRIALS - 1)]
        trials[name] = ts
        timings[name] = min(ts)
        medians[name] = round(statistics.median(ts), 4)
        if (i + 1) % CALIB_EVERY == 0 or i == n_rows - 1:
            calib_samples[name] = round(run_once(calib_fn), 4)

    diagnostics, final = build_outputs(
        timings, medians, trials, float(sf), shuffle, calib_ts, calib_samples
    )
    # Sidecar goes to an UNTRACKED dir (VERDICT r13 item #8): writing it into
    # a committed path meant the driver's own close bench dirtied the tree.
    artifacts = os.path.join(REPO_DIR, "bench_artifacts")
    os.makedirs(artifacts, exist_ok=True)
    with open(os.path.join(artifacts, "BENCH_TRIALS.json"), "w") as f:
        json.dump(diagnostics, f, indent=1)
    print(json.dumps(diagnostics))
    print(json.dumps(final))  # the driver line — must stay LAST and compact
    spark.stop()


if __name__ == "__main__":
    main()
