"""Time a subset of registry rows (bench rows or any other) with bench.py's
exact methodology (warm-up count, then N noop-sink trials, min+median
reported, with the bench's calib query timed before and after the rows) —
for A/B probes during optimization without paying for the full 39-row run.

Usage: python tools/time_rows.py <row> [row ...]   (env: SPARK_GRAFT_SF_DIR)
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

TRIALS = 5


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        sys.exit(1)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import make_calib
    from parqueryd_spark import queries as Q
    from parqueryd_spark.session import get_spark

    spark = get_spark("time-rows")
    rows = Q.queries()

    def run_once(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    def report(name: str, ts: list[float]) -> None:
        print(
            f"{name:35s} min={min(ts):7.3f} med={statistics.median(ts):7.3f} {ts}",
            flush=True,
        )

    calib_fn = make_calib(spark)
    # untimed cold-start throwaway (same as bench.py)
    run_once(rows[names[0]])
    report("calib", [round(run_once(calib_fn), 4) for _ in range(TRIALS)])
    for name in names:
        fn = rows[name]
        fn(spark, sf_dir).count()  # warm-up
        report(name, [round(run_once(fn), 4) for _ in range(TRIALS)])
    report("calib", [round(run_once(calib_fn), 4) for _ in range(TRIALS)])
    spark.stop()


if __name__ == "__main__":
    main()
