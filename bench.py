"""Benchmark harness (driver contract, BASELINE.md) — the one timing path.

Usage:
    python bench.py                                     # the driver run: every bench row
    python bench.py <row> [row ...]                     # the same run over the named rows
    python bench.py scale <f,f,...> [trials] [row ...]  # one run per data factor + ratio table
    python bench.py plans <suffix> [row ...]            # formatted plans + lint findings
Env: SPARK_GRAFT_SF_DIR (dataset, default sf0.1), SPARK_GRAFT_CPUS (local cores).

Every mode times rows through ``run_once`` inside ``time_rows``: each row is
executed once to warm (JVM/codegen/file listing) and then timed over
``TRIALS`` trials; timing includes full materialization (noop sink) so lazy
plans can't cheat. ``queries`` reports the per-query MIN (steady-state,
comparable with BENCH_r1-r7). Without arguments the rows are the bench rows
in ``BENCH_ORDER``; ``scale`` builds key-shifted replicas of the dataset
(``replicate``) for each factor above 1, runs the same loop on each and
prints per-row ratios; ``plans`` writes each row's formatted plan to
``bench_artifacts/plans/<row>_<suffix>.txt`` and exits 1 on any
error-severity ``lint_plan`` finding.

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
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
from functools import reduce

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

USAGE = __doc__.split("\n\n")[1]
TRIALS = 5
# one calib re-probe after every CALIB_EVERY rows and after the last row
CALIB_EVERY = 8

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

# Replica key scheme: each key's stride is 1 + its max over every column that
# carries it, so all columns of one key shift together and a replica's
# foreign keys only ever meet its own primary keys.
REPLICA_KEYS = {
    "custkey": (("customer", "c_custkey"), ("orders", "o_custkey")),
    "orderkey": (("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
    "partkey": (("part", "p_partkey"), ("lineitem", "l_partkey")),
    "suppkey": (("supplier", "s_suppkey"), ("lineitem", "l_suppkey")),
    "event": (("events", "event_id"),),
    "user": (("events", "user_id"),),
    "doc": (("documents", "doc_id"),),
    "vec": (("embeddings", "vec_id"),),
}
SHARED_TABLES = ("nation", "region")  # fixed dims, written once


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
        "trials_per_query": max(map(len, trials.values()), default=TRIALS),
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


def ratio_table(times: dict[int, dict[str, float]], base_sf: float) -> str:
    """Markdown table of per-row min seconds at each data factor of
    ``times`` ({factor: {row: s}}, factors ascending), each larger factor's
    ratio to the first, and — for three factors f0 < f1 < f2 — the curvature
    r(f2) / r(f1)^p with p = log(f2/f0) / log(f1/f0): ~1 means the first
    ratio extrapolates (cost ~ data^log(r1)), >> 1 a super-linear term the
    smaller factor could not see. Pure, so it is pinned without Spark."""
    factors = sorted(times)
    f0, rest = factors[0], factors[1:]
    curve = len(factors) == 3
    p = math.log(factors[2] / f0) / math.log(factors[1] / f0) if curve else None
    head = [f"sf{base_sf * f:g} s" for f in factors] + [f"r{f / f0:g}×" for f in rest]
    if curve:
        head.append(f"r{factors[2] / f0:g}×/r{factors[1] / f0:g}×^{p:g}")
    rows = {name: [times[f][name] for f in factors] for name in times[f0]}
    rows["TOTAL"] = [sum(times[f].values()) for f in factors]

    def ratio(a: float, b: float) -> float:
        return a / b if b else float("nan")

    lines = ["| query | " + " | ".join(head) + " |", "|---" * (len(head) + 1) + "|"]
    for name, ts in rows.items():
        rs = [ratio(t, ts[0]) for t in ts[1:]]
        cells = [f"{t:.2f}" for t in ts] + [f"{r:.2f}x" for r in rs]
        if curve:
            cells.append(f"{ratio(rs[1], rs[0] ** p):.2f}")
        lines.append(f"| {name} | " + " | ".join(cells) + " |")
    return "\n".join(lines)


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


def run_once(spark, fn, sf_dir: str) -> float:
    """Seconds for one full materialization of ``fn(spark, sf_dir)``'s
    result rows (noop sink: no driver collect cost)."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def time_rows(spark, fns: dict, sf_dir: str, calib_fn, trials: int = TRIALS) -> dict:
    """Time every ``(spark, sf_dir) -> DataFrame`` in ``fns`` the bench's way:
    an untimed throwaway of the first row, a warm-up count and ``trials``
    calib timings, then per row a warm-up count and ``trials`` timed runs
    (shuffle bytes taken around the first), with a calib re-probe after
    every CALIB_EVERY rows and after the last. Returns the keyword arguments of
    :func:`build_outputs` except ``sf``; one progress line per row goes to
    stderr."""
    from parqueryd_spark.plans.telemetry import ShuffleDelta

    def timed(fn) -> float:
        return round(run_once(spark, fn, sf_dir), 4)

    def report(name: str, ts: list[float]) -> None:
        print(f"{name:35s} min={min(ts):7.3f} med={statistics.median(ts):7.3f} {ts}",
              file=sys.stderr, flush=True)

    # UNTIMED throwaway before position 0 (VERDICT r13 item #2): the pinned
    # BENCH_ORDER made q1 pay the whole JVM/codegen/noop-sink cold start
    # (2.04 s first vs 0.45-0.62 s warm for the identical plan). Run the
    # first row through the full timed path once and discard it.
    timed(next(iter(fns.values())))
    calib_fn(spark, sf_dir).count()  # the same untimed warm-up every row gets
    out = {"timings": {}, "medians": {}, "trials": {}, "shuffle": {},
           "calib_trials": [timed(calib_fn) for _ in range(trials)], "calib_samples": {}}
    report("calib", out["calib_trials"])
    for i, (name, fn) in enumerate(fns.items()):
        fn(spark, sf_dir).count()  # warm-up: JVM, codegen, file listing, caches
        # shuffle bytes around the FIRST timed trial (steady-state; volumes
        # are deterministic per plan so one measurement suffices)
        with ShuffleDelta(spark) as d:
            ts = [timed(fn)]
        out["shuffle"][name] = (d.read, d.write)
        ts += [timed(fn) for _ in range(trials - 1)]
        out["trials"][name] = ts
        out["timings"][name] = min(ts)
        out["medians"][name] = round(statistics.median(ts), 4)
        report(name, ts)
        # mid-run host-noise re-probes (VERDICT r15 item #1b), so a
        # degradation window confined to part of the run is visible
        if (i + 1) % CALIB_EVERY == 0 or i == len(fns) - 1:
            out["calib_samples"][name] = timed(calib_fn)
    return out


def replicate(spark, base_dir: str, factor: int) -> str:
    """``factor`` key-shifted replicas of every table under ``base_dir``,
    built once into a ``_COMPLETE``-marked directory under the system temp
    dir; returns that directory.

    Each replica is an independent sub-database, so every join keeps its
    structure at ``factor`` times the rows:

    - key columns shift by ``replica * stride`` with one stride per key
      across tables (``REPLICA_KEYS``); events shift event_id and user_id
      (more users at the same per-user density); nation/region are shared.
    - documents: every token gets a per-replica ``r<i>`` prefix, so
      documents stay globally distinct (dedup rows never see ``factor``
      exact copies) while each replica keeps the implanted near-dup
      structure; n_chars is recomputed from the rewritten text.
    - embeddings: replica i applies a deterministic Rademacher sign pattern
      (xxhash64(i, component) -> ±1). A shared sign pattern preserves every
      intra-replica cosine EXACTLY (each replica keeps the neighborhood
      structure), while cross-replica cosines concentrate around 0
      (~1/sqrt(dim) noise) — replicas are effectively independent corpora.
      (Earlier attempts: a tiny +i*1e-3 nudge left replicas at cosine ~1,
      injecting C(factor,2)*n artificial near-dup pairs; a circular shift
      left these structured synthetic vectors autocorrelated.)

    Query vectors stay the fixed serving set (vec_id < 5 / first 8), so the
    ANN rows measure a constant query load against a larger corpus."""
    import tempfile

    from pyspark.sql import functions as F

    from parqueryd_spark.sources.parquet import load_table

    base = os.path.abspath(base_dir)
    out = os.path.join(tempfile.gettempdir(), f"parqueryd_spark_{os.path.basename(base)}_x{factor}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    tables = {t for pairs in REPLICA_KEYS.values() for t, _ in pairs}
    src = {t: load_table(spark, base, t) for t in (*sorted(tables), *SHARED_TABLES)}
    strides = {
        key: 1 + max(src[t].agg(F.max(c)).first()[0] for t, c in pairs)
        for key, pairs in REPLICA_KEYS.items()
    }

    def replica(name: str, i: int):
        cols = {c: F.col(c) for c in src[name].columns}
        for key, pairs in REPLICA_KEYS.items():
            for t, c in pairs:
                if t == name:
                    cols[c] = F.col(c) + F.lit(i * strides[key])
        if name == "documents":
            text = F.array_join(
                F.transform(F.split("text", " "), lambda tok: F.concat(F.lit(f"r{i}"), tok)), " "
            )
            cols["text"], cols["n_chars"] = text, F.length(text).cast("long")
        if name == "embeddings":
            sign = lambda j: F.when(F.pmod(F.xxhash64(F.lit(i), j), F.lit(2)) == 0, 1.0).otherwise(-1.0)
            cols["embedding"] = F.transform(
                "embedding", lambda x, j: x * sign(j)
            ).cast("array<float>")
        return src[name].select(*[e.alias(c) for c, e in cols.items()])

    for name, df in src.items():
        if name not in SHARED_TABLES:
            df = reduce(lambda a, b: a.unionByName(b), (replica(name, i) for i in range(factor)))
        df.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))
    with open(marker, "w") as fh:
        fh.write("ok")
    return out


def write_plans(spark, fns: dict, sf_dir: str, suffix: str) -> int:
    """Write each row's formatted physical plan to
    ``bench_artifacts/plans/<row>_<suffix>.txt`` and print its
    ``lint_plan`` findings; returns the number of error-severity findings
    (a row whose plan cannot be built counts as one)."""
    from parqueryd_spark.plans.audit import explain_str, lint_plan

    out_dir = os.path.join(REPO_DIR, "bench_artifacts", "plans")
    os.makedirs(out_dir, exist_ok=True)
    n_err = 0
    for name, fn in fns.items():
        try:
            df = fn(spark, sf_dir)
            plan, finds = explain_str(df, "formatted"), lint_plan(df)
        except Exception as e:  # a row that cannot even plan is itself a finding
            plan = f"PLAN CAPTURE FAILED: {e!r}\n"
            finds = [{"rule": "plan-failure", "severity": "error", "detail": str(e)[:120]}]
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        n_err += sum(f["severity"] == "error" for f in finds)
        for f in finds or [{"severity": "clean", "rule": "", "detail": ""}]:
            print(f"{name:36s} {f['severity'].upper():5s} {f['rule']} {f['detail']}".rstrip())
    print(f"{len(fns)} plans in {out_dir}; {n_err} lint error(s)")
    return n_err


def usage(problem: str) -> None:
    print(f"{problem}\n\n{USAGE}", file=sys.stderr)
    raise SystemExit(1)


def parse_args(argv: list[str]) -> tuple[str, list[str], list[int], int, str | None]:
    """``(mode, rows, factors, trials, suffix)`` of a command line. Exits 1
    with the usage text on a malformed line or an unknown row name — before
    any Spark session starts."""
    from parqueryd_spark import queries as Q

    mode = argv[0] if argv and argv[0] in ("scale", "plans") else "rows"
    args = argv[1:] if mode != "rows" else list(argv)
    factors, trials, suffix = [1], TRIALS, None
    if mode != "rows" and not args:
        usage(f"{mode}: missing {'factor list' if mode == 'scale' else 'suffix'}")
    if mode == "scale":
        try:
            factors = sorted({int(f) for f in args.pop(0).split(",")})
        except ValueError:
            usage("scale: factors must be a comma-separated list of integers")
        if args and args[0].isdigit():
            trials = int(args.pop(0))
        if min(factors[0], trials) < 1:
            usage("scale: factors and trials must be >= 1")
    if mode == "plans":
        suffix = args.pop(0)
    unknown = [r for r in args if r not in Q.REGISTRY]
    if unknown:
        usage(f"unknown row(s): {' '.join(unknown)}")
    return mode, args or list(Q.bench_queries()), factors, trials, suffix


def main(argv: list[str] | None = None) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    argv = sys.argv[1:] if argv is None else argv
    mode, rows, factors, trials, suffix = parse_args(argv)

    from parqueryd_spark import queries as Q
    from parqueryd_spark.session import get_spark

    # retain enough stage history that per-query shuffle deltas never span an
    # eviction (default 1000 stages undercounts — a full bench run crosses it
    # and deltas go negative when old stages age out mid-measurement)
    spark = get_spark(
        "parqueryd_spark-bench", extra_conf={"spark.ui.retainedStages": "100000"}
    )
    fns = {name: Q.REGISTRY[name].fn for name in rows}
    try:
        if mode == "plans":
            return 1 if write_plans(spark, fns, sf_dir, suffix) else 0
        calib_fn = make_calib(spark)
        if mode == "scale":
            times = {}
            for f in factors:
                t0 = time.perf_counter()
                data = sf_dir if f == 1 else replicate(spark, sf_dir, f)
                print(f"x{f} data ready in {time.perf_counter() - t0:.1f}s: {data}",
                      file=sys.stderr, flush=True)
                res = time_rows(spark, fns, data, calib_fn, trials)
                times[f] = res["timings"]
                print(json.dumps({"sf": round(sf * f, 6), "queries": res["timings"],
                                  "calib": min(res["calib_trials"]),
                                  "calib_samples": res["calib_samples"]}), flush=True)
            print(ratio_table(times, sf))
            return 0
        diagnostics, final = build_outputs(sf=sf, **time_rows(spark, fns, sf_dir, calib_fn))
        if not argv:
            # Sidecar of the driver run goes to an UNTRACKED dir (VERDICT r13
            # item #8): writing it into a committed path meant the driver's
            # own close bench dirtied the tree.
            artifacts = os.path.join(REPO_DIR, "bench_artifacts")
            os.makedirs(artifacts, exist_ok=True)
            with open(os.path.join(artifacts, "BENCH_TRIALS.json"), "w") as f:
                json.dump(diagnostics, f, indent=1)
        print(json.dumps(diagnostics))
        print(json.dumps(final))  # the driver line — must stay LAST and compact
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
