"""Benchmark entry point.

    python3 perfbench/run.py --workload groupby_mix --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Builds every input from ``--seed`` under
``.perfbench_work/`` (git-ignored), sets the program up, measures for
``--seconds``, checks every output, and prints as its last stdout line one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the run
records spans and counts around each layer and the metrics are per-layer.
A human-readable table and a JSON artifact (``.perfbench_work/artifacts/``)
carry everything else, including the calibration probe.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

WORKLOADS = ("groupby_mix", "ingest_serve", "curate_batch")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import parqueryd_spark  # noqa: F401  the program under test, from this checkout
    except ImportError as e:
        print(f"perfbench: cannot import the program under test from {ROOT}: {e}", file=sys.stderr)
        return 2

    import harness
    import metrics as metrics_mod
    import spans as tracing

    trace = bool(args.trace)
    env = harness.Env(ROOT, args.workload, args.seed, trace)
    rec = tracing.Recorder(trace)
    workload = __import__(args.workload)
    try:
        res = workload.run(env, args.seed, args.seconds, rec, trace)
    finally:
        shutil.rmtree(env.work, ignore_errors=True)

    failures = [rid for rid, ok in res["verdicts"] if not ok]
    attempted, failed = len(res["verdicts"]), len(failures)
    rows = [(k, v, u, n) for k, (v, u, n) in res["e2e"].items()]
    rows.append(("fail_ratio", failed / attempted if attempted else 0.0, "ratio", attempted))
    print(harness.table(f"{args.workload} seed={args.seed} trace={args.trace} end-to-end", rows))
    if failures:
        print(f"failed operations: {failures}")
    hyg = res["hygiene"]
    steal = hyg["steal_share"]
    print(
        f"calibration probe (min of 5, s): before {min(hyg['before']):.4f}  after {min(hyg['after']):.4f}; "
        f"CPU steal during the window: {'n/a' if steal is None else f'{steal:.1%}'}"
    )

    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": harness.NCORES,
        "end_to_end": {name: value for name, value, _u, _n in rows},
        "samples": {name: n for name, _v, _u, n in rows},
        "setups_s": res["setups"],
        "hygiene": hyg,
        "attempted": attempted,
        "failed": failed,
        "failed_ops": failures,
        "ops": res["ops"],
        "op_log": res["op_log"],
    }
    headline = next(k for k in workload.END_TO_END if k != "setup_s")
    if trace:
        # set-up layers from the set-up, every other layer from the window
        roll = tracing.rollup(rec, keep=lambda rid: not str(rid).startswith(("setup", "warm")))
        roll.update(
            (k, v)
            for k, v in tracing.rollup(rec).items()
            if k in ("session.get_spark", "sources.manifest.build_manifest")
        )
        extra = dict(res.get("extra_layers", {}))
        value, _unit, n = res["e2e"][headline]
        extra[f"trace.{headline}"] = (value, n)
        lm = metrics_mod.layer_metrics(roll, extra, workload.PER_LAYER)
        print(
            harness.table(
                "per-layer (median per call unless a count or ratio)",
                [(k, lm.get(k, (0.0, 0))[0], u, lm.get(k, (0.0, 0))[1]) for k, u in workload.PER_LAYER.items()],
            )
        )
        print("self time by span (median s, n):")
        for name, r in sorted(roll.items()):
            if "self_median_s" in r:
                print(f"  {name:<44} total {r['median_s']:.4f}  self {r['self_median_s']:.4f}  n={r['n']}")
        cost = tracing.span_cost_s()
        line = f"tracing overhead: recorder {cost * 1e6:.2f} us/span x {len(rec.spans)} spans"
        untraced = os.path.join(env.artifacts, f"{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"][headline]
            line += f"; traced {headline} {value:.4g} vs untraced {base:.4g} ({value / base - 1:+.1%})"
        else:
            line += f"; run --trace 0 with the same seed first to compare {headline}"
        print(line)
        artifact["per_layer"] = {k: {"value": v, "n": n} for k, (v, n) in lm.items()}
        rec.dump(os.path.join(env.artifacts, f"{args.workload}-s{args.seed}-spans.json"))
        metrics = {k: (lm.get(k, (0.0, 0))[0], u) for k, u in workload.PER_LAYER.items()}
    else:
        metrics = {k: (res["e2e"][k][0], u) for k, u in workload.END_TO_END.items()}
    with open(os.path.join(env.artifacts, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    harness.emit(failed == 0, attempted, failed, metrics)
    return 0


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"perfbench: wall {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
