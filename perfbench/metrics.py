"""Metric names, units, and the rollup-to-metric mapping of traced runs."""

from __future__ import annotations

# Bounded end-to-end metrics of the serving workloads (groupby_mix,
# ingest_serve): each of them reports every one.
END_TO_END = {"setup_s": "s", "query_p50_ms": "ms"}

# Per-layer metric -> unit, for the serving workloads. A workload that does
# not exercise a layer reports 0, with n=0 in the table.
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.manifest.build_manifest_s": "s",
    "functions.compile.compile_us": "us",
    "sources.parquet.resolve_paths_ms": "ms",
    "sources.parquet.shards_found_ratio": "ratio",
    "sources.manifest.prune_paths_ms": "ms",
    "sources.manifest.shards_kept_ratio": "ratio",
    "core.groupby_plan_ms": "ms",
    "core.jobs_per_query": "count",
    "core.stages_per_query": "count",
    "core.tasks_per_query": "count",
    "core.failed_tasks_per_query": "count",
    "sources.sinks.to_pandas_result_ms": "ms",
    "sources.sinks.result_rows": "count",
    "sources.sinks.result_bytes": "bytes",
    "sources.sinks.atomic_publish_ms": "ms",
    "sources.manifest.refresh_manifest_ms": "ms",
    "operators.lm.lm_append_ms": "ms",
    "sources.sinks.bytes_written_per_input_byte": "ratio",
    "sources.sinks.files_written": "count",
    "operators.lm.lm_load_ms": "ms",
    "operators.lm.kn_score_ms": "ms",
    "core.groupby_during_publish_ms": "ms",
    "core.groupby_idle_ms": "ms",
    "trace.query_p50_ms": "ms",
}

# a span X feeds metric X_s, X_ms or X_us: its median duration in that unit
_SCALES = {"_s": 1.0, "_ms": 1e3, "_us": 1e6}
# metric -> (numerator count, denominator count), summed over the run
_RATIOS = {
    "sources.parquet.shards_found_ratio": ("sources.parquet.shards_found", "sources.parquet.shards_asked"),
    "sources.manifest.shards_kept_ratio": ("sources.manifest.shards_kept", "sources.manifest.shards_in"),
    "sources.sinks.bytes_written_per_input_byte": ("sources.sinks.bytes_written", "sources.sinks.input_bytes"),
}


def layer_metrics(roll: dict, extra: dict, per_layer: dict) -> dict[str, tuple[float, int]]:
    """Per-layer metric -> (value, sample count) from a trace rollup: a span
    ``X`` gives ``X_s``/``X_ms``/``X_us`` (median), a count ``X`` gives ``X``
    (mean per sample), and the ratios above are summed counts over the run."""
    out: dict[str, tuple[float, int]] = {}
    for name, r in roll.items():
        if "median_s" in r:
            for suffix, scale in _SCALES.items():
                if name + suffix in per_layer:
                    out[name + suffix] = (r["median_s"] * scale, r["n"])
        elif name in per_layer:
            out[name] = (r["mean"], r["n"])
    for metric, (num, den) in _RATIOS.items():
        if den in roll and roll[den]["sum"] > 0:
            out[metric] = (roll.get(num, {"sum": 0.0})["sum"] / roll[den]["sum"], roll[den]["n"])
    out.update(extra)
    return out
