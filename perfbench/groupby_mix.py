"""groupby_mix: the reference's one call, ``ParquetEngine.groupby``, from two
closed-loop clients over seeded lineitem shards. Each call does little work,
so per-call fixed costs dominate: compiling, resolving paths, manifest
pruning, launching jobs and moving the result to the client."""

from __future__ import annotations

import glob
import itertools
import os
import statistics
import threading
import time

import gen
import harness
from metrics import END_TO_END, PER_LAYER  # noqa: F401  read by run.py

ROWS = 600_000  # sf0.1 lineitem
SHARDS = 16
CLIENTS = 2
SETUPS = 3  # repeats of the program's set-up calls
WARM_CALLS = 1  # per set-up


def install_layer_spans(rec) -> None:
    """Spans and counts around the public functions ``ParquetEngine.groupby``
    calls into. The program's files are untouched: the wrappers replace the
    module attributes the engine looks up at call time."""
    import parqueryd_spark.core as core
    import parqueryd_spark.functions.compile as comp
    import parqueryd_spark.sources.manifest as manifest
    import parqueryd_spark.sources.parquet as parquet

    core.compile_where_terms = rec.wrap("functions.compile.compile", comp.compile_where_terms)
    core.compile_agg_list = rec.wrap("functions.compile.compile", comp.compile_agg_list)

    resolve = parquet.resolve_paths

    def resolve_paths(paths, data_dir=None, spark=None):
        with rec.span("sources.parquet.resolve_paths"):
            out = resolve(paths, data_dir=data_dir, spark=spark)
        rec.count("sources.parquet.shards_asked", 1 if isinstance(paths, str) else len(paths))
        rec.count("sources.parquet.shards_found", len(out))
        return out

    core.resolve_paths = parquet.resolve_paths = resolve_paths

    prune = manifest.prune_paths

    def prune_paths(mf, paths, where_terms):
        with rec.span("sources.manifest.prune_paths"):
            out = prune(mf, paths, where_terms)
        rec.count("sources.manifest.shards_in", len(paths))
        rec.count("sources.manifest.shards_kept", len(out))
        return out

    manifest.prune_paths = prune_paths


class Client:
    """Runs groupby calls and keeps what the checks need."""

    def __init__(self, spark, rec, trace: bool):
        self.spark, self.rec, self.trace = spark, rec, trace
        self.records: list[dict] = []
        self._lock = threading.Lock()

    def call(self, eng, call: dict, names: list[str], data_dir: str, mf, rid: str) -> dict:
        from parqueryd_spark.sources.sinks import to_pandas_result

        rec = self.rec
        t0 = time.perf_counter()
        error = None
        pdf = None
        with rec.request(rid), harness.job_group(self.spark, rid), rec.span("query"):
            try:
                with rec.span("core.groupby_plan"):
                    df = eng.groupby(
                        names,
                        call["groupby_cols"],
                        call["agg_list"],
                        call["where_terms"],
                        aggregate=call["aggregate"],
                        manifest=mf if call["manifest"] else None,
                    )
                with rec.span("sources.sinks.to_pandas_result"):
                    pdf = to_pandas_result(df)
            except Exception as e:  # counted as a failed operation
                error = repr(e)
        t1 = time.perf_counter()
        if self.trace and pdf is not None:
            with rec.request(rid):
                rec.count("sources.sinks.result_rows", len(pdf))
                rec.count("sources.sinks.result_bytes", int(pdf.memory_usage(index=False, deep=True).sum()))
                for k, v in harness.job_stats(self.spark, rid).items():
                    rec.count(f"core.{k}_per_query", v)
        r = {
            "rid": rid,
            "call": call,
            "names": names,
            "data_dir": data_dir,
            "result": pdf,
            "error": error,
            "t0": t0,
            "t1": t1,
        }
        with self._lock:
            self.records.append(r)
        return r


def shard_files(data_dir: str, names: list[str]) -> list[str]:
    """The existing data files behind ``names``: a file, or a directory of
    part files."""
    out = []
    for n in names:
        p = os.path.join(data_dir, n)
        if os.path.isdir(p):
            out += sorted(glob.glob(os.path.join(p, "*.parquet")))
        elif os.path.exists(p):
            out.append(p)
    return out


def check_records(records: list[dict]) -> list[tuple[str, bool]]:
    import duckdb

    import checks

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    verdicts = []
    for r in records:
        try:
            ok = r["error"] is None and checks.check_groupby(
                con, shard_files(r["data_dir"], r["names"]), r["call"], r["result"]
            )
        except Exception:
            ok = False
        verdicts.append((r["rid"], ok))
    con.close()
    return verdicts


def op_log(records: list[dict]) -> list[dict]:
    """Per call: id, latency and the template fields that drive its cost."""
    return [
        {
            "rid": r["rid"],
            "ms": round((r["t1"] - r["t0"]) * 1000.0, 1),
            "width": r["call"]["window"][1],
            "manifest": r["call"]["manifest"],
            "aggregate": r["call"]["aggregate"],
        }
        for r in records
    ]


def query_metrics(records: list[dict], start: float) -> dict[str, tuple[float, str, int]]:
    """Latency mean, median and p90, and completed calls per second, of the
    calls made in the window (closed loop: until the last call ended)."""
    lat = [r["t1"] - r["t0"] for r in records]
    end = max(r["t1"] for r in records)
    n = len(records)
    return {
        "query_mean_ms": (sum(lat) / n * 1000.0, "ms", n),
        "query_p50_ms": (statistics.median(lat) * 1000.0, "ms", n),
        "query_p90_ms": (harness.pctl(lat, 0.9) * 1000.0, "ms", n),
        "queries_per_s": (n / (end - start), "1/s", n),
    }


def run(env, seed: int, seconds: float, rec, trace: bool) -> dict:
    from parqueryd_spark.core import ParquetEngine
    from parqueryd_spark.sources.manifest import build_manifest

    shard_dir = os.path.join(env.inputs, "shards")
    table = gen.lineitem(gen.rng_for(seed, 1), ROWS)
    names = gen.write_shards(table, shard_dir, SHARDS)
    del table
    calls = gen.groupby_calls(seed, 2, SHARDS, 2000)
    warm = gen.groupby_calls(seed, 3, SHARDS, SETUPS * WARM_CALLS)
    if trace:
        install_layer_spans(rec)
    harness.log("inputs written")

    # set-up: start the session once, then repeat the program's own set-up
    # calls (manifest build and warm-up calls) SETUPS times; setup_s is the
    # session start plus the median repeat
    with rec.request("setup"):
        spark, session_s = harness.start_spark(env, rec)
    setups, warm_records = [], []
    for s in range(SETUPS):
        with rec.request(f"setup{s}"), rec.span("setup"):
            t0 = time.perf_counter()
            with rec.span("sources.manifest.build_manifest"):
                mf = build_manifest(spark, shard_dir).cache()
                mf.count()
            eng = ParquetEngine(spark, shard_dir)
            warm_client = Client(spark, rec, False)
            for i in range(WARM_CALLS):
                c = warm[s * WARM_CALLS + i]
                warm_client.call(eng, c, gen.name_shards(c, names, f"w{s}{i}"), shard_dir, mf, f"warm{s}_{i}")
            setups.append(time.perf_counter() - t0)
            warm_records += warm_client.records
        if s < SETUPS - 1:
            mf.unpersist()

    harness.log(f"set-up done: {setups}")
    client = Client(spark, rec, trace)
    next_i = itertools.count()

    def loop(deadline):
        while time.perf_counter() < deadline:
            i = next(next_i)
            c = calls[i % len(calls)]
            client.call(eng, c, gen.name_shards(c, names, str(i)), shard_dir, mf, f"q{i}")

    hygiene = harness.windowed(spark, seconds, lambda deadline: [lambda: loop(deadline)] * CLIENTS)
    harness.log(f"window done: {len(client.records)} calls")
    harness.stop_spark(spark)

    verdicts = check_records(warm_records + client.records)
    harness.log("checks done")
    setup_s = session_s + statistics.median(setups)
    return {
        "e2e": {"setup_s": (setup_s, "s", SETUPS), **query_metrics(client.records, hygiene["start"])},
        "setups": [session_s] + setups,
        "op_log": op_log(client.records),
        "verdicts": verdicts,
        "hygiene": hygiene,
        "ops": {"query": len(client.records)},
    }
