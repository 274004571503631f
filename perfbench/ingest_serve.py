"""ingest_serve: writes beside reads, the Spark analog of the reference's
download -> moveparquet swap.

One reader thread runs the groupby_mix call mix over the shards published so
far, for the whole window. One writer thread waits out the first quarter of
the window, then ingests batches in a closed loop of publish cycles until the
window ends: ``atomic_publish`` of a seeded lineitem batch as a new shard,
``refresh_manifest``, then ``lm_append`` of seeded documents to an order-3
LM. Reads before the writer starts and reads beside it show what the writes
cost the reads; the fixed split keeps that share of contended reads the same
in every run.

A traced run then reads the LM once, ``lm_load`` + ``kn_score`` over a
200-document set, after the window. That read takes 7-13 s on a 4-core host,
so in the untimed loop it would leave the reader a handful of calls per run;
it is measured and checked in traced runs only.
"""

from __future__ import annotations

import itertools
import os
import statistics
import threading
import time

import gen
import harness
from groupby_mix import Client, check_records, install_layer_spans, op_log, query_metrics
from metrics import END_TO_END, PER_LAYER  # noqa: F401  read by run.py

BASE_SHARDS = 2
BATCH_ROWS = 37_500  # one sf0.1 lineitem shard
LM_DOCS = 500  # documents appended per cycle, and in the base LM
SCORE_DOCS = 200
LM_ORDER = 3
SETUPS = 3
CYCLES = 6  # batches generated per run; the window ends the loop first
IDLE_SHARE = 0.25  # of the window, before the writer starts


def _slice_days(i: int, n: int) -> tuple[int, int]:
    return i * gen.SPAN_DAYS // n, (i + 1) * gen.SPAN_DAYS // n


def run(env, seed: int, seconds: float, rec, trace: bool) -> dict:
    from parqueryd_spark.core import ParquetEngine
    from parqueryd_spark.operators.lm import kn_score, lm_append, lm_load, lm_publish
    from parqueryd_spark.sources.manifest import build_manifest, refresh_manifest
    from parqueryd_spark.sources.sinks import atomic_publish, to_pandas_result

    # inputs: base shards, one batch + one document set per cycle, a score set
    n_slices = BASE_SHARDS + CYCLES
    inp = env.inputs
    sizes: dict[str, int] = {}

    def put(name, table):
        sizes[name] = gen.write_table(table, os.path.join(inp, name))
        return os.path.join(inp, name)

    base = [put(f"base_{i}.parquet", gen.lineitem(gen.rng_for(seed, 4, i), BATCH_ROWS, *_slice_days(i, n_slices)))
            for i in range(BASE_SHARDS)]
    batches = [
        put(f"batch_{c}.parquet", gen.lineitem(gen.rng_for(seed, 5, c), BATCH_ROWS, *_slice_days(BASE_SHARDS + c, n_slices)))
        for c in range(CYCLES)
    ]
    base_docs = put("docs_base.parquet", gen.corpus(seed, 100, LM_DOCS))
    docs = [put(f"docs_{c}.parquet", gen.corpus(seed, 200 + c, LM_DOCS, id_base=(c + 1) * 1_000_000)) for c in range(CYCLES)]
    score_set = put("score.parquet", gen.corpus(seed, 300, SCORE_DOCS))
    calls = gen.groupby_calls(seed, 2, 16, 2000)
    warm = gen.groupby_calls(seed, 3, 16, SETUPS)
    if trace:
        install_layer_spans(rec)
    harness.log("inputs written")

    with rec.request("setup"):
        spark, session_s = harness.start_spark(env, rec)
    setups, warm_records = [], []
    for s in range(SETUPS):
        data, lm_dir = os.path.join(env.data, f"shards{s}"), os.path.join(env.data, f"lm{s}")
        with rec.request(f"setup{s}"), rec.span("setup"):
            t0 = time.perf_counter()
            shards = []
            for i, path in enumerate(base):
                shards.append(f"shard_{i:04d}")
                atomic_publish(spark.read.parquet(path), os.path.join(data, shards[-1]))
            with rec.span("sources.manifest.build_manifest"):
                mf = build_manifest(spark, data).cache()
                mf.count()
            lm_publish(spark, lm_dir, spark.read.parquet(base_docs), n=LM_ORDER)
            eng = ParquetEngine(spark, data)
            warm_client = Client(spark, rec, False)
            warm_client.call(eng, warm[s], gen.name_shards(warm[s], shards, f"w{s}"), data, mf, f"warm{s}")
            setups.append(time.perf_counter() - t0)
            warm_records += warm_client.records
        if s < SETUPS - 1:
            mf.unpersist()
    harness.log(f"set-up done: {setups}")

    state = {"mf": mf, "shards": list(shards)}
    lock = threading.Lock()
    client = Client(spark, rec, trace)
    cycles: list[dict] = []
    scores: list[dict] = []

    def writer(deadline):
        time.sleep(IDLE_SHARE * seconds)
        for c in range(CYCLES):
            if time.perf_counter() >= deadline:
                return
            name = f"shard_{BASE_SHARDS + c:04d}"
            rid = f"c{c}"
            t0 = time.perf_counter()
            error = None
            with rec.request(rid), harness.job_group(spark, rid), rec.span("publish_cycle"):
                try:
                    with rec.span("sources.sinks.atomic_publish"):
                        atomic_publish(spark.read.parquet(batches[c]), os.path.join(data, name))
                    with rec.span("sources.manifest.refresh_manifest"):
                        new_mf = refresh_manifest(spark, data, state["mf"]).cache()
                        new_mf.count()
                    with lock:
                        state["mf"] = new_mf
                        state["shards"].append(name)
                    with rec.span("operators.lm.lm_append"):
                        lm_append(spark, lm_dir, spark.read.parquet(docs[c]), batch=rid)
                except Exception as e:  # counted as a failed operation
                    error = repr(e)
            t1 = time.perf_counter()
            if error is not None:
                cycles.append({"c": c, "name": name, "t0": t0, "t1": t1, "error": error})
                return
            if trace:
                written, files = harness.dir_bytes(os.path.join(data, name))
                with rec.request(rid):
                    rec.count("sources.sinks.bytes_written", written)
                    rec.count("sources.sinks.input_bytes", sizes[os.path.basename(batches[c])])
                    rec.count("sources.sinks.files_written", files)
            cycles.append({"c": c, "name": name, "t0": t0, "t1": t1, "error": None})

    def reader(deadline):
        for i in itertools.count():
            if time.perf_counter() >= deadline:
                return
            with lock:
                mf_now, shards_now = state["mf"], list(state["shards"])
            c = calls[i]
            client.call(eng, c, gen.name_shards(c, shards_now, str(i)), data, mf_now, f"r{i}")

    hygiene = harness.windowed(spark, seconds, lambda deadline: [lambda: writer(deadline), lambda: reader(deadline)])
    harness.log(f"window done: {len(client.records)} calls, {len(cycles)} cycles")
    if trace:
        t0 = time.perf_counter()
        pdf, error = None, None
        with rec.request("s0"), harness.job_group(spark, "s0"), rec.span("score"):
            try:
                with rec.span("operators.lm.lm_load"):
                    lm = lm_load(spark, lm_dir)
                with rec.span("operators.lm.kn_score"):
                    pdf = to_pandas_result(kn_score(spark.read.parquet(score_set), "doc_id", lm))
            except Exception as e:  # counted as a failed operation
                error = repr(e)
        scores.append({"k": 0, "t0": t0, "t1": time.perf_counter(), "result": pdf, "error": error})
    harness.stop_spark(spark)

    stored = harness.dir_bytes(data)[0] + harness.dir_bytes(lm_dir)[0]
    consumed = sum(sizes[os.path.basename(p)] for p in base) + sizes["docs_base.parquet"]
    consumed += sum(sizes[f"batch_{x['c']}.parquet"] + sizes[f"docs_{x['c']}.parquet"] for x in cycles)
    verdicts = check_records(warm_records + client.records)
    verdicts += _check_cycles(cycles, data, lm_dir) + [
        (f"s{x['k']}", _check_score(x, score_set)) for x in scores
    ]
    harness.log("checks done")

    during, idle = [], []
    for r in client.records:
        busy = any(r["t0"] < x["t1"] and x["t0"] < r["t1"] for x in cycles)
        (during if busy else idle).append((r["t1"] - r["t0"]) * 1000.0)
    publish = [x["t1"] - x["t0"] for x in cycles]
    score_ms = [(x["t1"] - x["t0"]) * 1000.0 for x in scores]
    extra_layers = {}
    if during:
        extra_layers["core.groupby_during_publish_ms"] = (statistics.median(during), len(during))
    if idle:
        extra_layers["core.groupby_idle_ms"] = (statistics.median(idle), len(idle))
    return {
        "e2e": {
            "setup_s": (session_s + statistics.median(setups), "s", SETUPS),
            **query_metrics(client.records, hygiene["start"]),
            "publish_s": (statistics.median(publish) if publish else 0.0, "s", len(publish)),
            "score_p50_ms": (statistics.median(score_ms) if score_ms else 0.0, "ms", len(score_ms)),
            "bytes_stored_per_input_byte": (stored / consumed, "ratio", len(cycles)),
        },
        "setups": [session_s] + setups,
        "op_log": op_log(client.records)
        + [{"rid": f"c{x['c']}", "ms": round((x["t1"] - x["t0"]) * 1000.0, 1)} for x in cycles]
        + [{"rid": f"s{x['k']}", "ms": round((x["t1"] - x["t0"]) * 1000.0, 1)} for x in scores],
        "extra_layers": extra_layers,
        "verdicts": verdicts,
        "hygiene": hygiene,
        "ops": {"query": len(client.records), "publish_cycle": len(cycles), "score": len(scores)},
    }


def _check_cycles(cycles: list[dict], data: str, lm_dir: str) -> list[tuple[str, bool]]:
    """Each published shard holds its whole batch, and the LM holds one
    count partition per completed cycle."""
    import duckdb

    con = duckdb.connect()
    out = []
    for x in cycles:
        if x["error"] is not None:
            out.append((f"c{x['c']}", False))
            continue
        try:
            n = con.execute(f"SELECT count(*) FROM read_parquet('{data}/{x['name']}/*.parquet')").fetchone()[0]
            part = os.path.join(lm_dir, "counts", f"batch=c{x['c']}")
            out.append((f"c{x['c']}", n == BATCH_ROWS and os.path.isdir(part)))
        except Exception:
            out.append((f"c{x['c']}", False))
    con.close()
    return out


def _check_score(x: dict, path: str) -> bool:
    """One finite score per input document."""
    import numpy as np
    import pyarrow.parquet as pq

    pdf = x["result"]
    if x["error"] is not None or pdf is None:
        return False
    ids = pq.read_table(path, columns=["doc_id"]).column(0).to_pylist()
    num = pdf.select_dtypes("number").drop(columns=["doc_id"], errors="ignore")
    return sorted(pdf["doc_id"].tolist()) == sorted(ids) and bool(np.isfinite(num.to_numpy(dtype=float)).all())
