"""curate_batch: the training-data curation pipeline of
``examples/curate_training_data.py`` with substring dedup and an
exact-quantile report added, one closed-loop pass after another. Every pass
reads a corpus generated for it alone, so no pass can be served from a memo
filled by an earlier one. Here the operators do almost all the work."""

from __future__ import annotations

import os
import statistics
import time

import gen
import harness

DOCS = 1_000  # documents per pass corpus
QUALITY_MIN = 0.2
PROBS = [0.5, 0.9, 0.99]

# stage span -> the public function it times
STAGES = [
    "operators.text.quality_score",
    "operators.dedup.exact_dedup",
    "operators.dedup.substring_dedup",
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.near_dup_groups",
    "operators.dedup.contamination_stats",
    "operators.selection.exact_group_quantiles",
    "operators.sampling.pack_contiguous",
]
END_TO_END = {"setup_s": "s", "pass_s": "s", "docs_per_s": "1/s"}
PER_LAYER = {"session.get_spark_s": "s", "trace.pass_s": "s"}
for _s in STAGES:
    PER_LAYER.update({f"{_s}_s": "s", f"{_s}_shuffle_bytes": "bytes", f"{_s}_jobs": "count", f"{_s}_rows_out_ratio": "ratio"})


class Stage:
    """Times one stage and, when tracing, counts its jobs (one job group per
    stage), shuffle bytes and rows out per row in."""

    def __init__(self, spark, rec, trace: bool, rid: str, name: str):
        self.spark, self.rec, self.trace, self.rid, self.name = spark, rec, trace, rid, name

    def __enter__(self):
        from parqueryd_spark.plans.telemetry import ShuffleDelta

        self.gid = f"{self.rid}:{self.name}"
        self.spark.sparkContext.setJobGroup(self.gid, self.gid)
        self.delta = ShuffleDelta(self.spark).__enter__() if self.trace else None
        self.span = self.rec.span(self.name)
        self.span.__enter__()
        return self

    def rows(self, n_in: int, n_out: int) -> None:
        if self.trace and n_in:
            self.rec.count(f"{self.name}_rows_out_ratio", n_out / n_in)

    def __exit__(self, *exc):
        self.span.__exit__(*exc)
        if self.trace:
            self.delta.__exit__(*exc)
            self.rec.count(f"{self.name}_shuffle_bytes", self.delta.total)
            self.rec.count(f"{self.name}_jobs", harness.job_stats(self.spark, self.gid)["jobs"])
        return False


def one_pass(spark, rec, trace: bool, path: str, rid: str) -> dict:
    """The pipeline over the corpus at ``path``; returns what the checks need."""
    from pyspark.sql import functions as F

    from parqueryd_spark.operators.dedup import (
        contamination_stats,
        exact_dedup,
        minhash_lsh_pairs,
        near_dup_groups,
        substring_dedup,
    )
    from parqueryd_spark.operators.sampling import chunk_documents, hash_split, pack_contiguous
    from parqueryd_spark.operators.selection import exact_group_quantiles
    from parqueryd_spark.operators.text import quality_score

    def stage(name):
        return Stage(spark, rec, trace, rid, name)

    out: dict = {}
    with rec.request(rid), rec.span("pass"):
        docs = spark.read.parquet(path)
        with stage(STAGES[0]) as st:
            n0 = docs.count()
            kept = docs.withColumn("q", quality_score("text")).filter(F.col("q") >= QUALITY_MIN).cache()
            n1 = kept.count()
            st.rows(n0, n1)
        with stage(STAGES[1]) as st:
            out["exact"] = exact_dedup(kept, "text", "doc_id").toPandas()
            keep_ids = spark.createDataFrame(out["exact"][["keep_id"]].rename(columns={"keep_id": "doc_id"}))
            d1 = kept.join(keep_ids, "doc_id").cache()
            n2 = d1.count()
            st.rows(n1, n2)
        with stage(STAGES[2]) as st:
            out["substring"] = substring_dedup(d1, "doc_id", "text", min_tokens=16).toPandas()
            st.rows(n2, len(out["substring"]))
        with stage(STAGES[3]) as st:
            pairs = minhash_lsh_pairs(d1, "doc_id", "text", threshold=0.8).cache()
            st.rows(n2, pairs.count())
        with stage(STAGES[4]) as st:
            out["groups"] = near_dup_groups(pairs).toPandas()
            dropped = out["groups"].loc[out["groups"]["doc_id"] != out["groups"]["group_id"], ["doc_id"]]
            d3 = d1.join(spark.createDataFrame(dropped, "doc_id long"), "doc_id", "left_anti").cache()
            n3 = d3.count()
            st.rows(n2, n3)
        with stage(STAGES[5]) as st:
            bench = docs.filter(F.col("doc_id") % 20 == 0)
            stats = contamination_stats(d3, bench, "doc_id", "text", k=8)
            clean = stats.filter(~F.col("contaminated")).select(F.col("doc").alias("doc_id"))
            d4 = d3.join(clean, "doc_id").cache()
            n4 = d4.count()
            st.rows(n3, n4)
        with stage(STAGES[6]) as st:
            out["quantiles"] = exact_group_quantiles(spark, d4, ["lang"], "q", PROBS).toPandas()
            st.rows(n4, len(out["quantiles"]))
        with stage(STAGES[7]) as st:
            chunks = chunk_documents(d4, "doc_id", "text", max_tokens=64, overlap=8)
            toks = chunks.select(
                F.concat_ws("#", F.col("doc").cast("string"), F.col("chunk_id").cast("string")).alias("doc_id"),
                F.col("n_chunk_tokens").alias("tok"),
            )
            split = hash_split(toks, "doc_id", {"train": 0.9, "val": 0.1}, salt="v1")
            out["packed"] = pack_contiguous(split, "doc_id", "tok", budget=2048, group_cols=["split"]).toPandas()
            st.rows(n4, len(out["packed"]))
    # inputs of the checked stages, collected after the pass's timing
    out["kept"] = kept.select("doc_id", "text").toPandas()
    out["d1_ids"] = set(d1.select("doc_id").toPandas()["doc_id"])
    out["d4"] = d4.select("doc_id", "lang", "q").toPandas()
    out["d3_ids"] = set(d3.select("doc_id").toPandas()["doc_id"])
    for df in (kept, d1, pairs, d3, d4):
        df.unpersist()
    return out


def check_pass(out: dict) -> bool:
    """exact_dedup and the quantiles against DuckDB; the other dedup stages
    by invariants: what they keep is a subset of their input, and no two
    kept documents share a digest."""
    import hashlib

    import duckdb

    import checks

    con = duckdb.connect()
    con.register("kept", out["kept"])
    want = con.execute(
        "SELECT md5(text) AS digest, count(*) AS n_copies, min(doc_id) AS keep_id FROM kept GROUP BY 1"
    ).df()
    ok = checks.frames_match(out["exact"], want)
    con.register("d4", out["d4"])
    qs = ", ".join(f"({p}::DOUBLE, quantile_disc(q, {p}))" for p in PROBS)
    want_q = con.execute(
        f"SELECT lang, unnest(list_value({qs}), recursive := true) FROM d4 GROUP BY lang"
    ).df()
    want_q.columns = ["lang", "prob", "value"]
    ok = ok and checks.frames_match(out["quantiles"], want_q)
    con.close()
    kept_ids = set(out["kept"]["doc_id"])
    texts = dict(zip(out["kept"]["doc_id"], out["kept"]["text"]))
    ok = ok and out["d1_ids"] <= kept_ids and set(out["substring"]["doc"]) <= out["d1_ids"]
    ok = ok and out["d3_ids"] <= out["d1_ids"]
    for ids in (out["d1_ids"], out["d3_ids"]):
        digests = [hashlib.md5(texts[i].encode()).hexdigest() for i in ids]
        ok = ok and len(digests) == len(set(digests))
    return bool(ok)


def run(env, seed: int, seconds: float, rec, trace: bool) -> dict:
    with rec.request("setup"):
        spark, session_s = harness.start_spark(env, rec)
    read: set[str] = set()

    def corpus(i: int) -> str:
        path = os.path.join(env.inputs, f"corpus_{i}.parquet")
        gen.write_table(gen.corpus(seed, i, DOCS), path)
        # no timed pass may read an input an earlier pass of this process read
        if path in read:
            raise RuntimeError(f"corpus {path} was already read by an earlier pass")
        read.add(path)
        return path

    # set-up: session start plus one warm-up pass over its own corpus
    path = corpus(0)
    t0 = time.perf_counter()
    with rec.request("setup0"):
        warm = one_pass(spark, rec, False, path, "warm0")
    setup_s = session_s + time.perf_counter() - t0
    harness.log(f"set-up done: {setup_s:.1f} s")
    verdicts = [("warm0", check_pass(warm))]

    passes = []

    def window(deadline):
        i = 1
        while time.perf_counter() < deadline:
            path = corpus(i)
            t0 = time.perf_counter()
            try:
                out = one_pass(spark, rec, trace, path, f"p{i}")
                err = None
            except Exception as e:  # counted as a failed operation
                out, err = None, repr(e)
            passes.append({"i": i, "s": time.perf_counter() - t0, "out": out, "error": err})
            i += 1

    hygiene = harness.windowed(spark, seconds, lambda deadline: [lambda: window(deadline)])
    harness.log(f"window done: {len(passes)} passes")
    harness.stop_spark(spark)
    verdicts += [(f"p{p['i']}", p["error"] is None and check_pass(p["out"])) for p in passes]
    pass_s = [p["s"] for p in passes]
    return {
        "setups": [setup_s],
        "e2e": {
            "setup_s": (setup_s, "s", 1),
            "pass_s": (statistics.median(pass_s), "s", len(pass_s)),
            "docs_per_s": (DOCS * len(pass_s) / sum(pass_s), "1/s", len(pass_s)),
        },
        "verdicts": verdicts,
        "hygiene": hygiene,
        "op_log": [{"rid": f"p{p['i']}", "ms": round(p["s"] * 1000.0, 1)} for p in passes],
        "ops": {"pass": len(passes)},
    }
