"""Default-tier pins for the shared ANN search path (``operators/similarity``:
``resolve_centroids``, ``_probe``, ``_topk_per_query``, ``_rerank``).

With every bucket probed and a shortlist at least as large as the corpus,
each approximate route must return exactly the brute-force top-k: the probe,
the shortlist and the exact re-rank then drop nothing. ``semantic_dedup`` and
``prototype_scores`` are recomputed in pure Python from the centroids
``resolve_centroids`` returns, under both centroid modes. The refine plans
must keep the corpus on the streamed side of every broadcast join."""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from parqueryd_spark.operators.similarity import brute_force_topk, resolve_centroids
from tests.conftest import SF_SMOKE, jobs_submitted

N, DIM, K, N_CENTROIDS = 200, 16, 5, 4
REFINE = 40  # refine * k = 200 >= the corpus size: the shortlist is everything


@pytest.fixture(scope="module")
def corpus(spark):
    """200 seeded float vectors: 150 random and 50 near-copies of them, so
    the dedup pins see real groups."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.standard_normal((150, DIM)).astype(np.float32)
    copies = (base[:50] + 0.01 * rng.standard_normal((50, DIM))).astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(np.vstack([base, copies]))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def queries(corpus):
    return corpus.filter(F.col("vec_id") < 6)


@pytest.fixture(scope="module")
def exact(corpus, queries):
    return {
        (r.query_id, r.neighbor_id, r.rank): r.cosine_sim
        for r in brute_force_topk(corpus, queries, k=K).collect()
    }


@pytest.fixture(scope="module")
def centroid_lists(corpus):
    """mode -> the collected [(centroid_id, vector)] of resolve_centroids
    (seeded, so the operators' own fits return the same centroids)."""
    return {
        mode: [
            (r.centroid_id, list(r.embedding))
            for r in resolve_centroids(corpus, mode, N_CENTROIDS).collect()
        ]
        for mode in ("first_k", "kmeans")
    }


def _ivf(spark, corpus, queries, tmp_path):
    from parqueryd_spark.operators.similarity import ivf_load, ivf_publish, ivf_search

    ivf_publish(spark, str(tmp_path), corpus, "first_k", n_centroids=N_CENTROIDS)
    vectors, cents = ivf_load(spark, str(tmp_path))
    assert dict(cents.dtypes)["centroid_id"] == "int"
    return ivf_search(vectors, cents, queries, nprobe=N_CENTROIDS, k=K)


def _sq(spark, corpus, queries, tmp_path):
    from parqueryd_spark.operators.squant import sq_topk

    return sq_topk(corpus, queries, dim=DIM, k=K, refine=REFINE)


def _pq(spark, corpus, queries, tmp_path):
    from parqueryd_spark.operators.quantization import pq_topk

    return pq_topk(corpus, queries, dim=DIM, m=4, k_codes=8, k=K, refine=REFINE)


def _ivfsq(spark, corpus, queries, tmp_path):
    from parqueryd_spark.operators.squant import ivfsq_load, ivfsq_publish, ivfsq_search

    ivfsq_publish(spark, str(tmp_path), corpus, dim=DIM, n_centroids=N_CENTROIDS)
    codes, cents, lo, step = ivfsq_load(spark, str(tmp_path))
    return ivfsq_search(
        codes, cents, lo, step, queries, corpus=corpus, nprobe=N_CENTROIDS, k=K, refine=REFINE
    )


def _ivfpq(residual):
    def run(spark, corpus, queries, tmp_path):
        from parqueryd_spark.operators.quantization import (
            ivfpq_load,
            ivfpq_publish,
            ivfpq_search,
        )

        ivfpq_publish(
            spark, str(tmp_path), corpus, "first_k", dim=DIM, m=4, k_codes=8,
            residual=residual, n_centroids=N_CENTROIDS, codebook="spread",
        )
        codes, cents, cb = ivfpq_load(spark, str(tmp_path))
        return ivfpq_search(
            codes, cents, cb, queries, corpus=corpus, nprobe=N_CENTROIDS, k=K,
            refine=REFINE, residual=residual, lut_mode="det",
        )

    return run


@pytest.mark.parametrize(
    "route",
    [_ivf, _sq, _pq, _ivfsq, _ivfpq(False), _ivfpq(True)],
    ids=["ivf_search", "sq_topk", "pq_topk", "ivfsq_search", "ivfpq_search", "ivfpq_residual"],
)
def test_exhaustive_route_equals_brute_force(spark, corpus, queries, exact, tmp_path, route):
    got = {
        (r.query_id, r.neighbor_id, r.rank): r.cosine_sim
        for r in route(spark, corpus, queries, tmp_path).collect()
    }
    assert set(got) == set(exact)
    for key, sim in exact.items():
        assert got[key] == pytest.approx(sim, abs=1e-6), key


def _cos(a, b):
    """The JVM fold's arithmetic: sequential double sums, dot / (|a|·|b|)."""
    d = sa = sb = 0.0
    for x, y in zip(a, b):
        d += x * y
    for x in a:
        sa += x * x
    for y in b:
        sb += y * y
    return d / (math.sqrt(sa) * math.sqrt(sb))


def _assign(corpus, cents):
    """vec_id -> (centroid_id, centroid_sim): max cosine, lowest id on ties."""
    vecs = {r.vec_id: list(r.embedding) for r in corpus.collect()}
    out = {}
    for i, v in vecs.items():
        sim, neg = max((_cos(v, c), -cid) for cid, c in cents)
        out[i] = (-neg, sim)
    return vecs, out


@pytest.mark.parametrize("mode", ["first_k", "kmeans"])
def test_prototype_scores_match_python(spark, corpus, centroid_lists, mode):
    from parqueryd_spark.operators.similarity import prototype_scores

    _, assign = _assign(corpus, centroid_lists[mode])
    clusters = {}
    for i, (cid, sim) in assign.items():
        clusters.setdefault(cid, []).append((-sim, i))
    want = {}
    for cid, members in clusters.items():
        for rank, (neg_sim, i) in enumerate(sorted(members), start=1):
            want[i] = (cid, rank, len(members))
    out = prototype_scores(corpus, n_centroids=N_CENTROIDS, centroid_mode=mode)
    if mode == "first_k":
        assert dict(out.dtypes)["centroid_id"] == dict(corpus.dtypes)["vec_id"]
    rows = out.collect()
    assert {r.vec_id: (r.centroid_id, r.proto_rank, r.cluster_n) for r in rows} == want
    for r in rows:
        assert r.centroid_sim == assign[r.vec_id][1]


@pytest.mark.parametrize("mode", ["first_k", "kmeans"])
def test_semantic_dedup_matches_python(spark, corpus, centroid_lists, mode):
    from parqueryd_spark.operators.similarity import semantic_dedup

    threshold = 0.98
    vecs, assign = _assign(corpus, centroid_lists[mode])
    parent = {i: i for i in vecs}

    def root(i):
        while parent[i] != i:
            i = parent[i]
        return i

    ids = sorted(vecs)
    for a in ids:
        for b in ids:
            if a < b and assign[a][0] == assign[b][0] and _cos(vecs[a], vecs[b]) >= threshold:
                ra, rb = root(a), root(b)
                parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for i in ids:
        groups.setdefault(root(i), []).append(i)
    want = {}
    for gid, members in groups.items():
        keep = min(members, key=lambda i: (assign[i][1], i))
        for i in members:
            want[i] = (assign[i][0], gid, i == keep)
    assert any(len(m) > 1 for m in groups.values())
    out = semantic_dedup(corpus, threshold=threshold, n_centroids=N_CENTROIDS, centroid_mode=mode)
    if mode == "first_k":
        assert dict(out.dtypes)["centroid_id"] == dict(corpus.dtypes)["vec_id"]
    assert {r.vec_id: (r.centroid_id, r.group_id, r.keep) for r in out.collect()} == want


def _refine_plan(spark, route):
    """One refine plan over the sf0.001 embeddings table."""
    from parqueryd_spark.operators import quantization, squant
    from parqueryd_spark.queries.quantization import served_ivfpq_index, served_ivfsq_index
    from parqueryd_spark.sources.parquet import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    if route == "sq_topk":
        return squant.sq_topk(emb, qs, dim=64, k=5, refine=4)
    if route == "pq_topk":
        return quantization.pq_topk(emb, qs, dim=64, m=16, k_codes=16, k=5, refine=4)
    if route == "ivfsq_search":
        codes, cents, lo, step = served_ivfsq_index(spark, SF_SMOKE, n_centroids=16)
        return squant.ivfsq_search(
            codes, cents, lo, step, qs, corpus=emb, nprobe=4, k=5, refine=4
        )
    codes, cents, cb = served_ivfpq_index(
        spark, SF_SMOKE, n_centroids=16, codebook="spread", k_codes=32
    )
    return quantization.ivfpq_search(
        codes, cents, cb, qs, corpus=emb, nprobe=4, k=5, refine=4, lut_mode="det"
    )


@pytest.mark.parametrize("route", ["sq_topk", "pq_topk", "ivfsq_search", "ivfpq_search"])
def test_refine_never_broadcasts_the_corpus(spark, route):
    """The re-rank's corpus side (its full-precision vectors, ``nv``) grows
    with the data, so no BroadcastExchange may carry it — whatever the
    size estimates say at small scale."""
    from parqueryd_spark.plans.audit import explain_str

    plan = explain_str(_refine_plan(spark, route), "formatted")
    inputs = re.findall(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert inputs, plan
    assert not [i for i in inputs if re.search(r"(?<!\w)nv#", i)], inputs


def test_residual_publish_computes_its_residuals_once(spark, corpus, tmp_path):
    """An IVF-PQ publish over residuals computes its residual frame once: the
    codebook sample and the encode read one checkpoint, and the encoded rows
    keep their centroid instead of joining back to an assignment. It runs
    two Spark jobs more than the raw encoding (the checkpoint itself, and
    the broadcast of the centroid vectors the residuals subtract), where
    recomputing the frame for each reader ran twice the raw count."""
    from parqueryd_spark.operators.quantization import ivfpq_publish

    def jobs(residual):
        return len(
            jobs_submitted(
                spark,
                f"ivfpq_publish_residual_{residual}",
                lambda: ivfpq_publish(
                    spark, str(tmp_path / str(residual)), corpus, "first_k", dim=DIM, m=4,
                    k_codes=8, residual=residual, n_centroids=N_CENTROIDS, codebook="spread",
                ),
            )[1]
        )

    raw, residual = jobs(False), jobs(True)
    assert residual <= raw + 2, (raw, residual)
