"""Scalar quantization (SQ8): decode error bound, recall vs the exact
baseline, degenerate-grid safety, and the all-JVM plan contract (no Python
eval anywhere in train/encode/search — SQ's differentiator vs PQ)."""

from __future__ import annotations

import math

import pytest

from parqueryd_spark.operators.similarity import brute_force_topk
from parqueryd_spark.operators.squant import sq_encode, sq_search, sq_topk, sq_train
from parqueryd_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"
K = 10


@pytest.fixture(scope="module")
def emb(spark):
    df = load_table(spark, SF, "embeddings").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def qset(emb):
    return emb.orderBy("vec_id").limit(8)


def _pairs(df):
    return {(r.query_id, r.neighbor_id) for r in df.collect()}


def test_decode_error_within_half_step(emb):
    """Every encoded dimension reconstructs within step/2 of the normalized
    source value — the uniform-quantizer guarantee the search identity
    relies on."""
    lo, step = sq_train(emb, dim=64)
    rows = sq_encode(emb, lo, step).join(emb, "vec_id").limit(50).collect()
    for r in rows:
        v = r["embedding"]
        n = math.sqrt(sum(float(x) * float(x) for x in v)) or 1.0
        for i, c in enumerate(r["codes"]):
            assert 0 <= c <= 255
            decoded = lo[i] + c * step[i]
            assert abs(decoded - float(v[i]) / n) <= step[i] / 2 + 1e-9


def test_sq_recall_near_exact(emb, qset):
    exact = _pairs(brute_force_topk(emb, qset, k=K))
    refined = _pairs(sq_topk(emb, qset, dim=64, k=K, refine=4))
    raw = _pairs(sq_topk(emb, qset, dim=64, k=K, refine=0))
    r_refined = len(exact & refined) / len(exact)
    r_raw = len(exact & raw) / len(exact)
    # 8 bits/dim is near-lossless: measured 1.0 refined / ~0.99 raw here
    assert r_refined >= 0.9, f"refined recall {r_refined}"
    assert r_raw >= 0.85, f"raw SQ recall {r_raw}"


def test_constant_dimension_is_safe(spark):
    """A constant dimension (step would be 0) must not NaN-poison encode or
    search — it folds into the per-query constant."""
    df = spark.createDataFrame(
        [(i, [1.0, float(i % 7), 2.0]) for i in range(20)],
        "vec_id bigint, embedding array<double>",
    )
    lo, step = sq_train(df, dim=3)
    got = sq_search(sq_encode(df, lo, step), df.limit(2), lo, step, k=3).collect()
    assert len(got) == 6
    assert all(not math.isnan(r["approx_sim"]) for r in got)


def test_all_jvm_plan_no_python_eval(emb, qset):
    lo, step = sq_train(emb, dim=64)
    plan = sq_search(
        sq_encode(emb, lo, step), qset, lo, step, k=K
    )._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, "SQ path must stay entirely JVM-side"


def test_deterministic_end_to_end(emb, qset):
    a = sq_topk(emb, qset, dim=64, k=5).collect()
    b = sq_topk(emb, qset, dim=64, k=5).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_publish_append_search_lifecycle(spark, emb, qset, tmp_path):
    """Publish on half the corpus, append the rest as a second batch:
    search over the published index == search over a one-shot encode of the
    full corpus (the grid is frozen at publish, so codes agree row-for-row),
    and a replayed append can't double-count."""
    from parqueryd_spark.operators.squant import sq_append, sq_load, sq_publish

    idx = str(tmp_path / "sq_idx")
    base = emb.filter("vec_id % 2 = 0")
    inc = emb.filter("vec_id % 2 = 1")
    sq_publish(spark, idx, base, dim=64)
    sq_append(spark, idx, inc, batch="inc1")
    sq_append(spark, idx, inc, batch="inc1")  # replay: same partition, no dupes

    codes, lo, step = sq_load(spark, idx)
    assert codes.count() == emb.count()
    served = sq_search(codes, qset, lo, step, k=K).collect()

    # one-shot baseline with the SAME grid (trained on base only)
    oneshot = sq_search(sq_encode(emb, lo, step), qset, lo, step, k=K).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, oneshot))


def test_ivfsq_exhaustive_probe_equals_flat_sq(spark, emb, qset, tmp_path):
    """Probing every bucket must reduce IVF-SQ to flat SQ exactly: same
    global grid, same scoring fold, the bucketing only partitions the
    candidate stream."""
    from parqueryd_spark.operators.squant import ivfsq_load, ivfsq_publish, ivfsq_search

    idx = str(tmp_path / "ivfsq")
    ivfsq_publish(spark, idx, emb, dim=64, centroids="first_k", n_centroids=8)
    codes, cents, lo, step = ivfsq_load(spark, idx)
    got = ivfsq_search(codes, cents, lo, step, qset, nprobe=8, k=K, refine=0).collect()
    flat = sq_search(sq_encode(emb, lo, step), qset, lo, step, k=K).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, got), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, flat), key=lambda t: (t[0], t[3])
    )


def test_ivfsq_recall_and_append_lifecycle(spark, emb, qset, tmp_path):
    """Refined IVF-SQ recall at nprobe=4 of 8 >= 0.7 vs brute force, and an
    appended increment is searchable (frozen centroids + grid, replay-safe)."""
    from parqueryd_spark.operators.squant import (
        ivfsq_append,
        ivfsq_load,
        ivfsq_publish,
        ivfsq_search,
    )

    idx = str(tmp_path / "ivfsq")
    base = emb.filter("vec_id % 2 = 0")
    inc = emb.filter("vec_id % 2 = 1")
    ivfsq_publish(spark, idx, base, dim=64, centroids="first_k", n_centroids=8)
    ivfsq_append(spark, idx, inc, batch="inc1")
    ivfsq_append(spark, idx, inc, batch="inc1")  # replay
    codes, cents, lo, step = ivfsq_load(spark, idx)
    assert codes.count() == emb.count()

    exact = _pairs(brute_force_topk(emb, qset, k=K))
    got = _pairs(
        ivfsq_search(codes, cents, lo, step, qset, corpus=emb, nprobe=4, k=K, refine=4)
    )
    recall = len(exact & got) / len(exact)
    assert recall >= 0.7, f"IVF-SQ recall {recall}"


def test_ivfsq_search_is_partition_pruned(spark, emb, qset, tmp_path):
    """The codes scan must carry a dynamicpruningexpression on centroid_id —
    the same DPP contract as the IVF / IVF-PQ indexes."""
    from parqueryd_spark.operators.squant import ivfsq_load, ivfsq_publish, ivfsq_search

    idx = str(tmp_path / "ivfsq")
    ivfsq_publish(spark, idx, emb, dim=64, centroids="first_k", n_centroids=8)
    codes, cents, lo, step = ivfsq_load(spark, idx)
    df = ivfsq_search(codes, cents, lo, step, qset, nprobe=2, k=K, refine=0)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf, "codes scan lost its partition filters"
    assert any("dynamicpruningexpression" in l and "centroid_id" in l for l in pf), pf


def test_train_arrow_path_matches_agg_path(emb):
    """The wide-vector (mapInPandas) grid path must return the exact grid
    the aggregate path returns — both are exact min/max, different plans."""
    lo_a, step_a = sq_train(emb, dim=64, method="agg")
    lo_b, step_b = sq_train(emb, dim=64, method="arrow")
    assert lo_a == lo_b and step_a == step_b


def test_train_rejects_empty_and_ignores_null_vectors(spark):
    import pytest

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    with pytest.raises(ValueError, match="non-empty"):
        sq_train(empty, dim=3)
    with pytest.raises(ValueError, match="non-empty"):
        sq_train(empty, dim=3, method="arrow")

    mixed = spark.createDataFrame(
        [(1, [1.0, 2.0, 2.0]), (2, None), (3, [2.0, 1.0, 2.0])],
        "vec_id bigint, embedding array<double>",
    )
    clean = mixed.where("embedding IS NOT NULL")
    assert sq_train(mixed, dim=3) == sq_train(clean, dim=3)
    assert sq_train(mixed, dim=3, method="arrow") == sq_train(clean, dim=3)
