"""Product quantization: recall vs the exact baseline, determinism, and the
compression contract. (The registry row ann_pq_topk is rows-only checked by
the driver; these error-bound tests are its correctness story, same pattern
as the IVF/sketch rows.)"""

from __future__ import annotations

import pytest

from parqueryd_spark.operators.quantization import pq_encode, pq_search, pq_topk, pq_train
from parqueryd_spark.operators.similarity import brute_force_topk
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


def test_pq_refined_recall_beats_raw_adc(emb, qset):
    exact = _pairs(brute_force_topk(emb, qset, k=K))
    refined = _pairs(pq_topk(emb, qset, dim=64, k=K, refine=4))
    raw = _pairs(pq_topk(emb, qset, dim=64, k=K, refine=0))
    r_refined = len(exact & refined) / len(exact)
    r_raw = len(exact & raw) / len(exact)
    # measured 0.80 refined / 0.40 raw at this corpus; thresholds leave margin
    assert r_refined >= 0.7, f"refined recall {r_refined}"
    assert r_refined >= r_raw, "exact re-rank must not lose recall vs raw ADC"


def test_pq_deterministic_end_to_end(emb, qset):
    a = pq_topk(emb, qset, dim=64, k=5).collect()
    b = pq_topk(emb, qset, dim=64, k=5).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_codes_shape_and_bounds(emb):
    m, k_codes = 16, 16
    cb = pq_train(emb, dim=64, m=m, k=k_codes)
    assert len(cb) == m and all(len(sub) == k_codes for sub in cb)
    assert all(len(c) == 64 // m for sub in cb for c in sub)
    codes = pq_encode(emb, cb).collect()
    assert all(len(r["codes"]) == m for r in codes)
    assert all(0 <= c < k_codes for r in codes for c in r["codes"])


def test_adc_distance_is_lut_sum(emb, qset, spark):
    """ADC distance of a candidate == sum of its per-subspace LUT entries,
    recomputed in pure Python from the same codebooks."""
    import numpy as np

    cb = pq_train(emb, dim=64, m=16, k=16)
    C = np.array(cb)
    codes = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, cb).collect()}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in qset.collect()}
    got = pq_search(pq_encode(emb, cb), qset, cb, k=3).collect()
    m, _, dsub = C.shape
    for r in got[:10]:
        q = vecs[r["query_id"]]
        q = q / np.linalg.norm(q)
        expect = sum(
            ((C[j][codes[r["neighbor_id"]][j]] - q[j * dsub : (j + 1) * dsub]) ** 2).sum()
            for j in range(m)
        )
        assert abs(r["approx_dist"] - round(expect, 6)) < 1e-4


def test_ivfpq_exhaustive_probe_equals_flat_pq(spark, emb, qset, tmp_path):
    """The published IVF-PQ index probed EXHAUSTIVELY (nprobe = n_centroids)
    must return exactly what flat pq_topk returns at the same codebooks and
    refine — an external check that coarse bucketing partitions the codes
    table (no vector dropped/duplicated) and the LUT/ADC/re-rank plumbing
    matches the flat path, the same anchor pattern as
    ann_ivf_exhaustive_topk."""
    from pyspark.sql import functions as F

    from parqueryd_spark.operators.quantization import (
        ivfpq_load,
        ivfpq_publish,
        ivfpq_search,
    )

    cents = (
        emb.orderBy(F.col("vec_id").asc())
        .limit(16)
        .select(F.col("vec_id").cast("int").alias("centroid_id"), "embedding")
    )
    d = str(tmp_path / "ivfpq")
    ivfpq_publish(spark, d, emb, cents, dim=64, m=16, k_codes=16)
    codes, cen, cb = ivfpq_load(spark, d)
    full = {
        tuple(r)
        for r in ivfpq_search(codes, cen, cb, qset, corpus=emb, nprobe=16, k=K, refine=8)
        .select("query_id", "neighbor_id", "rank")
        .collect()
    }
    flat = {
        tuple(r)
        for r in pq_topk(emb, qset, dim=64, k=K, refine=8)
        .select("query_id", "neighbor_id", "rank")
        .collect()
    }
    assert full == flat and full


def test_ivfpq_served_recall_bound(spark):
    """The registry's served IVF-PQ route must clear its documented recall
    bound (>= 0.7 at nprobe=4/16, refine=8; measured 0.90-0.94 across SFs)."""
    from parqueryd_spark.queries.quantization import ann_ivfpq_recall_bound

    row = ann_ivfpq_recall_bound(spark, SF).collect()[0]
    assert row["recall_ok"] and row["n_queries"] == 8


def test_ivfpq_append_matches_single_shot_publish(spark, emb, qset, tmp_path):
    """Publishing half the corpus then appending the rest must serve exactly
    what a single-shot publish serves (frozen codebooks/centroids, idempotent
    batch partitions) — the compressed twin of ivf_append's contract. The
    PQ sample (first 2048 ids) must be in the PUBLISH half so both routes
    train identical codebooks."""
    from pyspark.sql import functions as F

    from parqueryd_spark.operators.quantization import (
        ivfpq_append,
        ivfpq_load,
        ivfpq_publish,
        ivfpq_search,
    )

    cents = (
        emb.orderBy(F.col("vec_id").asc())
        .limit(8)
        .select(F.col("vec_id").cast("int").alias("centroid_id"), "embedding")
    )
    n = emb.count()
    first = emb.filter(F.col("vec_id") < n // 2)
    rest = emb.filter(F.col("vec_id") >= n // 2)

    inc = str(tmp_path / "inc")
    ivfpq_publish(spark, inc, first, cents, dim=64, m=16, k_codes=16)
    counts = ivfpq_append(spark, inc, rest, batch="day1")
    assert sum(r.n_appended for r in counts.collect()) == rest.count()
    # replay the same batch: partition overwrite, no double-count
    ivfpq_append(spark, inc, rest, batch="day1")
    codes_i, cen_i, cb_i = ivfpq_load(spark, inc)
    assert codes_i.count() == n

    oneshot = str(tmp_path / "oneshot")
    # same codebooks requires the train sample ⊆ publish half: pq_train reads
    # the first 2048 ids, and first covers ids < n//2; at this fixture n//2 >
    # sample coverage is not guaranteed, so compare against a publish over the
    # SAME first half + append semantics: codes must be identical row-for-row
    ivfpq_publish(spark, oneshot, first, cents, dim=64, m=16, k_codes=16)
    codes_o, cen_o, cb_o = ivfpq_load(spark, oneshot)
    assert cb_i == cb_o  # append never retrains codebooks
    got_first = {
        (r.vec_id, tuple(r.codes), r.centroid_id)
        for r in codes_i.filter(F.col("batch") == "base")
        .select("vec_id", "codes", "centroid_id")
        .collect()
    }
    want_first = {
        (r.vec_id, tuple(r.codes), r.centroid_id)
        for r in codes_o.select("vec_id", "codes", "centroid_id").collect()
    }
    assert got_first == want_first

    # search over the appended index finds neighbors from BOTH halves
    res = ivfpq_search(codes_i, cen_i, cb_i, qset, corpus=emb, nprobe=8, k=K, refine=8)
    ids = {r.neighbor_id for r in res.collect()}
    assert any(i < n // 2 for i in ids) and any(i >= n // 2 for i in ids)


def test_residual_exhaustive_equals_flat_pq_on_residuals(spark, emb, qset, tmp_path):
    """VERDICT r8 item #4: with ONE coarse centroid the residual IVF-PQ path
    must degenerate to flat PQ over the residual vectors exactly — same
    codebooks, same codes, same per-pair (here per-query) LUTs, same ADC
    ranking. Pins the residual encode/search plumbing to the already-anchored
    flat machinery."""
    from pyspark.sql import functions as F

    from parqueryd_spark.operators.quantization import (
        _residual_frame,
        ivfpq_load,
        ivfpq_meta,
        ivfpq_publish,
        ivfpq_search,
    )

    cents = (
        emb.orderBy(F.col("vec_id").asc())
        .limit(1)
        .select(F.col("vec_id").cast("int").alias("centroid_id"), "embedding")
    )
    d = str(tmp_path / "ivfpq_resid")
    ivfpq_publish(spark, d, emb, cents, dim=64, m=16, k_codes=16, residual=True)
    assert ivfpq_meta(spark, d)["residual"] is True
    codes, cen, cb = ivfpq_load(spark, d)
    # compare (query, neighbor, 6dp distance) — the query-side residual is
    # computed in numpy on one path and Spark zip_with on the other, so exact
    # rank order on sub-ulp near-ties isn't contractual
    got = sorted(
        (r.query_id, r.neighbor_id, r.approx_dist)
        for r in ivfpq_search(
            codes, cen, cb, qset, nprobe=1, k=K, refine=0, residual=True
        ).collect()
    )
    # flat side: the same residual vectors through the flat PQ machinery
    resid_corpus = _residual_frame(emb, cents)
    resid_queries = _residual_frame(qset, cents)
    flat_codes = pq_encode(resid_corpus, cb, vec_col="__resid", normalize=False)
    want = sorted(
        (r.query_id, r.neighbor_id, r.approx_dist)
        for r in pq_search(
            flat_codes, resid_queries, cb, vec_col="__resid", k=K, normalize=False
        ).collect()
    )
    assert got == want and got


def test_residual_adc_recall_lift_on_clustered_corpus(spark, tmp_path):
    """The point of residual encoding: on a clustered corpus the quantizer
    spends its dynamic range on within-bucket spread, so UN-REFINED ADC
    ranking recall at equal (m, k_codes) must be >= the raw-vector encoding's
    — and the refined residual path must clear the registry's 0.7 recall
    bound (VERDICT r8: 'green on both paths')."""
    import numpy as np
    from pyspark.sql import functions as F

    from parqueryd_spark.operators.quantization import (
        ivfpq_load,
        ivfpq_publish,
        ivfpq_search,
    )
    from parqueryd_spark.operators.similarity import kmeans_centroids

    rng = np.random.default_rng(11)
    n_clusters, per_cluster, dim = 8, 200, 32
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[c] + rng.normal(scale=0.12, size=dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") % per_cluster == 3)
    exact = _pairs(brute_force_topk(corpus, queries, k=K))
    cents = kmeans_centroids(corpus, n_clusters)

    def recall(residual: bool, refine: int) -> float:
        d = str(tmp_path / f"idx_{residual}_{refine}")
        ivfpq_publish(
            spark, d, corpus, cents, dim=dim, m=8, k_codes=16, residual=residual
        )
        codes, cen, cb = ivfpq_load(spark, d)
        got = _pairs(
            ivfpq_search(
                codes, cen, cb, queries, corpus=corpus, nprobe=3, k=K,
                refine=refine, residual=residual,
            )
        )
        return len(got & exact) / len(exact)

    r_resid_raw, r_flat_raw = recall(True, 0), recall(False, 0)
    assert r_resid_raw >= r_flat_raw, (r_resid_raw, r_flat_raw)
    r_resid_refined = recall(True, 8)
    assert r_resid_refined >= 0.7, r_resid_refined
    print(f"ADC-only recall@{K}: residual={r_resid_raw:.3f} raw={r_flat_raw:.3f} "
          f"refined-residual={r_resid_refined:.3f}")


def test_residual_append_matches_single_shot(spark, emb, tmp_path):
    """Appending under a residual index must encode residuals against the
    PERSISTED centroids/codebooks (meta flag honored), matching a one-shot
    publish row-for-row on the shared half."""
    from pyspark.sql import functions as F

    from parqueryd_spark.operators.quantization import (
        ivfpq_append,
        ivfpq_load,
        ivfpq_publish,
    )

    cents = (
        emb.orderBy(F.col("vec_id").asc())
        .limit(4)
        .select(F.col("vec_id").cast("int").alias("centroid_id"), "embedding")
    )
    n = emb.count()
    first = emb.filter(F.col("vec_id") < n // 2)
    rest = emb.filter(F.col("vec_id") >= n // 2)
    inc = str(tmp_path / "inc_resid")
    ivfpq_publish(spark, inc, first, cents, dim=64, m=16, k_codes=16, residual=True)
    counts = ivfpq_append(spark, inc, rest, batch="day1")
    assert sum(r.n_appended for r in counts.collect()) == rest.count()
    codes_i, _, cb_i = ivfpq_load(spark, inc)
    assert codes_i.count() == n

    oneshot = str(tmp_path / "oneshot_resid")
    ivfpq_publish(spark, oneshot, first, cents, dim=64, m=16, k_codes=16, residual=True)
    codes_o, _, cb_o = ivfpq_load(spark, oneshot)
    assert cb_i == cb_o
    got_first = {
        (r.vec_id, tuple(r.codes), r.centroid_id)
        for r in codes_i.filter(F.col("batch") == "base")
        .select("vec_id", "codes", "centroid_id")
        .collect()
    }
    want_first = {
        (r.vec_id, tuple(r.codes), r.centroid_id)
        for r in codes_o.select("vec_id", "codes", "centroid_id").collect()
    }
    assert got_first == want_first


def test_ivfpq_publish_accepts_centroid_mode_strings(spark, emb, qset, tmp_path):
    """ivfpq_publish mirrors ivf_publish's coarse-quantizer modes: "first_k"
    and "kmeans" strings (n_centroids required), composing with residual
    encoding — the full production stack (fitted centroids + residual codes)
    in one call."""
    from pyspark.sql import functions as F

    from parqueryd_spark.operators.quantization import (
        ivfpq_load,
        ivfpq_meta,
        ivfpq_publish,
        ivfpq_search,
    )

    d1 = str(tmp_path / "mode_first")
    ivfpq_publish(spark, d1, emb, "first_k", dim=64, m=16, k_codes=16, n_centroids=8)
    codes, cen, cb = ivfpq_load(spark, d1)
    assert cen.count() == 8 and ivfpq_meta(spark, d1)["residual"] is False
    out = ivfpq_search(codes, cen, cb, qset, corpus=emb, nprobe=3, k=5, refine=4)
    assert out.groupBy("query_id").count().agg(F.min("count")).collect()[0][0] == 5

    d2 = str(tmp_path / "mode_kmeans_resid")
    ivfpq_publish(
        spark, d2, emb, "kmeans", dim=64, m=16, k_codes=16, n_centroids=8, residual=True
    )
    codes2, cen2, cb2 = ivfpq_load(spark, d2)
    assert cen2.count() == 8 and ivfpq_meta(spark, d2)["residual"] is True
    out2 = ivfpq_search(
        codes2, cen2, cb2, qset, corpus=emb, nprobe=3, k=5, refine=4, residual=True
    )
    assert out2.groupBy("query_id").count().agg(F.min("count")).collect()[0][0] == 5

    with pytest.raises(ValueError, match="n_centroids"):
        ivfpq_publish(spark, str(tmp_path / "x"), emb, "kmeans", dim=64)
    with pytest.raises(ValueError, match="first_k"):
        ivfpq_publish(spark, str(tmp_path / "y"), emb, "median", dim=64, n_centroids=4)


# --- deterministic spread-codebook replay route (VERDICT r11 item #2) ----


def test_spread_codebooks_match_python_recomputation(spark, emb):
    """pq_codebooks_spread ≡ an independent pure-Python recomputation
    (normalize -> per-subspace lexicographic sort -> quantile rows) on the
    same sample — the same derivation the DuckDB oracle performs."""
    import math

    from parqueryd_spark.operators.quantization import pq_codebooks_spread

    m, k, dim = 16, 32, 64
    got = pq_codebooks_spread(emb, dim=dim, m=m, k=k)
    rows = sorted(
        ((r["vec_id"], list(r["embedding"])) for r in emb.limit(5000).collect()),
    )[:2048]
    dsub = dim // m
    for j in range(m):
        subs = []
        for _, v in rows:
            nrm = math.sqrt(math.fsum(x * x for x in v))  # fsum ok: compare ~1e-12
            subs.append([x / nrm for x in v[j * dsub : (j + 1) * dsub]])
        order = sorted(range(len(subs)), key=lambda t: (subs[t], t))
        n = len(subs)
        for i in range(k):
            expect = subs[order[(i * n) // k]]
            assert all(abs(a - b) < 1e-9 for a, b in zip(got[j][i], expect)), (j, i)


def test_pq_cols_encode_matches_numpy_encode(spark, emb):
    """pq_encode_cols ≡ pq_encode on the same codebooks (both are
    first-min argmin over the same squared distances; ulp-level summation
    differences can only matter on exact ties, which the embeddings table
    does not produce)."""
    from parqueryd_spark.operators.quantization import (
        pq_codebooks_spread,
        pq_encode,
        pq_encode_cols,
    )

    cb = pq_codebooks_spread(emb, dim=64, m=16, k=32)
    a = {r["vec_id"]: list(r["codes"]) for r in pq_encode_cols(emb, cb).collect()}
    b = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, cb).collect()}
    assert a == b


def test_pq_spread_route_recall_and_determinism(spark, emb, qset):
    """The full spread route (the value-checked registry configuration)
    keeps recall@10 >= 0.7 at refine=8 and is run-to-run deterministic."""
    from parqueryd_spark.operators.quantization import pq_topk
    from parqueryd_spark.operators.similarity import brute_force_topk

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, qset, k=10).collect()
    }
    runs = []
    for _ in range(2):
        runs.append(
            sorted(
                (r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"])
                for r in pq_topk(
                    emb, qset, dim=64, k=10, refine=8, k_codes=32, codebook="spread"
                ).collect()
            )
        )
    assert runs[0] == runs[1]
    approx = {(q, n) for q, n, _, _ in runs[0]}
    assert len(exact & approx) / len(exact) >= 0.7


def test_residual_spread_route_replay_determinism_and_recall(spark, emb, qset, tmp_path):
    """The residual spread-codebook route (the value-checked
    ann_ivfpq_residual_topk configuration): run-to-run deterministic,
    recall@10 >= 0.8 at refine=8 (residual quantization concentrates the
    quantizer's range — measured 0.90-0.91 across sf0.001-0.1, above the
    raw route), and the det pair-LUT path agrees with itself under
    repartitioning."""
    from parqueryd_spark.operators.quantization import (
        ivfpq_load,
        ivfpq_publish,
        ivfpq_search,
    )
    from parqueryd_spark.operators.similarity import brute_force_topk

    import pyspark.sql.functions as F

    cents = (
        emb.orderBy(F.col("vec_id").asc())
        .limit(16)
        .select(F.col("vec_id").cast("int").alias("centroid_id"), "embedding")
    )
    path = str(tmp_path / "resid_spread")
    ivfpq_publish(
        spark, path, emb, cents, dim=64, m=16, k_codes=32,
        residual=True, codebook="spread",
    )
    codes, c2, cb = ivfpq_load(spark, path)
    runs = []
    for reps in (None, 7):
        q = qset if reps is None else qset.repartition(reps)
        runs.append(
            sorted(
                (r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"])
                for r in ivfpq_search(
                    codes, c2, cb, q, corpus=emb, nprobe=4, k=10, refine=8,
                    residual=True, lut_mode="det",
                ).collect()
            )
        )
    assert runs[0] == runs[1]
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, qset, k=10).collect()
    }
    approx = {(q, n) for q, n, _, _ in runs[0]}
    assert len(exact & approx) / len(exact) >= 0.8


def test_ivfpq_append_preserves_spread_replay_encoding(spark, emb, tmp_path):
    """Appends to a codebook='spread' index keep the bit-exact replay
    contract (review r12): the publish-time mode is persisted in meta and
    ivfpq_append encodes increments with the pure-Column path, so appended
    codes equal pq_encode_cols under the index's own codebooks (the numpy
    encoder's pairwise-summation norms can flip near-tie argmins)."""
    import pyspark.sql.functions as F

    from parqueryd_spark.operators.quantization import (
        ivfpq_append,
        ivfpq_load,
        ivfpq_meta,
        ivfpq_publish,
        pq_encode_cols,
    )

    base = emb.filter(F.col("vec_id") % 2 == 0)
    inc = emb.filter(F.col("vec_id") % 2 == 1)
    cents = (
        base.orderBy(F.col("vec_id").asc())
        .limit(8)
        .select(F.col("vec_id").cast("int").alias("centroid_id"), "embedding")
    )
    path = str(tmp_path / "spread_idx")
    ivfpq_publish(spark, path, base, cents, dim=64, m=16, k_codes=32, codebook="spread")
    assert ivfpq_meta(spark, path) == {"residual": False, "codebook": "spread"}
    ivfpq_append(spark, path, inc, batch="inc1")
    codes, _, cb = ivfpq_load(spark, path)
    appended = {
        r["vec_id"]: list(r["codes"])
        for r in codes.filter(F.col("batch") == "inc1").collect()
    }
    expect = {
        r["vec_id"]: list(r["codes"]) for r in pq_encode_cols(inc, cb).collect()
    }
    assert appended == expect and len(appended) > 0


def test_ivfpq_meta_defaults_only_when_missing(spark, emb, tmp_path):
    """The encoding flags travel as the codes' ``_meta`` sidecar: read back
    after a publish, defaulted only when the index has no meta, and a meta
    that exists but cannot be read raises — a silent default would serve
    residual codes as raw-vector ones."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from parqueryd_spark.operators.quantization import ivfpq_meta, ivfpq_publish

    cents = emb.orderBy("vec_id").limit(1).select(
        F.col("vec_id").cast("int").alias("centroid_id"), "embedding"
    )
    d = str(tmp_path / "ivfpq")
    ivfpq_publish(spark, d, emb, cents, dim=64, m=16, k_codes=16, residual=True, codebook="spread")
    assert ivfpq_meta(spark, d) == {"residual": True, "codebook": "spread"}

    meta_dir = os.path.join(d, "codes", "_meta")
    parts = glob.glob(os.path.join(meta_dir, "*.parquet"))
    assert parts
    for part in parts:
        with open(part, "wb") as f:
            f.write(b"not a parquet file")
    with pytest.raises(Exception):
        ivfpq_meta(spark, d)

    shutil.rmtree(meta_dir)
    assert ivfpq_meta(spark, d) == {"residual": False, "codebook": "kmeans"}
