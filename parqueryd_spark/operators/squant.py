"""Scalar quantization (SQ8) for embedding columns — the cheapest tier of the
ANN compression ladder (float32 → 8-bit/dim = 4× smaller), below PQ's 32×
but with near-lossless ranking and, unlike PQ, ZERO Python anywhere: train is
one JVM aggregate pass, encode is pure Column arithmetic (map-only, no
shuffle, whole-stage codegen), and search scores candidates with a
fold-over-arrays expression. The standard per-dimension uniform quantizer
used by FAISS's ``ScalarQuantizer(QT_8bit)`` and Milvus/Lucene int8 indexes.

Scheme: per dimension ``i`` over the (L2-normalized) corpus, learn
``lo_i = min`` and ``step_i = (max_i − lo_i)/255``; encode
``code_i = round((x_i − lo_i)/step_i)`` clamped to [0, 255]; decode
``x̂_i = lo_i + code_i·step_i`` (≤ step/2 absolute error per dimension).

Search exploits linearity instead of decoding candidates: for a normalized
query ``q``,

    dot(x̂, q) = Σ lo_i·q_i  +  Σ code_i·(step_i·q_i)
              =   const(q)  +  fold(zip(codes, w))          w_i = step_i·q_i

so the per-query constant and weight vector are computed once on the
broadcast query side, and each candidate costs one ``zip_with``+``aggregate``
fold over its int codes — JVM-side, no float vector re-read. Exact re-rank of
the ``refine × k`` shortlist (``similarity._rerank``, shared with the PQ
routes) restores full precision on |queries| × refine × k rows only.

At 100 TB: train touches every vector once with a map-side-combinable
min/max aggregate (dim×2 scalars out — no explode, no per-dim shuffle);
encode is embarrassingly parallel; the codes table is the persistable
compressed index. Reference semantics: the ANN family extends the
reference's query surface (parqueryd exposes only filter/groupby —
/root/reference/parquery/df.py); quantized search follows the published
formulation above, not any reference code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parqueryd_spark.operators.similarity import (
    _flat_candidates,
    _probe,
    _probed_candidates,
    _publish_centroids,
    _rerank,
    _topk_per_query,
    as_double,
    ivf_assign,
    norm,
    resolve_centroids,
)
from parqueryd_spark.sources.parquet import read_resolved
from parqueryd_spark.sources.sinks import publish_batch, write_batch


def _normalized(vec_col, do_norm: bool):
    v = as_double(vec_col)
    if not do_norm:
        return v
    n = norm(v)
    # guard the zero vector: leave it zero rather than NaN-poison the grid
    return F.transform(v, lambda x: F.when(n > 0, x / n).otherwise(F.lit(0.0)))


def sq_train(
    corpus: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    normalize: bool = True,
    method: str = "auto",
) -> tuple[list[float], list[float]]:
    """Learn the per-dimension (lo, step) grid in ONE scan.

    ``method="agg"``: dim×2 min/max aggregates in a single ``agg`` —
    map-side combined, no explode/shuffle-by-dimension, output is 2·dim
    scalars (metadata scale). ``method="arrow"``: one Arrow-batched
    ``mapInPandas`` pass emitting a per-partition (lo[], hi[]) row, reduced
    driver-side (n_partitions × dim doubles — still metadata scale).
    ``"auto"`` picks agg up to dim=128 and arrow beyond: 2·dim aggregate
    expressions are the fastest plan while the expression tree stays small,
    but at real embedding widths (768/1536+) Catalyst analysis/codegen over
    thousands of aggregates dominates the scan — the same giant-expression-
    tree regime pq_encode documents — and the vectorized numpy min/max wins.
    Both paths return bit-identical grids (pytest-pinned). A constant
    dimension gets step=1.0 so encode/search stay NaN-free (its codes are 0
    and its contribution folds into const)."""
    if method == "auto":
        method = "agg" if dim <= 128 else "arrow"
    nv = _normalized(F.col(vec_col), normalize)
    # NULL vectors carry no grid information (encode passes them through as
    # NULL codes, search ranks them last) — drop them here so both train
    # paths see the same rows and neither NaN-poisons the grid
    corpus = corpus.where(F.col(vec_col).isNotNull())
    if method == "agg":
        row = corpus.select(nv.alias("__nv")).agg(
            *[F.min(F.col("__nv")[i]).alias(f"_lo_{i}") for i in range(dim)],
            *[F.max(F.col("__nv")[i]).alias(f"_hi_{i}") for i in range(dim)],
        ).collect()[0]
        if row[f"_lo_0"] is None:
            raise ValueError("sq_train needs a non-empty corpus")
        lo = [float(row[f"_lo_{i}"]) for i in range(dim)]
        hi = [float(row[f"_hi_{i}"]) for i in range(dim)]
    elif method == "arrow":
        d = dim

        def _partial(batches):
            # self-contained closure (cloudpickled by value — executors need
            # no repo import); bounded state: one (lo, hi) pair of length dim
            import numpy as _np
            import pandas as _pd

            lo = _np.full(d, _np.inf)
            hi = _np.full(d, -_np.inf)
            seen = False
            for pdf in batches:
                for v in pdf["__nv"]:
                    x = _np.asarray(v, dtype=_np.float64)
                    _np.minimum(lo, x, out=lo)
                    _np.maximum(hi, x, out=hi)
                    seen = True
            if seen:
                yield _pd.DataFrame({"lo": [list(lo)], "hi": [list(hi)]})

        parts = corpus.select(nv.alias("__nv")).mapInPandas(
            _partial, "lo array<double>, hi array<double>"
        ).collect()
        if not parts:
            raise ValueError("sq_train needs a non-empty corpus")
        lo = [min(float(p["lo"][i]) for p in parts) for i in range(dim)]
        hi = [max(float(p["hi"][i]) for p in parts) for i in range(dim)]
    else:
        raise ValueError(f"method must be 'auto', 'agg', or 'arrow'; got {method!r}")
    step = [((h - l) / 255.0) if h > l else 1.0 for l, h in zip(lo, hi)]
    return lo, step


def _lit_arr(xs: list[float]):
    return F.array(*[F.lit(float(x)) for x in xs])


def _fold_sum(arr) -> F.Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _query_weights(nqv, lo: list[float], step: list[float]) -> list[F.Column]:
    """The per-query side of the linear-decode identity for a normalized
    query column: ``q_const = Σ lo_i·q_i`` and ``w_i = step_i·q_i``."""
    return [
        _fold_sum(F.zip_with(_lit_arr(lo), nqv, lambda l, x: l * x)).alias("q_const"),
        F.zip_with(_lit_arr(step), nqv, lambda s, x: s * x).alias("w"),
    ]


def _approx_sim() -> F.Column:
    """A candidate's approximate cosine, ``q_const + Σ code_i·w_i``."""
    return F.col("q_const") + _fold_sum(
        F.zip_with("codes", "w", lambda ci, wi: ci.cast("double") * wi)
    )


def sq_encode(
    corpus: DataFrame,
    lo: list[float],
    step: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Encode to ``(id, codes: array<int>)`` with pure Column arithmetic —
    one codegen'd map pass, no Python, no shuffle. Codes are clamped to
    [0, 255], so out-of-grid vectors (appended after train) still encode
    soundly, just saturated."""
    nv = _normalized(F.col(vec_col), normalize)
    shifted = F.zip_with(nv, _lit_arr(lo), lambda x, l: x - l)
    codes = F.zip_with(
        shifted,
        _lit_arr(step),
        lambda x, s: F.least(
            F.lit(255), F.greatest(F.lit(0), F.round(x / s).cast("int"))
        ),
    )
    return corpus.select(F.col(id_col), codes.alias("codes"))


def sq_search(
    codes: DataFrame,
    queries: DataFrame,
    lo: list[float],
    step: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    normalize: bool = True,
) -> DataFrame:
    """Approximate top-k over the codes table: per broadcast query,
    ``const + Σ code_i·w_i`` (the linear-decode identity above) ranks
    candidates without touching a float vector. Deterministic neighbor-id
    tie-break. Returns (query_id, neighbor_id, approx_sim, rank)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        *_query_weights(_normalized(F.col(vec_col), normalize), lo, step),
    )
    scored = _flat_candidates(codes, q, id_col, "codes").withColumn("approx_sim", _approx_sim())
    return _topk_per_query(scored, "approx_sim", k).withColumn(
        "approx_sim", F.round("approx_sim", 6)
    )


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    refine: int = 4,
) -> DataFrame:
    """Train → encode → approximate shortlist → exact cosine re-rank in one
    call. With ``refine`` > 0 full-precision reads touch only
    |queries| × refine × k rows; ``refine=0`` returns the raw quantized
    ranking (at 8 bits/dim it is already near-exact — the recall tests pin
    both paths). Same return shape as ``pq_topk``:
    (query_id, neighbor_id, cosine_sim, rank) under refine,
    (query_id, neighbor_id, approx_sim, rank) without."""
    lo, step = sq_train(corpus, dim=dim, vec_col=vec_col)
    codes = sq_encode(corpus, lo, step, id_col=id_col, vec_col=vec_col)
    if refine <= 0:
        return sq_search(codes, queries, lo, step, id_col=id_col, vec_col=vec_col, k=k)
    shortlist = sq_search(
        codes, queries, lo, step, id_col=id_col, vec_col=vec_col, k=refine * k
    )
    return _rerank(shortlist, queries, corpus, k, id_col, vec_col)


def _write_grid(spark, index_dir: str, lo: list[float], step: list[float]) -> None:
    """Persist an SQ grid at ``<index_dir>/grid`` as (i, lo, step) rows."""
    spark.createDataFrame(
        [(i, float(l), float(s)) for i, (l, s) in enumerate(zip(lo, step))],
        "i int, lo double, step double",
    ).write.mode("overwrite").parquet(f"{index_dir}/grid")


def _read_grid(spark, index_dir: str) -> tuple[list[float], list[float]]:
    """(lo, step) of a published SQ grid — a metadata-scale collect of dim
    rows."""
    rows = sorted(read_resolved(spark, [f"{index_dir}/grid"]).collect(), key=lambda r: r["i"])
    return [float(r["lo"]) for r in rows], [float(r["step"]) for r in rows]


def sq_publish(
    spark,
    index_dir: str,
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch: str = "base",
) -> None:
    """Persist a self-contained SQ index: the (lo, step) grid at
    ``<index_dir>/grid`` and the int8-range codes at ``<index_dir>/codes``
    partitioned by ``batch`` — the same living-dataset posture as
    ``ivf_publish``/``ivfpq_publish``. Appends quantize against the
    PERSISTED grid (saturating clamp keeps out-of-grid increments sound),
    and re-writing a batch overwrites exactly its own partition."""
    lo, step = sq_train(corpus, dim=dim, vec_col=vec_col)
    _write_grid(spark, index_dir, lo, step)
    codes = sq_encode(corpus, lo, step, id_col=id_col, vec_col=vec_col)
    publish_batch(codes, f"{index_dir}/codes", batch)


def sq_load(spark, index_dir: str) -> tuple[DataFrame, list[float], list[float]]:
    """(codes, lo, step) of a published SQ index."""
    return (read_resolved(spark, [f"{index_dir}/codes"]), *_read_grid(spark, index_dir))


def sq_append(
    spark,
    index_dir: str,
    new_vectors: DataFrame,
    batch: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental SQ maintenance: encode the increment against the index's
    OWN persisted grid — one map pass over the new rows, never a re-scan of
    the standing corpus — and land it as the ``batch=<batch>`` partition
    (``sources/sinks.write_batch``: replays can't double-count). Vectors
    outside the trained grid saturate to code 0/255 (bounded, sound);
    if increments drift far from the base distribution, retrain and
    republish."""
    lo, step = _read_grid(spark, index_dir)
    codes = sq_encode(new_vectors, lo, step, id_col=id_col, vec_col=vec_col)
    write_batch(codes, f"{index_dir}/codes", batch)


def ivfsq_publish(
    spark,
    index_dir: str,
    corpus: DataFrame,
    dim: int,
    centroids: DataFrame | str = "first_k",
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch: str = "base",
    seed: int = 42,
) -> None:
    """Persist an IVF-SQ index — the production ANN config that composes the
    two pruning axes: IVF bucketing cuts WHICH rows a search reads
    (~nprobe/n_centroids of the corpus, via dynamic partition pruning on the
    ``(batch, centroid_id)`` layout, same as the IVF/IVF-PQ indexes) and SQ8
    cuts HOW MUCH each read row costs (4-byte-per-dim floats → 1-byte codes
    scored by a JVM fold — no Python on the codes stream, SQ's edge over
    PQ's ADC tables). Layout: ``centroids``, ``grid`` (global per-dimension
    lo/step — the FAISS "IVF,SQ8" formulation; bucket-local grids would
    tighten steps but break the one-broadcast-weight-per-query identity),
    and ``codes`` partitioned by ``(batch, centroid_id)``. ``centroids`` is
    a frame or a ``similarity.resolve_centroids`` mode string."""
    cents = _publish_centroids(
        resolve_centroids(corpus, centroids, n_centroids, id_col, vec_col, seed), index_dir
    )
    lo, step = sq_train(corpus, dim=dim, vec_col=vec_col)
    _write_grid(spark, index_dir, lo, step)
    assigned = ivf_assign(corpus, cents, id_col=id_col, vec_col=vec_col)
    publish_batch(
        sq_encode(corpus, lo, step, id_col=id_col, vec_col=vec_col).join(assigned, id_col),
        f"{index_dir}/codes",
        batch,
        partition_by=["centroid_id"],
    )


def ivfsq_load(spark, index_dir: str):
    """(codes, centroids, lo, step) of a published IVF-SQ index."""
    return (
        read_resolved(spark, [f"{index_dir}/codes"]),
        read_resolved(spark, [f"{index_dir}/centroids"]),
        *_read_grid(spark, index_dir),
    )


def ivfsq_search(
    codes: DataFrame,
    centroids: DataFrame,
    lo: list[float],
    step: list[float],
    queries: DataFrame,
    corpus: DataFrame | None = None,
    nprobe: int = 4,
    k: int = 5,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k against a published IVF-SQ index: rank centroids per query
    (broadcast, metadata scale), SQ-score ONLY the probed buckets' codes —
    the probe join's centroid_id equality prunes the partitioned codes scan
    via DPP — shortlist ``refine*k``, exact cosine re-rank against
    full-precision ``corpus`` vectors. ``refine=0``/``corpus=None`` returns
    the raw quantized ranking (query_id, neighbor_id, approx_sim, rank)."""
    probes = _probe(queries, centroids, nprobe, id_col, vec_col).select(
        "query_id", "centroid_id", *_query_weights(_normalized(F.col("qv"), True), lo, step)
    )
    scored = _probed_candidates(codes, probes, id_col, "codes").withColumn(
        "approx_sim", _approx_sim()
    )
    if refine <= 0 or corpus is None:
        return _topk_per_query(scored, "approx_sim", k).withColumn(
            "approx_sim", F.round("approx_sim", 6)
        )
    shortlist = _topk_per_query(scored, "approx_sim", refine * k)
    return _rerank(shortlist, queries, corpus, k, id_col, vec_col)


def ivfsq_append(
    spark,
    index_dir: str,
    new_vectors: DataFrame,
    batch: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF-SQ maintenance: assign against the index's persisted
    centroids and encode against its persisted grid — one broadcast-assign +
    one map-encode pass over the increment; ``sources/sinks.write_batch``
    keeps replays idempotent. Both quantizers are frozen at publish; on
    distribution drift (bucket skew, saturating codes) rebuild and
    republish."""
    _, cents, lo, step = ivfsq_load(spark, index_dir)
    assigned = ivf_assign(new_vectors, cents, id_col=id_col, vec_col=vec_col)
    write_batch(
        sq_encode(new_vectors, lo, step, id_col=id_col, vec_col=vec_col).join(assigned, id_col),
        f"{index_dir}/codes",
        batch,
        partition_by=["centroid_id"],
    )
